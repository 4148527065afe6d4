"""Unit tests for operator families (SURVEY.md §5.2) with the §4.3 edge
cases: NULL timestamps, zero-match left joins, version ties, CDC key moves."""

from __future__ import annotations

from datetime import datetime

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from data_engineering_task_adtech_data_pipeline_spark.functions.compat import (
    ch_left_join,
    greatest_watermark,
    safe_div,
)
from data_engineering_task_adtech_data_pipeline_spark.operators.delta import (
    changed_keys,
)
from data_engineering_task_adtech_data_pipeline_spark.operators.upsert import (
    latest_version,
)

TS = datetime


def test_greatest_watermark_null_skipping(spark):
    df = spark.createDataFrame(
        [
            (TS(2024, 1, 1), TS(2024, 1, 5), None),
            (None, None, None),
            (None, TS(2024, 2, 1), TS(2024, 1, 1)),
        ],
        "a timestamp, b timestamp, c timestamp",
    )
    out = df.select(greatest_watermark("a", "b", "c").alias("wm")).collect()
    assert out[0].wm == TS(2024, 1, 5)  # NULLs skipped (Postgres GREATEST)
    assert out[1].wm is None  # all-NULL -> NULL
    assert out[2].wm == TS(2024, 2, 1)


def test_ch_left_join_zero_fill(spark):
    left = spark.createDataFrame([(1, "d1"), (2, "d2")], "k int, tag string")
    right = spark.createDataFrame(
        [(1, 10, 0.5, "x")], "k int, cnt int, ratio double, label string"
    )
    out = {r.k: r for r in ch_left_join(left, right, on=["k"]).collect()}
    assert (out[2].cnt, out[2].ratio, out[2].label) == (0, 0.0, "")  # CH defaults
    assert (out[1].cnt, out[1].ratio, out[1].label) == (10, 0.5, "x")


def test_safe_div_zero_guard(spark):
    df = spark.createDataFrame([(10.0, 2.0), (10.0, 0.0), (10.0, None)],
                               "n double, d double")
    out = df.select(safe_div(F.col("n"), F.col("d")).alias("q")).collect()
    assert [r.q for r in out] == [5.0, None, None]


def test_latest_version_ties_and_order(spark):
    df = spark.createDataFrame(
        [(1, TS(2024, 1, 1), 5), (1, TS(2024, 1, 2), 7),
         (2, TS(2024, 1, 1), 3), (2, TS(2024, 1, 1), 9)],
        "k int, v timestamp, payload int",
    )
    out = {r.k: r for r in
           latest_version(df, keys=["k"], version="v", tiebreak=["payload"]).collect()}
    assert out[1].payload == 7  # max version wins
    assert out[2].payload == 9  # tie on version -> tiebreak col desc


def test_changed_keys_new_moved_unchanged(spark):
    oltp = spark.createDataFrame(
        [(1, TS(2024, 1, 2)), (2, TS(2024, 1, 1)), (3, TS(2024, 1, 3))],
        "k int, rtm_delta timestamp",
    )
    olap = spark.createDataFrame(
        [(1, TS(2024, 1, 1)), (2, TS(2024, 1, 1))], "k int, rtm_delta timestamp"
    )
    got = {r.k for r in changed_keys(oltp, olap, keys=["k"]).collect()}
    assert got == {1, 3}  # 1 moved, 3 new, 2 unchanged


@pytest.mark.slow
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 10), st.integers(0, 100)),
        min_size=1, max_size=40,
    )
)
def test_latest_version_matches_python_oracle(spark, rows):
    """Property (SURVEY.md §5.4): latest_version == per-key max over
    (version, tiebreak, ...) computed in plain Python."""
    df = spark.createDataFrame(rows, "k int, v int, payload int")
    got = {
        r.k: (r.v, r.payload)
        for r in latest_version(df, keys=["k"], version="v",
                                tiebreak=["payload"]).collect()
    }
    expect: dict[int, tuple[int, int]] = {}
    for k, v, p in rows:
        if k not in expect or (v, p) > expect[k]:
            expect[k] = (v, p)
    assert got == expect


def test_compact_preserves_latest_versions(spark, tmp_path):
    from data_engineering_task_adtech_data_pipeline_spark.operators.upsert import (
        compact,
        latest_version,
        upsert_append,
    )

    path = str(tmp_path / "versioned")
    v1 = spark.createDataFrame([(1, 1, "a"), (2, 1, "b")], "k int, v int, payload string")
    v2 = spark.createDataFrame([(1, 2, "a2")], "k int, v int, payload string")
    upsert_append(v1, path)
    upsert_append(v2, path)
    assert spark.read.parquet(path).count() == 3
    compact(spark, path, keys=["k"], version="v")
    after = spark.read.parquet(path)
    assert after.count() == 2  # one row per key, max version kept
    got = {r.k: (r.v, r.payload) for r in after.collect()}
    assert got == {1: (2, "a2"), 2: (1, "b")}
    # compaction is idempotent and the dedup view is unchanged by it
    compact(spark, path, keys=["k"], version="v")
    assert latest_version(spark.read.parquet(path), ["k"], "v").count() == 2


def test_jdbc_roundtrip_partitioned_derby(spark, tmp_path):
    """Real JDBC round-trip against the embedded Derby that ships in Spark's
    jars — the closest in-sandbox stand-in for the reference's Postgres scans
    (track_delta.py:33-40): write, partitioned read (4 executor-side cursors
    instead of one), values intact."""
    from pyspark.sql import functions as F

    from data_engineering_task_adtech_data_pipeline_spark.sources.readers import (
        read_jdbc,
    )

    url = f"jdbc:derby:{tmp_path}/db;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    df = spark.range(100).select("id", (F.col("id") % 7).alias("x"))
    (
        df.write.format("jdbc")
        .option("url", url).option("dbtable", "t").option("driver", driver)
        .mode("overwrite").save()
    )
    back = read_jdbc(
        spark, url, "t", partition_column="id", num_partitions=4,
        lower_bound=0, upper_bound=100, driver=driver,
    )
    assert back.count() == 100
    assert back.rdd.getNumPartitions() == 4
    assert back.agg(F.sum("x")).first()[0] == df.agg(F.sum("x")).first()[0]


def test_ch_left_join_fill_overrides_and_broadcast(spark):
    left = spark.createDataFrame([(1,), (2,)], "k int")
    right = spark.createDataFrame([(1, 5, "x")], "k int, cnt int, tag string")
    out = {
        r.k: r
        for r in ch_left_join(
            left, right, on=["k"], fill={"cnt": -1}, broadcast_right=True
        ).collect()
    }
    assert (out[2].cnt, out[2].tag) == (-1, "")  # override + string default
    assert (out[1].cnt, out[1].tag) == (5, "x")


def test_csv_and_json_readers_roundtrip(spark, tmp_path):
    """read_csv / read_json honor the explicit schema (no inference) and
    round-trip values; malformed JSON lines land in _corrupt_record when
    the schema includes it."""
    import json

    from pyspark.sql import types as T

    from data_engineering_task_adtech_data_pipeline_spark.sources.readers import (
        read_csv,
        read_json,
    )

    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ])
    csv_path = str(tmp_path / "t.csv")
    with open(csv_path, "w") as f:
        f.write("id,name,score\n1,alpha,1.5\n2,beta,-2.0\n")
    got = {r.id: (r.name, r.score) for r in
           read_csv(spark, csv_path, schema).collect()}
    assert got == {1: ("alpha", 1.5), 2: ("beta", -2.0)}

    json_path = str(tmp_path / "t.jsonl")
    with open(json_path, "w") as f:
        f.write(json.dumps({"id": 1, "name": "alpha", "score": 1.5}) + "\n")
        f.write("{not valid json\n")
    jschema = schema.add("_corrupt_record", T.StringType())
    rows = read_json(spark, json_path, jschema).collect()
    ok = [r for r in rows if r._corrupt_record is None]
    bad = [r for r in rows if r._corrupt_record is not None]
    assert len(ok) == 1 and ok[0].id == 1 and ok[0].score == 1.5
    assert len(bad) == 1 and bad[0].id is None


def test_merge_upsert_matches_latest_version_view(spark, tmp_path):
    """MERGE semantics == append+latest_version semantics, without the
    read-time window: initial load + two delta merges land exactly the
    rows the dedup view over all appends would emit."""
    from data_engineering_task_adtech_data_pipeline_spark.operators.upsert import (
        latest_version,
        merge_upsert,
        read_merged,
    )

    path = str(tmp_path / "t")
    v1 = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 10), (3, "c", 10)], "k long, val string, ver long"
    )
    v2 = spark.createDataFrame(
        [(2, "B", 20), (4, "d", 20)], "k long, val string, ver long"
    )
    v3 = spark.createDataFrame(
        [(2, "old", 5), (5, "e", 30)], "k long, val string, ver long"
    )  # stale version for k=2 must NOT win
    merge_upsert(v1, path, keys=["k"], version="ver", num_buckets=4)
    merge_upsert(v2, path, keys=["k"], version="ver", num_buckets=4)
    merge_upsert(v3, path, keys=["k"], version="ver", num_buckets=4)

    want = sorted(
        map(
            tuple,
            latest_version(
                v1.unionByName(v2).unionByName(v3), ["k"], "ver"
            ).collect(),
        )
    )
    got = sorted(map(tuple, read_merged(spark, path).select("k", "val", "ver").collect()))
    assert got == want
    # the merged table is ALREADY deduped: one row per key, no window needed
    raw = spark.read.parquet(path)
    assert raw.count() == raw.select("k").distinct().count()


def test_merge_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    """Copy-on-write bound: a delta touching one key rewrites only that
    key's bucket partition — other bucket files are physically untouched."""
    from data_engineering_task_adtech_data_pipeline_spark.operators.upsert import (
        merge_upsert,
    )

    path = str(tmp_path / "t")
    base = spark.range(100).select(
        F.col("id").alias("k"),
        F.lit("x").alias("val"),
        F.lit(1).cast("long").alias("ver"),
    )
    merge_upsert(base, path, keys=["k"], version="ver", num_buckets=8)
    before = {f: __import__("os").path.getmtime(f.replace("file:", ""))
              for f in spark.read.parquet(path).inputFiles()}
    delta = spark.createDataFrame([(7, "y", 2)], "k long, val string, ver long")
    merge_upsert(delta, path, keys=["k"], version="ver", num_buckets=8)
    after_files = set(spark.read.parquet(path).inputFiles())
    untouched = [f for f in before if f in after_files]
    # at least the 7 un-touched buckets' files survive byte-identical paths
    assert len(untouched) >= 7


def test_merge_upsert_replay_after_partial_swap(spark, tmp_path):
    """Crash contract: a merge that dies mid-swap (some buckets replaced,
    some not, staging left behind) recovers by REPLAYING the same merge —
    latest_version over (mixed target ∪ source) is idempotent."""
    import shutil

    from data_engineering_task_adtech_data_pipeline_spark.operators.upsert import (
        merge_upsert,
        read_merged,
    )

    path = str(tmp_path / "t")
    base = spark.range(50).select(
        F.col("id").alias("k"),
        F.lit("x").alias("val"),
        F.lit(1).cast("long").alias("ver"),
    )
    merge_upsert(base, path, keys=["k"], version="ver", num_buckets=4)
    delta = spark.createDataFrame(
        [(1, "new", 2), (2, "new", 2), (3, "new", 2), (60, "ins", 2)],
        "k long, val string, ver long",
    )
    # simulate the crash: run the real merge, then REVERT one bucket dir to
    # its pre-merge content and leave a stale staging dir behind
    pre = str(tmp_path / "pre")
    shutil.copytree(path, pre)
    merge_upsert(delta, path, keys=["k"], version="ver", num_buckets=4)
    reverted = None
    for b in range(4):
        d = f"{path}/merge_bucket={b}"
        p = f"{pre}/merge_bucket={b}"
        if __import__("os").path.isdir(p):
            shutil.rmtree(d)
            shutil.copytree(p, d)
            reverted = b
            break
    assert reverted is not None
    shutil.copytree(pre, path.rstrip("/") + "__merge_tmp", dirs_exist_ok=True)

    merge_upsert(delta, path, keys=["k"], version="ver", num_buckets=4)  # replay
    got = {r.k: (r.val, r.ver) for r in read_merged(spark, path).collect()}
    assert got[60] == ("ins", 2)
    for k in (1, 2, 3):
        assert got[k] == ("new", 2)
    assert len(got) == 51  # 50 base keys + 1 insert, no duplicates


def test_merge_upsert_refuses_config_mismatch(spark, tmp_path):
    from data_engineering_task_adtech_data_pipeline_spark.operators.upsert import (
        merge_upsert,
    )

    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, 1)], "k long, ver long")
    merge_upsert(df, path, keys=["k"], version="ver", num_buckets=4)
    with pytest.raises(ValueError, match="config mismatch"):
        merge_upsert(df, path, keys=["k"], version="ver", num_buckets=8)


def test_merge_upsert_delta_arm_contract(spark, tmp_path, monkeypatch):
    """r9 VERDICT #4 — the env-gated Delta Lake MERGE arm gets an offline
    test double pinning the public DeltaTable call contract, so it is no
    longer an untested production branch. Pins: (a) initial load routes
    the WITHIN-BATCH-DEDUPED source through write.format('delta').save;
    (b) the merge path is forPath → alias('t') → merge(s, equi-cond) →
    whenMatchedUpdateAll(version guard) → whenNotMatchedInsertAll →
    execute, in that order; (c) the source handed to merge() is deduped
    to one max-version row per key (Delta MERGE throws on duplicate
    source matches — the same dup-key bug the parquet arm's property
    test caught)."""
    import sys
    import types

    from pyspark.sql.readwriter import DataFrameWriter

    from data_engineering_task_adtech_data_pipeline_spark.operators.upsert import (
        merge_upsert,
    )

    calls = []

    class FakeMergeBuilder:
        def withSchemaEvolution(self):
            calls.append(("withSchemaEvolution",))
            return self

        def whenMatchedUpdateAll(self, condition=None):
            calls.append(("whenMatchedUpdateAll", condition))
            return self

        def whenMatchedDelete(self):
            calls.append(("whenMatchedDelete",))
            return self

        def whenNotMatchedInsertAll(self):
            calls.append(("whenNotMatchedInsertAll",))
            return self

        def execute(self):
            calls.append(("execute",))

    class FakeDeltaTable:
        exists = False  # toggled per scenario

        @staticmethod
        def isDeltaTable(s, path):
            calls.append(("isDeltaTable", path))
            return FakeDeltaTable.exists

        @classmethod
        def forPath(cls, s, path):
            calls.append(("forPath", path))
            return cls()

        def alias(self, a):
            calls.append(("alias", a))
            return self

        def merge(self, src, cond):
            calls.append(
                ("merge", cond, sorted(map(tuple, src.collect())))
            )
            return FakeMergeBuilder()

    pkg = types.ModuleType("delta")
    mod = types.ModuleType("delta.tables")
    mod.DeltaTable = FakeDeltaTable
    pkg.tables = mod
    monkeypatch.setitem(sys.modules, "delta", pkg)
    monkeypatch.setitem(sys.modules, "delta.tables", mod)
    # intercept the initial-load writer chain (no delta datasource here)
    monkeypatch.setattr(
        DataFrameWriter, "format",
        lambda self, fmt: calls.append(("write.format", fmt)) or self,
    )
    monkeypatch.setattr(
        DataFrameWriter, "save",
        lambda self, path=None: calls.append(("write.save", path)),
    )

    # k=2 is duplicated in-batch: ver 20 must win everywhere below
    src = spark.createDataFrame(
        [(1, "a", 10), (2, "stale", 5), (2, "B", 20)],
        "k long, val string, ver long",
    )
    deduped = [(1, "a", 10), (2, "B", 20)]

    # scenario 1: not yet a delta table -> deduped initial load
    path = str(tmp_path / "d")
    merge_upsert(src, path, keys=["k"], version="ver", table_format="delta")
    assert calls[0] == ("isDeltaTable", path)
    assert calls[1] == ("write.format", "delta")
    assert calls[2] == ("write.save", path)
    assert len(calls) == 3

    # scenario 2: existing table -> the full MERGE builder sequence
    calls.clear()
    FakeDeltaTable.exists = True
    merge_upsert(src, path, keys=["k"], version="ver", table_format="delta")
    ops = [c[0] for c in calls]
    assert ops == [
        "isDeltaTable", "forPath", "alias", "merge", "withSchemaEvolution",
        "whenMatchedUpdateAll", "whenNotMatchedInsertAll", "execute",
    ]
    assert calls[1] == ("forPath", path)
    assert calls[2] == ("alias", "t")
    merge_call = calls[3]
    assert merge_call[1] == "t.k = s.k"
    assert merge_call[2] == deduped  # within-batch dedup reached the MERGE
    # no tiebreak: null-safe strict-win arm + null-safe equality (r10
    # ADVICE: matches the parquet arm's desc-NULLS-LAST window exactly,
    # including batches with NULL versions)
    assert calls[5] == (
        "whenMatchedUpdateAll",
        "(s.ver > t.ver OR (s.ver IS NOT NULL AND t.ver IS NULL)) "
        "OR (s.ver <=> t.ver)",
    )

    # scenario 3: with a tiebreak the update condition must be the FULL
    # lexicographic expansion of latest_version's ordering — a bare
    # version >= let the source win exact-version ties the parquet arm's
    # (version desc, tiebreak desc) window would give to the target
    calls.clear()
    merge_upsert(
        src, path, keys=["k"], version="ver", tiebreak=["val"],
        table_format="delta",
    )
    assert calls[5] == (
        "whenMatchedUpdateAll",
        "(s.ver > t.ver OR (s.ver IS NOT NULL AND t.ver IS NULL)) "
        "OR (s.ver <=> t.ver AND "
        "(s.val > t.val OR (s.val IS NOT NULL AND t.val IS NULL))) "
        "OR (s.ver <=> t.ver AND s.val <=> t.val)",
    )

    # scenario 4 (round 14, r13 VERDICT #6): the tombstone path —
    # merge_delete routes distinct keys through whenMatchedDelete, no
    # update/insert clause anywhere in the chain
    from data_engineering_task_adtech_data_pipeline_spark.operators.upsert import (
        merge_delete,
    )

    calls.clear()
    dead = spark.createDataFrame([(2, "x", 0), (2, "y", 1)],
                                 "k long, val string, ver long")
    merge_delete(dead, path, keys=["k"], table_format="delta")
    ops = [c[0] for c in calls]
    assert ops == ["forPath", "alias", "merge", "whenMatchedDelete",
                   "execute"]
    assert calls[2][1] == "t.k = s.k"
    assert calls[2][2] == [(2,)]  # distinct key projection reached MERGE


def test_orc_round_trip_with_pushdown(spark, tmp_path):
    """ORC source/sink: typed round-trip preserves values and schema, and
    a filter on the read reaches the ORC scan as a pushed predicate (same
    contract the parquet path asserts)."""
    from data_engineering_task_adtech_data_pipeline_spark.sources.readers import (
        read_orc,
        write_orc,
    )

    df = spark.range(100).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).cast("int").alias("grp"),
        (F.col("id") * 1.5).alias("v"),
    )
    path = str(tmp_path / "t.orc")
    write_orc(df, path)
    back = read_orc(spark, path)
    # ORC stores everything nullable; names/types must round-trip exactly
    assert [(f.name, f.dataType) for f in back.schema] == [
        (f.name, f.dataType) for f in df.schema
    ]
    assert back.count() == 100
    got = read_orc(spark, path).where(F.col("k") >= 90)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(k), GreaterThanOrEqual(k,90" in plan
    assert got.count() == 10


def test_scd2_history_hand_example(spark):
    """Status log A,A,B,A per key collapses to 3 intervals with correct
    valid_from/valid_to chaining (NULL = current); same-day changes stay
    deterministic via the tiebreak; a second key is independent."""
    from data_engineering_task_adtech_data_pipeline_spark.operators.delta import (
        scd2_history,
    )

    src = spark.createDataFrame(
        [
            (1, 101, "2024-01-01", "A"),
            (1, 102, "2024-01-02", "A"),   # unchanged -> collapsed
            (1, 103, "2024-01-03", "B"),
            (1, 104, "2024-01-05", "A"),
            (2, 201, "2024-02-01", "X"),
        ],
        "k long, oid long, ts string, status string",
    ).withColumn("ts", F.col("ts").cast("date"))
    out = scd2_history(
        src, keys=["k"], order_col="ts", attr_cols=["status"],
        tiebreak=["oid"],
    )
    rows = sorted(
        (r.k, r.status, str(r.valid_from), str(r.valid_to) if r.valid_to else None)
        for r in out.collect()
    )
    assert rows == [
        (1, "A", "2024-01-01", "2024-01-03"),
        (1, "A", "2024-01-05", None),
        (1, "B", "2024-01-03", "2024-01-05"),
        (2, "X", "2024-02-01", None),
    ]


def test_write_fence_two_writers_and_generation(spark, tmp_path):
    """r6 VERDICT #4: a second concurrent writer must fail LOUDLY before
    touching data (the reference hands single-writer enforcement to
    ClickHouse's merge thread; our parquet tables now fence with an
    atomic sidecar lock). Also: the _write_generation marker is monotone
    across append / merge / compact, and break_lock recovers a crashed
    writer's lock."""
    import pytest

    from data_engineering_task_adtech_data_pipeline_spark import fs
    from data_engineering_task_adtech_data_pipeline_spark.operators.upsert import (
        ConcurrentWriteError,
        _lock_path,
        break_lock,
        compact,
        merge_upsert,
        read_merged,
        table_generation,
        upsert_append,
    )

    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, 1, "a"), (2, 1, "b")],
                               "k long, ver long, v string")
    merge_upsert(df, path, keys=["k"], version="ver", num_buckets=4)
    assert table_generation(spark, path) == 1

    # simulate a concurrent writer holding the lock mid-merge
    assert fs.create_exclusive(spark, _lock_path(path), "other-writer pid=0")
    v2 = spark.createDataFrame([(1, 2, "a2")], "k long, ver long, v string")
    with pytest.raises(ConcurrentWriteError, match="another writer"):
        merge_upsert(v2, path, keys=["k"], version="ver", num_buckets=4)
    # the refused write touched nothing
    assert sorted((r.k, r.ver) for r in read_merged(spark, path).collect()) \
        == [(1, 1), (2, 1)]

    # crashed-writer recovery: break the stale lock, replay succeeds
    assert break_lock(spark, path)
    merge_upsert(v2, path, keys=["k"], version="ver", num_buckets=4)
    assert sorted((r.k, r.ver) for r in read_merged(spark, path).collect()) \
        == [(1, 2), (2, 1)]
    assert table_generation(spark, path) == 2

    # append + compact are fenced too, and the generation survives
    # compact's whole-dir swap
    apath = str(tmp_path / "a")
    upsert_append(df, apath)
    assert table_generation(spark, apath) == 1
    assert fs.create_exclusive(spark, _lock_path(apath), "other pid=0")
    with pytest.raises(ConcurrentWriteError):
        upsert_append(df, apath)
    with pytest.raises(ConcurrentWriteError):
        compact(spark, apath, keys=["k"], version="ver")
    break_lock(spark, apath)
    upsert_append(v2, apath)
    compact(spark, apath, keys=["k"], version="ver")
    assert table_generation(spark, apath) == 3
    assert sorted((r.k, r.ver) for r in
                  spark.read.parquet(apath).collect()) == [(1, 2), (2, 1)]
    # a failed (refused) write must not leave its own lock behind
    assert not fs.exists(spark, _lock_path(apath))


def test_triangle_count_known_graphs(spark):
    """K4 has 4 triangles, every node in 3; a 4-cycle has none; duplicate
    and reversed edges and self-loops must not change counts."""
    from data_engineering_task_adtech_data_pipeline_spark.operators.graph import triangle_count

    k4 = [(a, b) for a in "pqrs" for b in "pqrs" if a < b]
    noisy = k4 + [("q", "p"), ("p", "p"), ("r", "q")]  # reversed/self/dup
    edges = spark.createDataFrame(noisy, "src string, dst string")
    out = {r.node: r.n_triangles for r in triangle_count(edges).collect()}
    assert out == {"p": 3, "q": 3, "r": 3, "s": 3}

    square = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")],
        "src string, dst string",
    )
    assert triangle_count(square).count() == 0


def test_hist_sketch_merge_and_quantile(spark):
    """Merging two partial histogram sketches equals sketching the union
    (exact counter addition), the median of 1..100 over [0,100)/10 bins
    interpolates inside bin 5, and out-of-range values clamp to edge
    bins."""
    from data_engineering_task_adtech_data_pipeline_spark.operators import sketch
    from pyspark.sql import functions as F

    a = spark.range(1, 51).select(F.col("id").cast("double").alias("v"))
    b = spark.range(51, 101).select(F.col("id").cast("double").alias("v"))
    sa = sketch.hist_sketch(a, "v", lo=0.0, hi=100.0, n_bins=10)
    sb = sketch.hist_sketch(b, "v", lo=0.0, hi=100.0, n_bins=10)
    merged = sketch.hist_merge([sa, sb])
    union = sketch.hist_sketch(
        a.unionByName(b), "v", lo=0.0, hi=100.0, n_bins=10
    )
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, union.collect())
    )
    # bins 0..9; bin 5 holds 50..59 (10 values); cum below = 49 (1..49);
    # target 0.5*100 = 50 -> frac = (50-49)/10 -> est = (5 + 0.1)*10 = 51
    q = {r.q: r.quantile_est for r in sketch.hist_quantile(
        merged, [0.5], lo=0.0, hi=100.0, n_bins=10
    ).collect()}
    assert q[0.5] == pytest.approx(51.0, abs=1e-9)

    clamp = sketch.hist_sketch(
        spark.createDataFrame([(-5.0,), (500.0,)], "v double"),
        "v", lo=0.0, hi=100.0, n_bins=10,
    )
    assert {r.bin for r in clamp.collect()} == {0, 9}


@pytest.mark.slow
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7)),
        min_size=1, max_size=25,
    )
)
def test_triangle_count_matches_brute_force(spark, edges):
    """Property: degree-ordered triangle counting == brute-force
    enumeration of all vertex triples on small random (multi/self-loop)
    graphs."""
    from itertools import combinations

    from data_engineering_task_adtech_data_pipeline_spark.operators.graph import (
        triangle_count,
    )

    df = spark.createDataFrame(
        [(str(a), str(b)) for a, b in edges], "src string, dst string"
    )
    got = {r.node: r.n_triangles for r in triangle_count(df).collect()}

    und = {frozenset((a, b)) for a, b in edges if a != b}
    adj: dict[int, set[int]] = {}
    for e in und:
        a, b = tuple(e)
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    expect: dict[str, int] = {}
    for x, y, z in combinations(sorted(adj), 3):
        if y in adj[x] and z in adj[x] and z in adj[y]:
            for n in (x, y, z):
                expect[str(n)] = expect.get(str(n), 0) + 1
    assert got == expect


@pytest.mark.slow
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abc"), min_size=1, max_size=12),
        min_size=1, max_size=8,
    ),
    phrase=st.lists(st.sampled_from("abc"), min_size=1, max_size=3),
)
def test_phrase_search_matches_python_scan(spark, docs, phrase):
    """Property: anchor-vote phrase matching == a naive Python sliding
    window over the word lists (overlaps and repeated terms included)."""
    from data_engineering_task_adtech_data_pipeline_spark.operators.text import (
        phrase_search,
    )

    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)],
        "doc_id long, text string",
    )
    qs = spark.createDataFrame(
        [(1, " ".join(phrase))], "query_id int, phrase string"
    )
    got = {
        r.id: (r.n_occurrences, r.first_pos)
        for r in phrase_search(df, qs).collect()
    }
    expect = {}
    k = len(phrase)
    for i, ws in enumerate(docs):
        hits = [p for p in range(len(ws) - k + 1) if ws[p : p + k] == phrase]
        if hits:
            expect[i] = (len(hits), hits[0])
    assert got == expect


@pytest.mark.slow
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    vals=st.lists(st.floats(0.0, 99.999), min_size=1, max_size=60),
)
def test_hist_quantile_within_one_bin_width(spark, vals):
    """Property: every histogram-sketch quantile estimate lies within one
    bin width of the exact empirical quantile."""
    from data_engineering_task_adtech_data_pipeline_spark.operators import sketch

    lo, hi, n_bins = 0.0, 100.0, 10
    width = (hi - lo) / n_bins
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    h = sketch.hist_sketch(df, "v", lo=lo, hi=hi, n_bins=n_bins)
    got = {r.q: r.quantile_est for r in sketch.hist_quantile(
        h, [0.25, 0.5, 0.9], lo=lo, hi=hi, n_bins=n_bins
    ).collect()}
    xs = sorted(vals)
    for q, est in got.items():
        # exact q-quantile lies inside the hit bin too: compare against
        # the ceil(q*n)-th order statistic
        import math
        exact = xs[max(0, math.ceil(q * len(xs)) - 1)]
        assert abs(est - exact) <= width + 1e-9


def test_write_fence_dead_holder_self_recovers(spark, tmp_path):
    """r7 VERDICT #8: a lock left by a CRASHED same-host writer must not
    require manual break_lock — the fence probes the holder PID's
    liveness and reclaims the lock itself; a LIVE same-host holder still
    refuses loudly."""
    import os
    import socket
    import subprocess
    import sys

    import pytest

    from data_engineering_task_adtech_data_pipeline_spark import fs
    from data_engineering_task_adtech_data_pipeline_spark.operators.upsert import (
        ConcurrentWriteError,
        _lock_path,
        merge_upsert,
        read_merged,
        table_generation,
    )

    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, 1, "a"), (2, 1, "b")],
                               "k long, ver long, v string")
    merge_upsert(df, path, keys=["k"], version="ver", num_buckets=4)

    # a writer that crashed mid-merge: its PID is gone
    dead_pid = int(subprocess.run(
        [sys.executable, "-c", "import os; print(os.getpid())"],
        capture_output=True, text=True, check=True,
    ).stdout.strip())
    host = socket.gethostname()
    assert fs.create_exclusive(
        spark, _lock_path(path),
        f"merge_upsert pid={dead_pid} host={host} t=0 id=deadbeef",
    )
    v2 = spark.createDataFrame([(1, 2, "a2")], "k long, ver long, v string")
    merge_upsert(v2, path, keys=["k"], version="ver", num_buckets=4)  # no break_lock
    assert sorted((r.k, r.ver) for r in read_merged(spark, path).collect()) \
        == [(1, 2), (2, 1)]
    assert table_generation(spark, path) == 2
    # the dead holder's lock became a tombstone; the fence's own lock is gone
    assert fs.exists(spark, _lock_path(path) + ".stale.deadbeef")
    assert not fs.exists(spark, _lock_path(path))

    # a LIVE same-host holder still refuses (this process is the holder)
    assert fs.create_exclusive(
        spark, _lock_path(path),
        f"merge_upsert pid={os.getpid()} host={host} t=0 id=cafecafe",
    )
    with pytest.raises(ConcurrentWriteError, match="another writer"):
        merge_upsert(v2, path, keys=["k"], version="ver", num_buckets=4)


def test_hist_quantile_rejects_out_of_range_qs(spark):
    """ADVICE r7: q=0 can never satisfy the hit predicate (no bin has
    cumulative-below < 0), so it used to vanish silently from the output;
    the operator now rejects qs outside (0, 1] loudly."""
    import pytest

    from data_engineering_task_adtech_data_pipeline_spark.operators import sketch

    sk = sketch.hist_sketch(
        spark.createDataFrame([(1.0,), (2.0,)], "v double"),
        "v", lo=0.0, hi=10.0, n_bins=10,
    )
    for bad in ([0.0], [1.5], [-0.1], [0.5, 0.0]):
        with pytest.raises(ValueError, match="quantiles must be in"):
            sketch.hist_quantile(sk, bad, lo=0.0, hi=10.0, n_bins=10)
    assert sketch.hist_quantile(
        sk, [1.0], lo=0.0, hi=10.0, n_bins=10
    ).count() == 1


def test_stratified_exact_split_counts_and_determinism(spark):
    import math

    from data_engineering_task_adtech_data_pipeline_spark.operators import (
        sampling,
    )

    rows = [(i, f"s{i % 3}") for i in range(700)]
    df = spark.createDataFrame(rows, "id long, st string")
    for frac in (0.1, 0.5, 1.0):
        out = sampling.stratified_exact_split(
            df, frac, "st", ["id"], method="md5"
        )
        got = {
            (r.st, r.split): r["count"]
            for r in out.groupBy("st", "split").count().collect()
        }
        for st in ("s0", "s1", "s2"):
            n = sum(v for (s, _), v in got.items() if s == st)
            want = math.ceil(frac * n)
            assert got.get((st, "sample"), 0) == want, (frac, st, got)
    # partitioning-invariant membership (not just counts)
    a = sampling.stratified_exact_split(df, 0.25, "st", ["id"], method="md5")
    b = sampling.stratified_exact_split(
        df.repartition(13), 0.25, "st", ["id"], method="md5"
    )
    assert sorted((r.id, r.split) for r in a.collect()) == sorted(
        (r.id, r.split) for r in b.collect()
    )
    # xxhash64 arm: exact counts hold there too
    c = sampling.stratified_exact_split(df, 0.25, "st", ["id"])
    got = {
        (r.st, r.split): r["count"]
        for r in c.groupBy("st", "split").count().collect()
    }
    for st, n in (("s0", 234), ("s1", 233), ("s2", 233)):
        assert got.get((st, "sample"), 0) == math.ceil(0.25 * n)


def test_record_link_pairs_blocking_and_caps(spark):
    from data_engineering_task_adtech_data_pipeline_spark.operators import (
        dedup,
    )

    rows = [
        (1, "jon smith", "nyc"),
        (2, "john smith", "nyc"),   # lev 1 from jon smith
        (3, "jon smith", "sfo"),    # same name, different block: no pair
        (4, "mary jones", "nyc"),   # lev > 1 from the smiths
        (5, "jon smith", "nyc"),    # exact dup of 1 (lev 0)
    ]
    df = spark.createDataFrame(rows, "id long, name string, city string")
    out = dedup.record_link_pairs(df, "id", "name", ["city"], max_edit=1)
    pairs = {(r.id_a, r.id_b, r.edit_dist) for r in out.collect()}
    assert pairs == {(1, 2, 1), (1, 5, 0), (2, 5, 1)}
    # hot-block ceiling: a block larger than max_block emits NO pairs
    hot = spark.createDataFrame(
        [(i, f"name{i}", "same") for i in range(50)],
        "id long, name string, city string",
    )
    capped = dedup.record_link_pairs(
        hot, "id", "name", ["city"], max_edit=10, max_block=16
    )
    assert capped.count() == 0


def test_hot_key_split_join_equals_plain_join(spark):
    from data_engineering_task_adtech_data_pipeline_spark.functions.skew import (
        hot_key_split_join,
    )

    # key 7 is hot (500 rows), others have 2 each; key 99 has no dim row
    fact = spark.createDataFrame(
        [(7, i) for i in range(500)]
        + [(k, i) for k in (1, 2, 3, 99) for i in range(2)],
        "k long, v long",
    )
    dim = spark.createDataFrame(
        [(7, "hot"), (1, "a"), (2, "b"), (3, "c"), (4, "unused")],
        "dk long, label string",
    )
    for how in ("inner", "left"):
        split = hot_key_split_join(
            fact, dim, "k", "dk", hot_threshold=100, how=how
        )
        plain = fact.join(
            dim, F.col("k") == F.col("dk"), how
        )
        assert sorted(map(tuple, split.collect())) == sorted(
            map(tuple, plain.collect())
        ), how
    import pytest

    with pytest.raises(ValueError, match="distinct column names"):
        hot_key_split_join(fact, fact, "k", "k")


def test_hot_key_split_join_precomputed_census(spark):
    """A precomputed hot_keys frame (from hot_key_census) must produce the
    identical join — and skip the in-call census, so repeated joins of
    the same fact scan it twice, not three times (r8 review)."""
    import pytest

    from data_engineering_task_adtech_data_pipeline_spark.functions.skew import (
        hot_key_census,
        hot_key_split_join,
    )

    fact = spark.createDataFrame(
        [(7, i) for i in range(500)]
        + [(k, i) for k in (1, 2, 99) for i in range(2)],
        "k long, v long",
    )
    dim = spark.createDataFrame(
        [(7, "hot"), (1, "a"), (2, "b")], "dk long, label string"
    )
    census = hot_key_census(fact, "k", hot_threshold=100)
    assert [r.k for r in census.collect()] == [7]
    plain = fact.join(dim, F.col("k") == F.col("dk"), "left")
    for hk in (census, None):
        split = hot_key_split_join(
            fact, dim, "k", "dk", hot_threshold=100, how="left", hot_keys=hk
        )
        assert sorted(map(tuple, split.collect())) == sorted(
            map(tuple, plain.collect())
        )
    with pytest.raises(ValueError, match="single-column"):
        hot_key_split_join(fact, dim, "k", "dk", hot_keys=fact)


def test_stratified_exact_split_null_stratum(spark):
    """NULL stratum forms its OWN stratum (null-safe joins): every input
    row keeps a split label, and the NULL stratum gets exactly
    ceil(frac * n_null) sample rows (r8 advice: rows used to vanish)."""
    import math

    from data_engineering_task_adtech_data_pipeline_spark.operators import (
        sampling,
    )

    rows = [(i, f"s{i % 2}" if i % 5 else None) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, st string")
    n_null = sum(1 for _, s in rows if s is None)
    for method in ("md5", "xxhash64"):
        out = sampling.stratified_exact_split(
            df, 0.3, "st", ["id"], method=method
        )
        assert out.count() == 200  # no row vanishes
        got = {
            (r.st, r.split): r["count"]
            for r in out.groupBy("st", "split").count().collect()
        }
        assert (
            got.get((None, "sample"), 0) == math.ceil(0.3 * n_null)
        ), got


def test_write_zordered_clusters_both_columns(spark, tmp_path):
    """Z-order layout quality: per-file min/max envelopes on BOTH curve
    columns must be far tighter than the global range — that envelope IS
    what parquet file skipping prunes with. An unclustered (random
    round-robin) write of the same data has ~full-range envelopes on
    every file, so a per-file mean span well under half the global range
    on EACH column proves the interleaving works (one column clustered
    at the other's expense would show one tight + one full-range axis)."""
    import glob

    from data_engineering_task_adtech_data_pipeline_spark import catalog

    n = 40_000
    df = spark.range(n).select(
        (F.col("id") % 200).alias("x"),
        F.floor(F.col("id") / 200).alias("y"),
        F.col("id").alias("payload"),
    )
    path = str(tmp_path / "zt")
    catalog.write_zordered(df, path, ["x", "y"], n_files=16)
    files = glob.glob(path + "/part-*.parquet")
    assert len(files) >= 8
    import pyarrow.parquet as pq

    spans = {"x": [], "y": []}
    for f in files:
        md = pq.read_metadata(f)
        lo = {"x": None, "y": None}
        hi = {"x": None, "y": None}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                c = g.column(ci)
                nm = c.path_in_schema
                if nm in spans and c.statistics is not None:
                    s = c.statistics
                    lo[nm] = s.min if lo[nm] is None else min(lo[nm], s.min)
                    hi[nm] = s.max if hi[nm] is None else max(hi[nm], s.max)
        for nm in spans:
            assert lo[nm] is not None
            spans[nm].append(hi[nm] - lo[nm])
    # global ranges: x spans 200, y spans 200
    for nm, glob_span in (("x", 200), ("y", 200)):
        mean_span = sum(spans[nm]) / len(spans[nm])
        assert mean_span < 0.5 * glob_span, (nm, mean_span, spans[nm])
    # and the write is complete + readable
    assert spark.read.parquet(path).count() == n


def test_zorder_value_is_deterministic_and_bounded(spark):
    from data_engineering_task_adtech_data_pipeline_spark import catalog

    df = spark.range(1000).select(
        (F.col("id") % 32).alias("a"), (F.col("id") % 57).alias("b")
    )
    z = catalog.zorder_value(["a", "b"], [0, 0], [31, 56], bits_per_col=8)
    vals = [r.z for r in df.select(z.alias("z")).collect()]
    assert all(0 <= v < (1 << 16) for v in vals)
    vals2 = [
        r.z for r in df.repartition(7).select(z.alias("z")).collect()
    ]
    assert sorted(vals) == sorted(vals2)
    import pytest

    with pytest.raises(ValueError, match=">= 2 columns"):
        catalog.zorder_value(["a"], [0], [31])


def test_claim_stale_lock_refuses_changed_token(spark, tmp_path):
    """The reclaim must be id-verified (review r8): if the lock's current
    token no longer carries the id that was judged dead — i.e. another
    recoverer already reclaimed and a LIVE writer re-acquired — the
    claim is a no-op and the live lock survives."""
    from data_engineering_task_adtech_data_pipeline_spark import fs
    from data_engineering_task_adtech_data_pipeline_spark.operators.upsert import (
        _claim_stale_lock,
    )

    lock = str(tmp_path / "t" / "_writer.lock")
    assert fs.create_exclusive(
        spark, lock, "merge pid=1 host=x t=0 id=livelive"
    )
    # judged-dead id 'deadbeef' no longer matches the current holder
    _claim_stale_lock(spark, lock, "deadbeef")
    assert fs.exists(spark, lock)  # live lock untouched
    assert not fs.exists(spark, lock + ".stale.deadbeef")
    assert "livelive" in fs.read_text(spark, lock)


def test_kmv_xxhash64_scale_and_null_values(spark):
    """Estimates must use the METHOD's hash-space scale (2^63 for
    xxhash64, not md5's 2^60 — a mismatch is silently ~8x off), and NULL
    values must not occupy sketch slots (COUNT DISTINCT semantics)."""
    from data_engineering_task_adtech_data_pipeline_spark.operators import sketch

    df = spark.range(4_000).select(
        F.lit("g").alias("g"), F.concat(F.lit("v"), F.col("id")).alias("v")
    )
    k = 256
    sk = sketch.kmv_sketch(df, "v", ["g"], k=k, method="xxhash64")
    est = sketch.kmv_estimate(sk, ["g"], k=k, method="xxhash64").collect()[0]
    assert abs(est.est_distinct - 4_000) / 4_000 < 0.3, est
    # NULLs: a group of 10 real values + NULLs sketches exactly 10
    rows = [("a", str(i)) for i in range(10)] + [("a", None)] * 5
    dfn = spark.createDataFrame(rows, "g string, v string")
    skn = sketch.kmv_sketch(dfn, "v", ["g"], k=64)
    assert skn.count() == 10
    e = sketch.kmv_estimate(skn, ["g"], k=64).collect()[0]
    assert e.est_distinct == 10.0


def test_jdbc_contract_double(spark, tmp_path):
    """r13 VERDICT #5: without a live Postgres, pin the GENERATED reader
    configuration so the documented production recipe cannot drift.
    Pure contract on jdbc_scan_options (option map exact, fetchsize
    default + override, bounds required for partitioned scans), plus the
    derivable pieces against embedded Derby: derive_jdbc_bounds probes
    real MIN/MAX, read_jdbc without bounds stripes on them with no empty
    partitions, and cdc_extract_table's subquery pushdown returns
    exactly the rows past the watermark."""
    import pytest
    from pyspark.sql import functions as F

    from data_engineering_task_adtech_data_pipeline_spark.sources.readers import (
        cdc_extract_table,
        derive_jdbc_bounds,
        jdbc_scan_options,
        read_jdbc,
    )

    # --- pure contract: the exact option map -----------------------------
    opts = jdbc_scan_options(
        "jdbc:postgresql://h:5432/db", "impressions",
        partition_column="id", num_partitions=32,
        lower_bound=17, upper_bound=9000,
        user="u", password="p",
    )
    assert opts == {
        "url": "jdbc:postgresql://h:5432/db",
        "dbtable": "impressions",
        "pushDownPredicate": "true",
        "pushDownAggregate": "true",
        "fetchsize": "10000",
        "partitionColumn": "id",
        "numPartitions": "32",
        "lowerBound": "17",
        "upperBound": "9000",
        "user": "u",
        "password": "p",
    }
    # caller's fetchsize wins over the default
    assert jdbc_scan_options("u", "t", fetchsize="500")["fetchsize"] == "500"
    # partitioned scan without bounds refuses (the old silent 0..2^31
    # value-space defaults produced empty-stripe skew)
    with pytest.raises(ValueError, match="bounds"):
        jdbc_scan_options("u", "t", partition_column="id")
    # CDC extract shape: index-scannable subquery alias
    assert cdc_extract_table(
        "events", "updated_at", "TIMESTAMP '2024-01-20 00:00:00'"
    ) == (
        "(SELECT * FROM events WHERE updated_at > "
        "TIMESTAMP '2024-01-20 00:00:00') cdc_extract"
    )

    # --- live pieces against embedded Derby -------------------------------
    url = f"jdbc:derby:{tmp_path}/db;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    df = spark.range(40, 140).select(
        "id", (F.col("id") % 7).alias("x")
    )
    (
        df.write.format("jdbc")
        .option("url", url).option("dbtable", "t").option("driver", driver)
        .mode("overwrite").save()
    )
    assert derive_jdbc_bounds(spark, url, "t", "id", driver=driver) == (40, 139)
    back = read_jdbc(
        spark, url, "t", partition_column="id", num_partitions=4,
        driver=driver,  # no bounds: derived from the probe
    )
    assert back.count() == 100
    per_part = (
        back.withColumn("__p", F.spark_partition_id())
        .groupBy("__p").count().collect()
    )
    assert len(per_part) == 4  # derived bounds -> every stripe non-empty
    assert all(r["count"] > 0 for r in per_part)
    # CDC extract through Derby: only rows past the watermark come back
    # (column passed pre-quoted — the helper pins the shape, the caller
    # owns dialect/quoting of the pieces, per its docstring)
    cdc = read_jdbc(
        spark, url, cdc_extract_table("t", '"id"', "129"), driver=driver
    )
    assert sorted(r.id for r in cdc.collect()) == list(range(130, 140))


def test_merge_delete_and_schema_evolution_parquet(spark, tmp_path):
    """The parquet arms of the round-14 lakehouse surface: merge_delete
    removes exactly the keyed rows (touched buckets only, empty buckets
    dropped, replay idempotent), and a WIDENING source evolves the table
    schema (old rows read the new column as NULL via mergeSchema) while
    a NARROWING source refuses."""
    import pytest
    from pyspark.sql import functions as F

    from data_engineering_task_adtech_data_pipeline_spark.operators.upsert import (
        merge_delete,
        merge_upsert,
        read_merged,
    )

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(k, f"v{k}", 1) for k in range(20)], "k long, val string, ver long"
    )
    merge_upsert(base, path, keys=["k"], version="ver", num_buckets=8)

    # --- tombstone path ---------------------------------------------------
    dead = spark.createDataFrame([(3,), (7,), (999,)], "k long")  # 999 absent
    merge_delete(dead, path, keys=["k"])
    got = {r.k for r in read_merged(spark, path).collect()}
    assert got == set(range(20)) - {3, 7}
    merge_delete(dead, path, keys=["k"])  # replay: no-op
    assert {r.k for r in read_merged(spark, path).collect()} == got
    with pytest.raises(ValueError, match="keys"):
        merge_delete(dead.withColumnRenamed("k", "j"), path, keys=["j"])

    # deleting every row of a bucket removes the bucket dir outright
    all_keys = spark.createDataFrame([(k,) for k in range(20)], "k long")
    merge_delete(all_keys, path, keys=["k"])
    assert read_merged(spark, path).count() == 0

    # --- schema evolution -------------------------------------------------
    path2 = str(tmp_path / "t2")
    merge_upsert(base, path2, keys=["k"], version="ver", num_buckets=8)
    widened = spark.createDataFrame(
        [(1, "v1b", 2, "en"), (100, "new", 1, "de")],
        "k long, val string, ver long, lang string",
    )
    merge_upsert(widened, path2, keys=["k"], version="ver", num_buckets=8)
    out = {r.k: (r.val, r.lang) for r in read_merged(spark, path2).collect()}
    assert out[1] == ("v1b", "en")      # updated row carries the new column
    assert out[100] == ("new", "de")    # inserted row too
    assert out[2] == ("v2", None)       # untouched bucket: NULL via mergeSchema
    assert len(out) == 21

    # narrowing refuses — a whole-row winner would silently NULL `val`
    narrow = spark.createDataFrame([(1, 3)], "k long, ver long")
    spark.catalog.clearCache()  # only this call's persist is under test
    with pytest.raises(ValueError, match="widening-only"):
        merge_upsert(narrow, path2, keys=["k"], version="ver", num_buckets=8)
    # the refused merge released its persisted source
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
