"""Property-based tests (SURVEY.md §5.4): random inputs vs plain-Python
oracles for the engine's hardest invariants."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from data_engineering_task_adtech_data_pipeline_spark.operators.delta import (
    changed_rows,
)
from data_engineering_task_adtech_data_pipeline_spark.operators.joins import asof_join

T0 = datetime(2024, 1, 1)

event_lists = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 2000)),  # (key, minute offset)
    min_size=1,
    max_size=60,
)


@pytest.mark.slow
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(before=event_lists, after=event_lists)
def test_cdc_incremental_equals_full(spark, before, after):
    """The CDC invariant: applying changed_rows to
    (new_extract, old_state) then unioning the changed rows onto old state
    (latest-version-wins) equals recomputing the extract from scratch.

    Holds under per-key time-advancing arrivals (the event-stream reality);
    hypothesis originally found the counterexample of a new row whose
    timestamp equals the key's existing watermark — invisible to
    high-watermark CDC by construction, in the reference's set-diff too
    (``operators/delta.py`` module docstring). We shift the second batch
    past the first to model ingest-stamped arrival order.
    """
    after = [(k, m + 2001) for k, m in after]  # strictly advance watermarks
    def extract(rows):
        df = spark.createDataFrame(
            [(k, T0 + timedelta(minutes=m)) for k, m in rows],
            "k int, created_at timestamp",
        )
        return df.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"), F.max("created_at").alias("rtm_delta")
        )

    old_state = extract(before)
    full = extract(before + after)
    upserts = changed_rows(full, old_state, keys=["k"])

    # latest-version-wins merge of old state + upserts
    merged = {r.k: (r.rtm_delta, r.n) for r in old_state.collect()}
    for r in upserts.collect():
        merged[r.k] = (r.rtm_delta, r.n)
    expect = {r.k: (r.rtm_delta, r.n) for r in full.collect()}
    assert merged == expect


maybe = st.one_of(st.none(), st.integers(0, 2))


@pytest.mark.slow
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    extract=st.lists(st.tuples(maybe, maybe, maybe, st.integers(0, 9)),
                     min_size=0, max_size=40),
    state=st.lists(st.tuples(maybe, maybe, maybe), min_size=0, max_size=40),
)
def test_changed_rows_equals_semi_join_of_own_anti_join(spark, extract, state):
    """``changed_rows(E, O)`` equals the two-join composition it replaces
    (E LEFT SEMI (E's key tuples LEFT ANTI O)), as multisets and column
    for column, for extracts with duplicate keys, NULL keys and NULL
    versions."""
    on = ["a", "b", "v"]
    e = spark.createDataFrame(extract, "a int, b int, v int, x int")
    o = spark.createDataFrame(state, "a int, b int, v int")
    changed = e.select(*on).join(o.select(*on), on=on, how="left_anti")
    reference = e.join(F.broadcast(changed), on=on, how="left_semi").select(
        *e.columns
    )
    got = changed_rows(e, o, keys=["a", "b"], version="v")
    assert got.columns == e.columns

    def rows(df):
        return sorted(map(tuple, df.collect()), key=repr)

    assert rows(got) == rows(reference)


@pytest.mark.slow
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    lefts=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 500)),
                   min_size=1, max_size=30),
    rights=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 500)),
                    min_size=0, max_size=30),
)
def test_asof_join_matches_python_oracle(spark, lefts, rights):
    # unique (key, ts) on the right so as-of is well-defined
    rights = list({(k, m) for k, m in rights})
    left = spark.createDataFrame(
        [(i, k, T0 + timedelta(minutes=m)) for i, (k, m) in enumerate(lefts)],
        "lid long, k int, ts timestamp",
    )
    right = spark.createDataFrame(
        [(k, T0 + timedelta(minutes=m), float(m)) for k, m in rights],
        "k int, rts timestamp, px double",
    ) if rights else spark.createDataFrame([], "k int, rts timestamp, px double")

    out = {
        r.lid: r.px_asof
        for r in asof_join(
            left, right, on=["k"], left_ts="ts", right_ts="rts",
            right_payload=["px"],
        ).collect()
    }
    for i, (k, m) in enumerate(lefts):
        prior = [mm for kk, mm in rights if kk == k and mm <= m]
        expect = float(max(prior)) if prior else None
        assert out[i] == expect, (i, k, m)


@pytest.mark.slow
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    lefts=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 200)),
                   min_size=1, max_size=20),
    rights=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 200)),
                    min_size=0, max_size=20),
    tol_minutes=st.integers(1, 60),
)
def test_range_join_matches_python_oracle(spark, lefts, rights, tol_minutes):
    from data_engineering_task_adtech_data_pipeline_spark.operators.joins import (
        range_join,
    )

    left = spark.createDataFrame(
        [(i, k, T0 + timedelta(minutes=m)) for i, (k, m) in enumerate(lefts)],
        "lid long, k int, lts timestamp",
    )
    right = spark.createDataFrame(
        [(j + 1000, k, T0 + timedelta(minutes=m)) for j, (k, m) in enumerate(rights)],
        "rid long, k int, rts timestamp",
    ) if rights else spark.createDataFrame([], "rid long, k int, rts timestamp")
    tol = tol_minutes * 60
    got = {
        (r.lid, r.rid)
        for r in range_join(left, right, on=["k"], left_ts="lts",
                            right_ts="rts", tolerance_seconds=tol).collect()
    }
    expect = {
        (i, j + 1000)
        for i, (lk, lm) in enumerate(lefts)
        for j, (rk, rm) in enumerate(rights)
        if lk == rk and abs(lm - rm) * 60 <= tol
    }
    assert got == expect


@pytest.mark.slow
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    events=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 500)),
                    min_size=1, max_size=30),
    gap_minutes=st.integers(1, 60),
)
def test_sessionize_matches_python_oracle(spark, events, gap_minutes):
    from data_engineering_task_adtech_data_pipeline_spark.operators.joins import (
        sessionize,
    )

    df = spark.createDataFrame(
        [(k, T0 + timedelta(minutes=m)) for k, m in events],
        "user_id int, ts timestamp",
    )
    out = {
        (r.user_id, r.session_id): (r.session_start, r.session_end, r.n_events)
        for r in sessionize(df, key=["user_id"], ts_col="ts",
                            gap_seconds=gap_minutes * 60).collect()
    }
    # python oracle
    expect = {}
    by_key: dict[int, list[int]] = {}
    for k, m in events:
        by_key.setdefault(k, []).append(m)
    for k, ms in by_key.items():
        ms.sort()
        sid, start, prev, n = 1, ms[0], ms[0], 0
        for m in ms:
            if (m - prev) * 60 > gap_minutes * 60:
                expect[(k, sid)] = (T0 + timedelta(minutes=start),
                                    T0 + timedelta(minutes=prev), n)
                sid, start, n = sid + 1, m, 0
            n += 1
            prev = m
        expect[(k, sid)] = (T0 + timedelta(minutes=start),
                            T0 + timedelta(minutes=prev), n)
    assert out == expect


# ---------------------------------------------------------------------------
# Sub-second boundary hardening: timestamps with fractional-second parts
# whose gaps straddle the threshold (e.g. gap 10 s, events 10.4 s apart but
# spanning a whole-second boundary).  unix_timestamp()-based comparisons
# truncate to whole seconds and mis-classify exactly these; the operators
# compare double-epoch values instead.
# ---------------------------------------------------------------------------

@pytest.mark.slow
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    events=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 40_000)),
                    min_size=1, max_size=30),
    gap_seconds=st.integers(1, 30),
)
def test_sessionize_fractional_second_boundaries(spark, events, gap_seconds):
    """Offsets are in 100 ms steps, so inter-event gaps routinely land
    within 1 s of the threshold on either side."""
    from data_engineering_task_adtech_data_pipeline_spark.operators.joins import (
        sessionize,
    )

    events = list({(k, d) for k, d in events})  # unique (key, ts)
    df = spark.createDataFrame(
        [(k, T0 + timedelta(milliseconds=d * 100)) for k, d in events],
        "user_id int, ts timestamp",
    )
    out = {
        (r.user_id, r.session_id): r.n_events
        for r in sessionize(df, key=["user_id"], ts_col="ts",
                            gap_seconds=gap_seconds).collect()
    }
    expect = {}
    by_key: dict[int, list[int]] = {}
    for k, d in events:
        by_key.setdefault(k, []).append(d)
    for k, ds in by_key.items():
        ds.sort()
        sid, prev, n = 1, ds[0], 0
        for d in ds:
            if (d - prev) * 0.1 > gap_seconds:  # exact: multiples of 0.1s
                expect[(k, sid)] = n
                sid, n = sid + 1, 0
            n += 1
            prev = d
        expect[(k, sid)] = n
    assert out == expect


@pytest.mark.slow
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    lefts=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 4000)),
                   min_size=1, max_size=20),
    rights=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 4000)),
                    min_size=0, max_size=20),
    tol_seconds=st.integers(1, 120),
)
def test_range_join_fractional_second_boundaries(spark, lefts, rights,
                                                 tol_seconds):
    from data_engineering_task_adtech_data_pipeline_spark.operators.joins import (
        range_join,
    )

    left = spark.createDataFrame(
        [(i, k, T0 + timedelta(milliseconds=d * 100))
         for i, (k, d) in enumerate(lefts)],
        "lid long, k int, lts timestamp",
    )
    right = spark.createDataFrame(
        [(j + 1000, k, T0 + timedelta(milliseconds=d * 100))
         for j, (k, d) in enumerate(rights)],
        "rid long, k int, rts timestamp",
    ) if rights else spark.createDataFrame([], "rid long, k int, rts timestamp")
    got = {
        (r.lid, r.rid)
        for r in range_join(left, right, on=["k"], left_ts="lts",
                            right_ts="rts",
                            tolerance_seconds=tol_seconds).collect()
    }
    expect = {
        (i, j + 1000)
        for i, (lk, ld) in enumerate(lefts)
        for j, (rk, rd) in enumerate(rights)
        if lk == rk and abs(ld - rd) <= tol_seconds * 10  # 100ms units, exact
    }
    assert got == expect


# ---------------------------------------------------------------------------
# Corpus-curation operators (round-2 additions): random documents over a
# tiny alphabet vs plain-Python oracles.
# ---------------------------------------------------------------------------

_WORDS = ["aa", "bb", "cc", "dd", "ee"]
doc_lists = st.lists(
    st.lists(st.sampled_from(_WORDS), min_size=0, max_size=12),
    min_size=1,
    max_size=12,
)


def _doc_df(spark, docs):
    return spark.createDataFrame(
        [(i, " ".join(ws), "en", "web", len(" ".join(ws))) for i, ws in
         enumerate(docs)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


@pytest.mark.slow
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=doc_lists, bench=doc_lists)
def test_decontaminate_matches_python_oracle(spark, docs, bench):
    """decontaminate == drop docs sharing any k-gram with the benchmark."""
    from data_engineering_task_adtech_data_pipeline_spark.operators.dedup import (
        decontaminate,
    )

    k = 2
    grams = lambda ws: {  # noqa: E731
        " ".join(ws[i : i + k]) for i in range(len(ws) - k + 1)
    }
    bench_set = set().union(*(grams(ws) for ws in bench))
    expect = sorted(
        i for i, ws in enumerate(docs) if not (grams(ws) & bench_set)
    )
    got = sorted(
        r.doc_id
        for r in decontaminate(
            _doc_df(spark, docs), _doc_df(spark, bench), ngram_k=k
        ).select("doc_id").collect()
    )
    assert got == expect


@pytest.mark.slow
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=doc_lists)
def test_repetition_features_matches_counter(spark, docs):
    """top_token_share / distinct_token_ratio == Counter arithmetic."""
    from collections import Counter

    from data_engineering_task_adtech_data_pipeline_spark.operators.text import (
        repetition_features,
    )

    got = {
        r.doc_id: (r.top_token_share, r.distinct_token_ratio)
        for r in repetition_features(_doc_df(spark, docs)).collect()
    }
    expect = {}
    for i, ws in enumerate(docs):
        if ws:
            c = Counter(ws)
            total = sum(c.values())
            expect[i] = (max(c.values()) / total, len(c) / total)
    assert got == expect


@pytest.mark.slow
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=doc_lists, rare_max=st.integers(1, 2), common_min=st.integers(2, 4))
def test_bigram_novelty_matches_python(spark, docs, rare_max, common_min):
    """Per-doc rare/common bigram occurrence counts == Python corpus model."""
    from collections import Counter

    from data_engineering_task_adtech_data_pipeline_spark.operators.text import (
        bigram_novelty,
    )

    bigrams = lambda ws: [  # noqa: E731
        " ".join(ws[i : i + 2]) for i in range(len(ws) - 1)
    ]
    model = Counter(bg for ws in docs for bg in bigrams(ws))
    expect = {}
    for i, ws in enumerate(docs):
        bgs = bigrams(ws)
        if bgs:
            expect[i] = (
                len(bgs),
                sum(1 for b in bgs if model[b] <= rare_max),
                sum(1 for b in bgs if model[b] >= common_min),
            )
    got = {
        r.doc_id: (r.n_bigrams, r.n_rare, r.n_common)
        for r in bigram_novelty(
            _doc_df(spark, docs), rare_max=rare_max, common_min=common_min
        ).collect()
    }
    assert got == expect


pii_token = st.sampled_from(
    [
        "clean",
        "words",
        "bob.smith@example.com",
        "x@y.io",
        "+1-555-123-4567",
        "123-45-6789",
        "10.0.0.1",
        "999-99-9999",
        "no-pii-here",
    ]
)


@pytest.mark.slow
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=st.lists(st.lists(pii_token, max_size=8), min_size=1, max_size=6))
def test_redact_pii_matches_python_re(spark, texts):
    """Counts (on original text) and sequential redaction == Python `re`
    applied with the same patterns in the same order."""
    import re

    from data_engineering_task_adtech_data_pipeline_spark.operators.text import (
        PII_PATTERNS,
        redact_pii,
    )

    rows = [(i, " ".join(t)) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.asDict() for r in redact_pii(df).collect()}
    for i, text in rows:
        red = text
        for kind, p in PII_PATTERNS.items():
            assert got[i][f"n_{kind}"] == len(re.findall(p, text))
            red = re.sub(p, f"[{kind.upper()}]", red)
        assert got[i]["text_redacted"] == red


@pytest.mark.slow
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 40)),  # (group, key)
        min_size=1, max_size=40, unique=True,
    ),
    cap=st.integers(1, 3),
)
def test_cap_per_group_invariants(spark, rows, cap):
    """Domain cap: per-group size == min(cap, group size); survivor set is
    partitioning-independent (deterministic hash order, not arrival order)."""
    from collections import Counter

    from data_engineering_task_adtech_data_pipeline_spark.operators.sampling import (
        cap_per_group,
    )

    df = spark.createDataFrame(rows, "grp int, k int")
    pick = lambda d: sorted(  # noqa: E731
        (r.grp, r.k) for r in cap_per_group(d, "grp", cap, keys=["k"]).collect()
    )
    got = pick(df.repartition(7))
    sizes = Counter(g for g, _ in got)
    full = Counter(g for g, _ in rows)
    assert sizes == {g: min(cap, n) for g, n in full.items()}
    assert set(got) <= set(rows)
    assert got == pick(df.repartition(3, "k"))


@pytest.mark.slow
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=doc_lists)
def test_winnow_fingerprints_matches_python_oracle(spark, docs):
    """winnow_fingerprints(md5) == the pure-Python winnowing reference:
    k-gram md5-60bit hashes, sliding-window min, distinct per doc."""
    import hashlib

    from data_engineering_task_adtech_data_pipeline_spark.operators.text import (
        winnow_fingerprints,
    )

    k, window = 2, 3

    def md5_60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    expect: dict[int, set[int]] = {}
    for i, ws in enumerate(docs):
        if len(ws) < k:
            continue
        hs = [md5_60(" ".join(ws[j : j + k])) for j in range(len(ws) - k + 1)]
        fps = {
            min(hs[p : p + window])
            for p in range(max(len(hs) - window, 0) + 1)
        }
        expect[i] = fps

    got: dict[int, set[int]] = {}
    out = winnow_fingerprints(
        _doc_df(spark, docs), k=k, window=window, hash_method="md5"
    )
    for r in out.collect():
        got.setdefault(r.doc_id, set()).add(r.fingerprint)
    assert got == expect


@pytest.mark.slow
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    rows=st.lists(st.integers(1, 40), min_size=1, max_size=60),
    bin_tokens=st.integers(8, 64),
    target=st.integers(5, 20),
)
def test_greedy_packing_auto_shard_matches_python(spark, rows, bin_tokens,
                                                  target):
    """Auto-sharded greedy packing == the pure-Python greedy fold applied
    per hash shard in doc_id order (and the unsharded path == one global
    fold)."""
    import hashlib as _h  # noqa: F401  (documentation: shard uses xxhash64)

    from data_engineering_task_adtech_data_pipeline_spark.operators.chunking import (
        pack_documents_greedy,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(rows)], "doc_id long, n_tokens long"
    )
    out = pack_documents_greedy(
        df, bin_tokens=bin_tokens, target_shard_rows=target
    ).collect()
    assert len(out) == len(rows)

    def greedy(tokens):  # [(doc_id, t)] in order -> {doc_id: (bin, off)}
        res, bin_id, fill = {}, 0, 0
        for i, t in tokens:
            if fill > 0 and fill + t > bin_tokens:
                bin_id, fill = bin_id + 1, 0
            res[i] = (bin_id, fill)
            fill += t
        return res

    if len(rows) <= target:  # single global sequence, no pack_shard column
        assert all(not hasattr(r, "pack_shard") for r in out)
        expect = greedy(list(enumerate(rows)))
        assert {r.doc_id: (r.bin_id, r.bin_offset) for r in out} == expect
    else:
        shards: dict[int, list] = {}
        for r in sorted(out, key=lambda r: r.doc_id):
            shards.setdefault(r.pack_shard, []).append(
                (r.doc_id, rows[r.doc_id])
            )
        for members in shards.values():
            expect = greedy(members)
            got = {
                r.doc_id: (r.bin_id, r.bin_offset)
                for r in out
                if (r.doc_id, rows[r.doc_id]) in members
            }
            assert got == expect


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    batches=st.lists(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=20),  # key
                st.integers(min_value=0, max_value=9),  # version
            ),
            min_size=1,
            max_size=12,
        ),
        min_size=1,
        max_size=4,
    )
)
def test_merge_upsert_sequence_matches_latest_version(spark, tmp_path_factory, batches):
    """Any sequence of merge batches lands exactly latest_version over the
    concatenation of all batches (MERGE ≡ append+dedup-view, per-key
    max-version with deterministic value tiebreak)."""
    from data_engineering_task_adtech_data_pipeline_spark.operators.upsert import (
        latest_version,
        merge_upsert,
        read_merged,
    )

    path = str(tmp_path_factory.mktemp("mu")) + "/t"
    frames = []
    for batch in batches:
        df = spark.createDataFrame(
            [(k, v, f"b{v}") for k, v in batch], "k long, ver long, val string"
        )
        frames.append(df)
        merge_upsert(df, path, keys=["k"], version="ver",
                     tiebreak=["val"], num_buckets=4)
    allrows = frames[0]
    for f in frames[1:]:
        allrows = allrows.unionByName(f)
    want = sorted(
        map(tuple, latest_version(allrows, ["k"], "ver", ["val"]).collect())
    )
    got = sorted(
        map(tuple, read_merged(spark, path).select("k", "ver", "val").collect())
    )
    assert got == want


def _py_duplicate_spans(docs, k, min_docs):
    import re

    def norm(t):
        t = re.sub(r"[^a-z0-9\s]", " ", t.lower())
        return [w for w in re.sub(r"\s+", " ", t).strip().split(" ") if w]

    words = {d: norm(t) for d, t in docs}
    grams: dict = {}
    for d, ws in words.items():
        for i in range(max(len(ws) - k + 1, 0)):
            grams.setdefault(" ".join(ws[i : i + k]), set()).add(d)
    dup = {g for g, s in grams.items() if len(s) >= min_docs}
    out = []
    for d, ws in words.items():
        flagged = [
            i
            for i in range(max(len(ws) - k + 1, 0))
            if " ".join(ws[i : i + k]) in dup
        ]
        spans: list = []
        for i in flagged:
            if spans and i <= spans[-1][1]:
                spans[-1][1] = max(spans[-1][1], i + k)
                spans[-1][2] += 1
            else:
                spans.append([i, i + k, 1])
        out.extend(
            (d, sid, a, b, ng) for sid, (a, b, ng) in enumerate(spans)
        )
    return sorted(out)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from("aa bb cc dd ee ff".split()),
            min_size=0,
            max_size=24,
        ).map(" ".join),
        min_size=1,
        max_size=8,
    ),
    k=st.integers(min_value=2, max_value=4),
    min_docs=st.integers(min_value=2, max_value=3),
)
def test_duplicate_spans_matches_python(spark, docs, k, min_docs):
    """duplicate_spans (positional grams -> corpus doc-frequency ->
    gaps-and-islands merge) against a direct python re-implementation on
    tiny-vocabulary corpora (small vocab forces heavy gram sharing, the
    regime where island merging actually exercises overlaps/adjacency)."""
    from data_engineering_task_adtech_data_pipeline_spark.operators.dedup import (
        duplicate_spans,
    )

    df = spark.createDataFrame(
        list(enumerate(docs)), "doc_id long, text string"
    )
    got = sorted(
        map(tuple, duplicate_spans(df, k=k, min_docs=min_docs).collect())
    )
    want = _py_duplicate_spans(list(enumerate(docs)), k, min_docs)
    assert got == want


def test_ngram_jaccard_hot_shingle_bounded_pairs(spark):
    """r7 VERDICT #3: a stop-shingle shared by ALL docs must not emit
    O(n²) pairs — with a df ceiling it contributes nothing to pair
    generation (same contract as minhash_lsh_candidates' max_bucket),
    while low-df overlap still pairs and its Jaccard only undercounts."""
    from data_engineering_task_adtech_data_pipeline_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    n = 1000
    # every doc carries the stop-trigram "the quick fox"; docs 0 and 1
    # additionally share a private trigram
    rows = [
        (i, f"the quick fox unique{i} filler{i} tail{i}") for i in range(2, n)
    ]
    rows += [
        (0, "the quick fox shared rare overlap zero0"),
        (1, "the quick fox shared rare overlap one1"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = ngram_jaccard_pairs(
        docs, shingle_k=3, threshold=0.0, max_shingles=None, max_df=64
    ).collect()
    # the 1000-doc stop-shingle bucket is dropped entirely: the ONLY pair
    # is (0, 1) via the low-df shingles — not ~500k stop-gram pairs
    assert [(r.id_a, r.id_b) for r in pairs] == [(0, 1)]
    (p,) = pairs
    # |A| = |B| = 5 distinct shingles; intersection counted over low-df
    # shingles only = 3 ("shared rare overlap" window) -> 3/(5+5-3)
    assert abs(p.jaccard - 3 / 7) < 1e-12

    import pytest

    with pytest.raises(ValueError, match="max_df"):
        ngram_jaccard_pairs(docs, max_df=1)


@settings(max_examples=40, deadline=None)
@given(
    data=st.data(),
    geometry=st.sampled_from(["mono", "444", "420", "422", "411"]),
    n=st.integers(1, 3),
)
def test_y4m_codec_roundtrip_property(data, geometry, n):
    """Y4M codec invariant across EVERY supported chroma geometry: for
    random plane contents and random legal dimensions, encode→decode
    returns the exact Y plane and, for subsampled geometries, every
    full-res chroma pixel equals its nearest-neighbor block source —
    (x//2, y//2) for 420, (x//2, y) for 422, (x//4, y) for 411 — with
    the header dims/colorspace/frame count intact. No Spark session:
    the codec is plain numpy, so hypothesis can hammer it cheaply."""
    import numpy as np

    from data_engineering_task_adtech_data_pipeline_spark.operators import multimodal

    # legal dims per geometry (keep tiny: correctness, not volume)
    if geometry == "420":
        h = 2 * data.draw(st.integers(1, 4))
        w = 2 * data.draw(st.integers(1, 4))
    elif geometry == "422":
        h = data.draw(st.integers(1, 8))
        w = 2 * data.draw(st.integers(1, 4))
    elif geometry == "411":
        h = data.draw(st.integers(1, 8))
        w = 4 * data.draw(st.integers(1, 2))
    else:
        h = data.draw(st.integers(1, 8))
        w = data.draw(st.integers(1, 8))
    rng = np.random.default_rng(data.draw(st.integers(0, 2**31 - 1)))

    if geometry == "mono":
        frames_in = rng.integers(0, 256, (n, h, w), dtype=np.uint8)
        payload = multimodal._y4m_encode(frames_in)
    elif geometry == "444":
        frames_in = rng.integers(0, 256, (n, h, w, 3), dtype=np.uint8)
        payload = multimodal._y4m_encode(frames_in)
    else:
        cw = w // 4 if geometry == "411" else w // 2
        ch = h // 2 if geometry == "420" else h
        yp = rng.integers(0, 256, (n, h, w), dtype=np.uint8)
        up = rng.integers(0, 256, (n, ch, cw), dtype=np.uint8)
        vp = rng.integers(0, 256, (n, ch, cw), dtype=np.uint8)
        payload = multimodal._y4m_encode((yp, up, vp))

    out = multimodal._y4m_decode(payload)
    assert out is not None
    info, frames = out
    assert (info["width"], info["height"], info["n_frames"]) == (w, h, n)
    assert info["colorspace"] == ("mono" if geometry == "mono" else geometry)
    if geometry == "mono":
        assert frames.shape == (n, h, w)
        assert (frames == frames_in).all()
    elif geometry == "444":
        assert frames.shape == (n, h, w, 3)
        assert (frames == frames_in).all()
    else:
        assert frames.shape == (n, h, w, 3)
        assert (frames[..., 0] == yp).all()
        xs = np.arange(w)
        ys = np.arange(h)
        cx = xs // 4 if geometry == "411" else xs // 2
        cy = ys // 2 if geometry == "420" else ys
        assert (frames[..., 1] == up[:, cy[:, None], cx[None, :]]).all()
        assert (frames[..., 2] == vp[:, cy[:, None], cx[None, :]]).all()
