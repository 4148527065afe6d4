"""Equivalence tests for alternative implementations: pandas-UDF cosine vs
built-in, salted vs plain aggregation, session_window vs window-composition
sessionization."""

from __future__ import annotations

from conftest import SF_ORACLE
from pyspark.sql import functions as F

from data_engineering_task_adtech_data_pipeline_spark.functions.skew import salted_agg
from data_engineering_task_adtech_data_pipeline_spark.operators import (
    joins,
    similarity,
    similarity_pandas,
)
from data_engineering_task_adtech_data_pipeline_spark.sources.readers import Testdata
from data_engineering_task_adtech_data_pipeline_spark.streaming.jobs import (
    streaming_sessionize,
)


def test_pandas_cosine_matches_builtin(spark):
    emb = Testdata(spark, SF_ORACLE).embeddings
    q = emb.where(F.col("vec_id") < 10)
    a = similarity.brute_force_topk(emb, q, k=5)
    b = similarity_pandas.cosine_topk_pandas(emb, q, k=5)
    # matmul accumulation order differs from the sequential fold -> compare
    # at 9 decimal places, and require identical neighbor sets/ranks
    sa = {(r.query_id, r.corpus_id, r.rank, round(r.cosine_sim, 9)) for r in a.collect()}
    sb = {(r.query_id, r.corpus_id, r.rank, round(r.cosine_sim, 9)) for r in b.collect()}
    assert sa == sb


def test_salted_agg_matches_plain(spark):
    ev = Testdata(spark, SF_ORACLE).events
    plain = {
        r.event_type: (r.n, r.wm)
        for r in ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.max("ts").alias("wm"))
        .collect()
    }
    salted = {
        r.event_type: (r.n, r.wm)
        for r in salted_agg(
            ev,
            ["event_type"],
            partials={"n": F.count(F.lit(1)), "wm": F.max("ts")},
            merges={"n": F.sum("n").cast("long"), "wm": F.max("wm")},
            salt_buckets=16,
        ).collect()
    }
    assert plain == salted


def test_salted_agg_layout_salt_splits_duplicate_content(spark):
    """Round-9 review: on a narrow projection whose hot key carries few
    distinct row contents, the content-hash salt degenerates (duplicates
    share a bucket) — layout_salt=True must (a) still merge to exactly
    the plain aggregate and (b) actually split the hot key across
    buckets in phase 1. Split width is measured THROUGH salted_agg
    itself (a phase-2 partial count = how many salt buckets the key
    landed in), so a regression in the layout_salt branch fails here."""
    # hot key 'h': 10k rows but only 2 distinct contents
    df = (
        spark.range(10_000)
        .select(
            F.lit("h").alias("k"), (F.col("id") % 2).cast("int").alias("t")
        )
        .union(
            spark.range(100).select(
                F.lit("cold").alias("k"), F.col("id").cast("int").alias("t")
            )
        )
        .repartition(8)
    )
    plain = {
        r.k: r.n
        for r in df.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # 'parts' counts phase-1 partial rows per key in phase 2 == the
    # number of distinct salt buckets the key's rows landed in
    def agg(**kwargs):
        return {
            r.k: (r.n, r.parts)
            for r in salted_agg(
                df, ["k"],
                partials={"n": F.count(F.lit(1))},
                merges={
                    "n": F.sum("n").cast("long"),
                    "parts": F.count(F.lit(1)).cast("long"),
                },
                salt_buckets=16, **kwargs,
            ).collect()
        }

    content = agg()
    layout = agg(layout_salt=True)
    for got, kwargs in ((content, "content"), (layout, "layout")):
        assert {k: v[0] for k, v in got.items()} == plain, kwargs
    # content salt collapses the degenerate hot key to its 2 distinct
    # contents; the layout salt spreads it across the buckets
    assert content["h"][1] == 2
    assert layout["h"][1] >= 8


def test_salted_agg_rejects_salt_cols_with_layout_salt(spark):
    """r9 ADVICE: the two salt selectors are mutually exclusive — passing
    both used to silently drop salt_cols and run the row-order-dependent
    layout salt; now it raises."""
    import pytest

    df = spark.range(10).select(F.lit("k").alias("k"), F.col("id"))
    with pytest.raises(ValueError, match="mutually exclusive"):
        salted_agg(
            df, ["k"],
            partials={"n": F.count(F.lit(1))},
            merges={"n": F.sum("n")},
            salt_cols=["id"], layout_salt=True,
        )


def test_quantized_topk_query_side_guard(spark):
    """r9 VERDICT #7: the sq8/ivf_sq8 shortlist stage broadcasts the
    query side by contract; a corpus-sized query frame must raise
    loudly (max_queries), not run a silent quadratic scan. The raise
    fires BEFORE any training/scale job; max_queries=None opts out."""
    import pytest

    emb = Testdata(spark, SF_ORACLE).embeddings
    for fn in (
        similarity.sq8_topk,
        similarity.ivf_sq8_topk,
        similarity.brute_force_topk,  # guard extended r10 review
    ):
        with pytest.raises(ValueError, match="max_queries"):
            fn(emb, emb, k=5, max_queries=10)
    with pytest.raises(ValueError, match="max_queries"):
        similarity.pq_topk(
            emb.select("vec_id", F.array(F.lit(0), F.lit(1)).alias("codes")),
            emb, codebooks=[[[0.0] * 32, [1.0] * 32]] * 2,
            k=5, max_queries=10,
        )
    # opting out (or a frame under the cap) proceeds as before
    q = emb.where(F.col("vec_id") < 3)
    out = similarity.sq8_topk(emb, q, k=3, max_queries=None).collect()
    assert len(out) == 9


def test_session_window_matches_composition(spark):
    ev = Testdata(spark, SF_ORACLE).events
    composed = joins.sessionize(ev, key=["user_id"], ts_col="ts", gap_seconds=1800)
    built_in = streaming_sessionize(
        ev.select(F.col("user_id").alias("campaign_id"), F.col("ts").alias("created_at")),
        gap="30 minutes",
    )
    # session_window's end = last_event + gap; compare count + start/key sets
    a = {(r.user_id, r.session_start, r.n_events) for r in composed.collect()}
    b = {(r.campaign_id, r.session_start, r.n_events) for r in built_in.collect()}
    assert a == b


def test_broadcast_centroid_assignment_matches_literal(spark):
    """The large-n_cells broadcast centroid-table path (literal_max=0 forces
    every assignment/probe through it) must produce EXACTLY the literal
    plan's output — same distances, same first-wins tie-break."""
    emb = Testdata(spark, SF_ORACLE).embeddings
    q = emb.where(F.col("vec_id") < 10)
    kw = dict(k=5, n_cells=8, n_iter=2, n_probe=2, dim=64)
    lit = similarity.ivf_topk(emb, q, **kw)
    brd = similarity.ivf_topk(emb, q, literal_max=0, **kw)
    rows = lambda df: {  # noqa: E731
        (r.query_id, r.corpus_id, r.rank, round(r.cosine_sim, 12))
        for r in df.collect()
    }
    assert rows(lit) == rows(brd)


def test_large_cell_count_uses_broadcast_not_literals(spark):
    """Training and assigning 256 cells must flow through the broadcast
    centroid table: plan shows a broadcast join and stays compact (a
    256 x 64 literal expression tree would be megabytes of plan text)."""
    emb = Testdata(spark, SF_ORACLE).embeddings
    cents = similarity.kmeans_fit(
        emb, n_cells=256, n_iter=1, dim=64, train_fraction=0.5
    )
    assert len(cents) == 256
    assigned = similarity._with_cell(
        similarity.with_double_embedding(emb).select(
            F.col("vec_id"), F.col("embedding").alias("__e")
        ),
        "__e",
        cents,
    )
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan
    assert len(plan) < 200_000
    # every vector gets exactly one valid cell
    n = assigned.where(
        (F.col("cell") >= 0) & (F.col("cell") < 256)
    ).count()
    assert n == emb.count()


def test_sampled_training_is_partitioning_invariant(spark):
    """train_fraction sampling is a pure function of the data: same
    centroids on any input partitioning."""
    emb = Testdata(spark, SF_ORACLE).embeddings
    c1 = similarity.kmeans_fit(
        emb, n_cells=4, n_iter=2, dim=64, train_fraction=0.3
    )
    c2 = similarity.kmeans_fit(
        emb.repartition(13), n_cells=4, n_iter=2, dim=64, train_fraction=0.3
    )
    assert c1 == c2


def test_md5_signature_dim_mismatch_raises(spark):
    """ADVICE round-2 item: a wrong md5-mode dim must fail loudly, not
    silently collapse every signature to 0."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    emb = Testdata(spark, SF_ORACLE).embeddings.limit(5)
    bad = similarity.with_double_embedding(emb).select(
        similarity.hyperplane_signature(
            F.col("embedding"), planes=8, hash_method="md5", dim=32
        ).alias("sig")
    )
    with pytest.raises((Py4JJavaError, PySparkException)):
        bad.collect()


def test_ivf_persisted_index_matches_ivf_topk(spark, tmp_path):
    """ivf_index_write + ivf_index_search (the serving path: stored model,
    cell-partitioned index, no query-time training) ranks identically to
    ivf_topk trained with the same parameters."""
    emb = Testdata(spark, SF_ORACLE).embeddings
    q = emb.where(F.col("vec_id") < 10)
    root = str(tmp_path / "ivf")

    cents = similarity.kmeans_fit(emb, n_cells=8, n_iter=3, dim=64)
    similarity.ivf_index_write(emb, cents, root)
    # model round-trips exactly (6-dp rounded doubles)
    assert similarity.ivf_model_read(spark, root + "/model") == cents

    got = sorted(
        map(tuple, similarity.ivf_index_search(
            spark, root, q, k=5, n_probe=2).collect())
    )
    want = sorted(
        map(tuple, similarity.ivf_topk(
            emb, q, k=5, n_cells=8, n_iter=3, n_probe=2, dim=64).collect())
    )
    assert got == want


def test_ivf_index_search_prunes_partitions(spark, tmp_path):
    """The search only reads the probed cells' partitions: the cell
    equi-join against the broadcast query side must reach the parquet scan
    as a dynamic partition pruning filter (at 100 TB this is the difference
    between scanning 2/1024 cells and scanning the corpus)."""
    emb = Testdata(spark, SF_ORACLE).embeddings
    root = str(tmp_path / "ivf")
    cents = similarity.kmeans_fit(emb, n_cells=8, n_iter=3, dim=64)
    similarity.ivf_index_write(emb, cents, root)
    plan = (
        similarity.ivf_index_search(
            spark, root, emb.where(F.col("vec_id") < 3), k=5, n_probe=2
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "dynamicpruning" in plan.lower(), plan


def test_stream_ingested_index_is_searchable(spark, tmp_path):
    """Composition: an index built offline then grown via
    streaming.stream_ivf_ingest serves ivf_index_search over the union —
    the streaming appends land in the same cell-partitioned layout."""
    from data_engineering_task_adtech_data_pipeline_spark.streaming.jobs import (
        stream_ivf_ingest,
    )

    emb = Testdata(spark, SF_ORACLE).embeddings
    d = str(tmp_path)
    cents = similarity.kmeans_fit(emb, n_cells=4, n_iter=2, dim=64)
    old = emb.where(F.col("vec_id") % 2 == 0)
    new = emb.where(F.col("vec_id") % 2 == 1)
    similarity.ivf_index_write(old, cents, d + "/ivf")

    new.write.mode("append").parquet(d + "/landing")
    stream_ivf_ingest(
        spark, d + "/landing", cents, d + "/ivf/stream_index", d + "/ckpt"
    ).awaitTermination(120)

    q = emb.where(F.col("vec_id") < 6)
    got = sorted(map(tuple, similarity.ivf_index_search(
        spark, d + "/ivf", q, k=3, n_probe=2).collect()))
    want = sorted(map(tuple, similarity.ivf_topk(
        emb, q, k=3, n_cells=4, n_iter=2, n_probe=2, dim=64).collect()))
    assert got == want


def test_ivf_sq8_persisted_index_serves_and_streams(spark, tmp_path):
    """Persisted FAISS IVF,SQ8 (round 10): an index written with
    ``sq8=scales`` + a streamed delta carrying ``sq8_code`` serves
    ``ivf_index_search(sq8=True)`` with EXACTLY ivf_sq8_topk's results
    for the same model; the scales model table round-trips; passing the
    model state (centroids + scales) skips the per-search reads without
    changing results; the sq8/PQ/hybrid arms are mutually exclusive; and
    the plan keeps both scale contracts — dynamic partition pruning on
    the probed cells and no embedding column in the shortlist exchange."""
    import pytest

    from data_engineering_task_adtech_data_pipeline_spark.streaming.jobs import (
        stream_ivf_ingest,
    )

    emb = Testdata(spark, SF_ORACLE).embeddings
    d = str(tmp_path)
    cents = similarity.kmeans_fit(emb, n_cells=4, n_iter=2, dim=64)
    scales = similarity.sq8_scales(emb)
    similarity.ivf_index_write(
        emb.where(F.col("vec_id") % 2 == 0), cents, d + "/ivf", sq8=scales
    )
    assert similarity.sq8_scales_read(spark, d + "/ivf/sq8_scales") == scales
    emb.where(F.col("vec_id") % 2 == 1).write.mode("append").parquet(
        d + "/landing"
    )
    stream_ivf_ingest(
        spark, d + "/landing", cents, d + "/ivf/stream_index", d + "/ckpt",
        sq8_scales_vec=scales,
    ).awaitTermination(120)

    q = emb.where(F.col("vec_id") < 6)
    search = similarity.ivf_index_search(
        spark, d + "/ivf", q, k=3, n_probe=2, sq8=True, shortlist=20
    )
    got = sorted(map(tuple, search.collect()))
    want = sorted(map(tuple, similarity.ivf_sq8_topk(
        emb, q, k=3, n_cells=4, n_iter=2, n_probe=2, shortlist=20, dim=64,
    ).collect()))
    assert got == want

    # resident-server model passthrough: no model/scales table reads
    got2 = sorted(map(tuple, similarity.ivf_index_search(
        spark, d + "/ivf", q, k=3, n_probe=2, sq8=True, shortlist=20,
        centroids=cents, sq8_scales_vec=scales,
    ).collect()))
    assert got2 == got

    with pytest.raises(ValueError, match="its own serving plan"):
        similarity.ivf_index_search(
            spark, d + "/ivf", q, sq8=True, max_hamming=2
        )

    plan = search._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln and "query_id" in ln:
            assert "emb" not in ln, ln


def test_ivf_index_compact_folds_delta(spark, tmp_path):
    """After compaction the delta directory is gone, the base holds the
    union, and search results are unchanged."""
    import os

    from data_engineering_task_adtech_data_pipeline_spark.streaming.jobs import (
        stream_ivf_ingest,
    )

    emb = Testdata(spark, SF_ORACLE).embeddings
    d = str(tmp_path)
    cents = similarity.kmeans_fit(emb, n_cells=4, n_iter=2, dim=64)
    similarity.ivf_index_write(emb.where(F.col("vec_id") % 2 == 0), cents, d + "/ivf")
    emb.where(F.col("vec_id") % 2 == 1).write.mode("append").parquet(d + "/landing")
    stream_ivf_ingest(
        spark, d + "/landing", cents, d + "/ivf/stream_index", d + "/ckpt"
    ).awaitTermination(120)

    q = emb.where(F.col("vec_id") < 6)
    before = sorted(map(tuple, similarity.ivf_index_search(
        spark, d + "/ivf", q, k=3, n_probe=2).collect()))
    n = similarity.ivf_index_compact(spark, d + "/ivf")
    assert n == emb.where(F.col("vec_id") % 2 == 1).count()
    assert not os.path.isdir(d + "/ivf/stream_index")
    after = sorted(map(tuple, similarity.ivf_index_search(
        spark, d + "/ivf", q, k=3, n_probe=2).collect()))
    assert before == after
    assert similarity.ivf_index_compact(spark, d + "/ivf") == 0  # idempotent


def test_ivf_index_compact_refuses_interrupted_run(spark, tmp_path):
    """A leftover .compacting staging dir (crash between append and
    cleanup) must stop compaction with a clear error instead of silently
    double-ingesting the delta."""
    import os

    import pytest

    emb = Testdata(spark, SF_ORACLE).embeddings
    root = str(tmp_path / "ivf")
    cents = similarity.kmeans_fit(emb, n_cells=4, n_iter=1, dim=64)
    similarity.ivf_index_write(emb, cents, root)
    os.makedirs(root + "/stream_index.compacting")
    with pytest.raises(RuntimeError, match="interrupted compaction"):
        similarity.ivf_index_compact(spark, root)
    os.rmdir(root + "/stream_index.compacting")
    assert similarity.ivf_index_compact(spark, root) == 0  # no delta -> noop


def test_ivf_persisted_hybrid_matches_ivf_lsh_topk(spark, tmp_path):
    """A hybrid index (stored sig sketches) searched with max_hamming
    serves exactly ivf_lsh_topk's ranking for the same model and sketch
    parameters — including delta rows grown via stream_ivf_ingest with
    matching sketch args."""
    from data_engineering_task_adtech_data_pipeline_spark.streaming.jobs import (
        stream_ivf_ingest,
    )

    emb = Testdata(spark, SF_ORACLE).embeddings
    q = emb.where(F.col("vec_id") < 8)
    d = str(tmp_path)
    sig_kw = dict(planes=16, sig_seed=42, sig_hash_method="md5", dim=64)

    cents = similarity.kmeans_fit(emb, n_cells=8, n_iter=3, dim=64)
    similarity.ivf_index_write(
        emb.where(F.col("vec_id") % 2 == 0), cents, d + "/ivf", **sig_kw
    )
    emb.where(F.col("vec_id") % 2 == 1).write.mode("append").parquet(d + "/landing")
    stream_ivf_ingest(
        spark, d + "/landing", cents, d + "/ivf/stream_index", d + "/ckpt",
        **sig_kw,
    ).awaitTermination(120)

    got = sorted(map(tuple, similarity.ivf_index_search(
        spark, d + "/ivf", q, k=5, n_probe=2, max_hamming=9, **sig_kw,
    ).collect()))
    want = sorted(map(tuple, similarity.ivf_lsh_topk(
        emb, q, k=5, n_cells=8, n_iter=3, n_probe=2,
        planes=16, max_hamming=9, seed=42, hash_method="md5", dim=64,
    ).collect()))
    assert got == want


def test_ivf_index_uri_scheme_roundtrip(spark, tmp_path):
    """The persisted-index family must work through a URI-scheme root
    (file://...), the shape every non-local deployment uses. Regression
    for the silent-data-drop hazard: with driver-local ``os.path`` probes,
    ``os.path.isdir("file:///...")`` is False, so ivf_index_search served
    the BASE ONLY — streamed rows vanished from results with no error —
    and ivf_index_compact was a silent no-op. Asserts search through a
    file:// root sees the delta, compaction folds it through the same
    scheme, and results are invariant across the fold."""
    from data_engineering_task_adtech_data_pipeline_spark import fs
    from data_engineering_task_adtech_data_pipeline_spark.streaming.jobs import (
        stream_ivf_ingest,
    )

    emb = Testdata(spark, SF_ORACLE).embeddings
    root = "file://" + str(tmp_path / "ivf")
    cents = similarity.kmeans_fit(emb, n_cells=4, n_iter=2, dim=64)
    base = emb.where(F.col("vec_id") % 2 == 0)
    delta = emb.where(F.col("vec_id") % 2 == 1)
    similarity.ivf_index_write(base, cents, root)

    landing = "file://" + str(tmp_path / "landing")
    delta.write.mode("append").parquet(landing)
    stream_ivf_ingest(
        spark,
        landing,
        cents,
        root + "/stream_index",
        "file://" + str(tmp_path / "ckpt"),
    ).awaitTermination(120)

    q = emb.where(F.col("vec_id") < 6)
    want = sorted(
        map(
            tuple,
            similarity.ivf_topk(
                emb, q, k=3, n_cells=4, n_iter=2, n_probe=2, dim=64
            ).collect(),
        )
    )
    before = sorted(
        map(
            tuple,
            similarity.ivf_index_search(
                spark, root, q, k=3, n_probe=2
            ).collect(),
        )
    )
    # the delta MUST be visible through the URI root (== full-corpus ANN);
    # base-only results would differ because half the corpus is streamed
    assert before == want

    n = similarity.ivf_index_compact(spark, root)
    assert n == delta.count()
    assert not fs.exists(spark, root + "/stream_index")
    assert not fs.exists(spark, root + "/stream_index.compacting")
    after = sorted(
        map(
            tuple,
            similarity.ivf_index_search(
                spark, root, q, k=3, n_probe=2
            ).collect(),
        )
    )
    assert after == before
    assert similarity.ivf_index_compact(spark, root) == 0  # idempotent


def test_compaction_generation_guard(spark, tmp_path):
    """ivf_index_compact bumps <root>/generation; re-running
    stream_ivf_ingest with the pre-compaction checkpoint must raise
    (reusing it would replay already-compacted epochs into a new delta and
    double-ingest every vector — previously a docstring-only convention,
    now an enforced contract), while a fresh checkpoint proceeds."""
    import pytest

    from data_engineering_task_adtech_data_pipeline_spark.streaming.jobs import (
        stream_ivf_ingest,
    )

    emb = Testdata(spark, SF_ORACLE).embeddings
    d = str(tmp_path)
    root = d + "/ivf"
    cents = similarity.kmeans_fit(emb, n_cells=4, n_iter=1, dim=64)
    similarity.ivf_index_write(emb.where(F.col("vec_id") % 2 == 0), cents, root)
    assert similarity.index_generation(spark, root) == 0

    emb.where(F.col("vec_id") % 2 == 1).write.mode("append").parquet(
        d + "/landing"
    )
    stream_ivf_ingest(
        spark, d + "/landing", cents, root + "/stream_index", d + "/ckpt"
    ).awaitTermination(120)
    n = similarity.ivf_index_compact(spark, root)
    assert n > 0
    assert similarity.index_generation(spark, root) == 1

    with pytest.raises(RuntimeError, match="stale streaming checkpoint"):
        stream_ivf_ingest(
            spark, d + "/landing", cents, root + "/stream_index", d + "/ckpt"
        )

    # a fresh checkpoint is pinned to the new generation and proceeds
    stream_ivf_ingest(
        spark, d + "/landing", cents, root + "/stream_index", d + "/ckpt2"
    ).awaitTermination(120)
    q = emb.where(F.col("vec_id") < 4)
    assert similarity.ivf_index_search(spark, root, q, k=2).count() > 0


def test_compact_refuses_schema_gap_delta(spark, tmp_path):
    """A delta missing base-index columns (sig-less ingest against a
    hybrid index) must fail compaction loudly and leave the delta intact —
    folding it would NULL-fill sig and the hamming filter would silently
    drop those rows from every future hybrid search."""
    import pytest

    from data_engineering_task_adtech_data_pipeline_spark import fs
    from data_engineering_task_adtech_data_pipeline_spark.streaming.jobs import (
        stream_ivf_ingest,
    )

    emb = Testdata(spark, SF_ORACLE).embeddings
    d = str(tmp_path)
    root = d + "/ivf"
    cents = similarity.kmeans_fit(emb, n_cells=4, n_iter=1, dim=64)
    similarity.ivf_index_write(
        emb.where(F.col("vec_id") % 2 == 0), cents, root, planes=8, dim=64
    )
    emb.where(F.col("vec_id") % 2 == 1).write.mode("append").parquet(
        d + "/landing"
    )
    # ingest WITHOUT planes: delta rows carry no sig column
    stream_ivf_ingest(
        spark, d + "/landing", cents, root + "/stream_index", d + "/ckpt"
    ).awaitTermination(120)

    with pytest.raises(ValueError, match="lacks base index column"):
        similarity.ivf_index_compact(spark, root)
    assert fs.is_dir(spark, root + "/stream_index")  # delta left intact
    assert similarity.index_generation(spark, root) == 0  # no bump


def test_pq_encode_deterministic_and_fit_validates(spark):
    """PQ codes are a pure function of the data (partition-invariant);
    pq_fit rejects a dim not divisible by m."""
    import pytest

    from conftest import SF_ORACLE
    from data_engineering_task_adtech_data_pipeline_spark.operators import similarity as S
    from data_engineering_task_adtech_data_pipeline_spark.sources.readers import Testdata

    emb = Testdata(spark, SF_ORACLE).embeddings
    cb = S.pq_fit(emb, m=2, n_codes=8, n_iter=1, dim=64,
                  train_fraction=0.5, train_hash_method="md5")
    assert len(cb) == 2 and len(cb[0]) == 8 and len(cb[0][0]) == 32
    c1 = {r.vec_id: list(r.codes) for r in S.pq_encode(emb, cb).collect()}
    c2 = {r.vec_id: list(r.codes) for r in
          S.pq_encode(emb.repartition(11), cb).collect()}
    assert c1 == c2
    with pytest.raises(ValueError, match="not divisible"):
        S.pq_fit(emb, m=7, dim=64)


def test_pq_adc_recall_and_ivf_pq_rerank(spark):
    """ADC top-k recall vs exact L2 (the metric PQ approximates) must
    clear an aggregate floor on the near-uniform testdata — PQ's WORST
    case (no cluster structure to quantize; same distribution bound
    SCALING.md documents for IVF) — and ivf_pq_topk with rerank must
    return EXACT cosine for its shortlist, identical to brute force on
    overlapping pairs."""
    import numpy as np
    from conftest import SF_ORACLE
    from pyspark.sql import functions as F

    from data_engineering_task_adtech_data_pipeline_spark.operators import similarity as S
    from data_engineering_task_adtech_data_pipeline_spark.sources.readers import Testdata

    emb = Testdata(spark, SF_ORACLE).embeddings
    queries = emb.where(F.col("vec_id") < 5)
    rows = sorted(emb.collect(), key=lambda r: r.vec_id)
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    ids = np.array([r.vec_id for r in rows])
    exact_l2 = {}
    for q in range(5):
        d = ((X - X[q]) ** 2).sum(1)
        d[q] = np.inf
        exact_l2[q] = set(ids[np.argsort(d)[:10]].tolist())
    cb = S.pq_fit(emb, m=8, n_codes=16, n_iter=2, dim=64)
    codes = S.pq_encode(emb, cb)
    adc = S.pq_topk(codes, queries, cb, k=10).collect()
    by_q: dict[int, set] = {}
    for r in adc:
        by_q.setdefault(r.query_id, set()).add(r.corpus_id)
    total_hits = sum(len(by_q[q] & exact_l2[q]) for q in range(5))
    assert total_hits >= 10, total_hits  # measured ~15/50 on this corpus
    exact_cos = {
        (r.query_id, r.corpus_id): r.cosine_sim
        for r in S.brute_force_topk(emb, queries, k=50).collect()
    }
    out = S.ivf_pq_topk(
        emb, queries, k=5, n_cells=4, n_probe=4, m=8, n_codes=16,
        dim=64, rerank=50,
    ).collect()
    assert {r.query_id for r in out} == set(range(5))
    assert all(1 <= r.rank <= 5 for r in out)
    for r in out:
        key = (r.query_id, r.corpus_id)
        if key in exact_cos:  # re-ranked scores are EXACT cosine
            assert abs(r.cosine_sim - exact_cos[key]) < 1e-12


def test_mine_hard_negatives_hand_example(spark):
    """Hard negatives are the most-similar DIFFERENT-label rows; hard
    positives the most-similar same-label rows; self excluded."""
    from data_engineering_task_adtech_data_pipeline_spark.operators.similarity import (
        mine_hard_negatives,
    )

    rows = [
        (1, [1.0, 0.0], 0),
        (2, [0.9, 0.1], 0),    # same-label near 1 -> hard positive
        (3, [0.8, 0.2], 1),    # diff-label near 1 -> hardest negative
        (4, [0.0, 1.0], 1),    # diff-label far    -> weaker negative
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = {(r.anchor_id, r.pair_type, r.rank): r.pair_id for r in
           mine_hard_negatives(df, df.where("vec_id = 1"),
                               k_neg=2, k_pos=1).collect()}
    assert out[(1, "pos", 1)] == 2
    assert out[(1, "neg", 1)] == 3 and out[(1, "neg", 2)] == 4
    assert len(out) == 3  # k_pos=1 caps positives even if more exist


def test_ivf_pq_persisted_index_matches_inline(spark, tmp_path):
    """The persisted IVF-PQ serving path (stored codes, no query-time
    training/encoding) must rank identically to ivf_pq_topk trained with
    the same deterministic parameters — both the raw ADC arm and the
    exact-rerank arm."""
    from data_engineering_task_adtech_data_pipeline_spark.operators import similarity as S
    from data_engineering_task_adtech_data_pipeline_spark.sources.readers import Testdata
    from conftest import SF_ORACLE
    from pyspark.sql import functions as F

    emb = Testdata(spark, SF_ORACLE).embeddings
    q = emb.where(F.col("vec_id") < 5)
    root = str(tmp_path / "ivfpq")
    kw = dict(n_cells=4, n_iter=2, m=4, n_codes=8, pq_n_iter=2, dim=64)
    cents = S.kmeans_fit(emb, n_cells=4, n_iter=2, dim=64)
    cb = S.ivf_pq_fit(emb, cents, m=4, n_codes=8, n_iter=2, dim=64)
    S.ivf_index_write(emb, cents, root, codebooks=cb)

    for rr in (None, 30):
        got = sorted(map(tuple, S.ivf_index_search(
            spark, root, q, k=5, n_probe=2, codebooks=cb, rerank=rr
        ).collect()))
        want = sorted(map(tuple, S.ivf_pq_topk(
            emb, q, k=5, n_probe=2, rerank=rr, **kw
        ).collect()))
        assert got == want, rr


def test_ivf_pq_index_with_streamed_delta(spark, tmp_path):
    """An IVF-PQ index grown via stream_ivf_ingest(codebooks=...) serves
    ivf_index_search(codebooks=...) over base + delta, identical to the
    inline operator on the union corpus."""
    from data_engineering_task_adtech_data_pipeline_spark.operators import similarity as S
    from data_engineering_task_adtech_data_pipeline_spark.sources.readers import Testdata
    from data_engineering_task_adtech_data_pipeline_spark.streaming.jobs import (
        stream_ivf_ingest,
    )
    from conftest import SF_ORACLE
    from pyspark.sql import functions as F

    emb = Testdata(spark, SF_ORACLE).embeddings
    old = emb.where(F.col("vec_id") % 2 == 0)
    new = emb.where(F.col("vec_id") % 2 == 1)
    q = emb.where(F.col("vec_id") < 5)
    d = str(tmp_path)
    root = d + "/ivfpq"
    cents = S.kmeans_fit(emb, n_cells=4, n_iter=2, dim=64)
    cb = S.ivf_pq_fit(emb, cents, m=4, n_codes=8, n_iter=2, dim=64)
    S.ivf_index_write(old, cents, root, codebooks=cb)
    new.write.mode("append").parquet(d + "/landing")
    stream_ivf_ingest(
        spark, d + "/landing", cents, root + "/stream_index",
        d + "/ckpt", codebooks=cb,
    ).awaitTermination(120)
    got = sorted(map(tuple, S.ivf_index_search(
        spark, root, q, k=5, n_probe=2, codebooks=cb, rerank=30
    ).collect()))
    want = sorted(map(tuple, S.ivf_pq_topk(
        emb, q, k=5, n_cells=4, n_iter=2, n_probe=2, m=4, n_codes=8,
        pq_n_iter=2, dim=64, rerank=30,
    ).collect()))
    assert got == want


def test_ivf_index_search_filtered(spark, tmp_path):
    """Filtered ANN on the persisted index: with every cell probed, a
    label predicate must reproduce brute force over the pre-filtered
    corpus exactly (top-k fills from allowed rows, not post-filtered),
    and the predicate must reach the parquet scan as a pushed filter."""
    from conftest import SF_ORACLE
    from pyspark.sql import functions as F

    from data_engineering_task_adtech_data_pipeline_spark.operators import similarity as S
    from data_engineering_task_adtech_data_pipeline_spark.sources.readers import Testdata

    emb = Testdata(spark, SF_ORACLE).embeddings
    q = emb.where(F.col("vec_id") < 5)
    root = str(tmp_path / "ivf")
    cents = S.kmeans_fit(emb, n_cells=4, n_iter=2, dim=64)
    S.ivf_index_write(emb, cents, root)
    got = sorted(map(tuple, S.ivf_index_search(
        spark, root, q, k=5, n_probe=4, predicate="label = 3"
    ).collect()))
    want = sorted(map(tuple, S.brute_force_topk(
        emb.where(F.col("label") == 3), q, k=5
    ).collect()))
    assert got == want and len(got) > 0
    plan = (
        S.ivf_index_search(spark, root, q, k=5, n_probe=2,
                           predicate="label = 3")
        ._jdf.queryExecution().executedPlan().toString()
    )
    pushed = [seg[:120] for seg in plan.split("PushedFilters: [")[1:]]
    assert any("label" in seg for seg in pushed), pushed


def test_ivf_sq8_reduces_to_flat_sq8_and_recall_floor(spark):
    """The IVF,SQ8 composition must (a) reduce EXACTLY to the flat
    sq8_topk when every cell is probed (cells prune which rows are
    scanned; probing all of them removes the prune, leaving the same
    integer-dot shortlist + exact re-rank), and (b) keep recall@5 >= 0.8
    vs exact cosine at a realistic probe fraction on the near-uniform
    testdata embeddings (IVF's worst case)."""
    from data_engineering_task_adtech_data_pipeline_spark.operators.similarity import (
        brute_force_topk,
        ivf_sq8_topk,
        sq8_topk,
    )

    emb = Testdata(spark, SF_ORACLE).embeddings
    q = emb.where(F.col("vec_id") < 10)
    flat = {
        (r.query_id, r.corpus_id, r.int8_dot, r.rank, round(r.cosine_sim, 9))
        for r in sq8_topk(emb, q, k=5, shortlist=20).collect()
    }
    all_probed = {
        (r.query_id, r.corpus_id, r.int8_dot, r.rank, round(r.cosine_sim, 9))
        for r in ivf_sq8_topk(
            emb, q, k=5, n_cells=4, n_probe=4, shortlist=20
        ).collect()
    }
    assert all_probed == flat

    truth = {(r.query_id, r.corpus_id)
             for r in brute_force_topk(emb, q, k=5).collect()}
    got = {(r.query_id, r.corpus_id)
           for r in ivf_sq8_topk(
               emb, q, k=5, n_cells=4, n_probe=2, shortlist=40
           ).collect()}
    assert len(got & truth) / len(truth) >= 0.8


def test_ivf_index_delete_tombstones_match_rebuilt_index(spark, tmp_path):
    """Tombstone deletes (round 11): after ivf_index_delete, every search
    arm — plain, sq8, and with a streamed delta — returns EXACTLY what an
    index rebuilt from the surviving rows with the same model returns;
    the anti-join runs BEFORE shortlist ranking, so deleted rows cannot
    consume shortlist/top-k slots; the plan carries a broadcast LEFT ANTI
    join; compaction folds the tombstones physically (table dropped,
    generation bumped, results unchanged)."""
    from data_engineering_task_adtech_data_pipeline_spark.streaming.jobs import (
        stream_ivf_ingest,
    )

    emb = Testdata(spark, SF_ORACLE).embeddings
    d = str(tmp_path)
    cents = similarity.kmeans_fit(emb, n_cells=4, n_iter=2, dim=64)
    scales = similarity.sq8_scales(emb)
    # base holds evens, delta streams odds; delete a mix of both
    similarity.ivf_index_write(
        emb.where(F.col("vec_id") % 2 == 0), cents, d + "/ivf", sq8=scales
    )
    emb.where(F.col("vec_id") % 2 == 1).write.mode("append").parquet(
        d + "/landing"
    )
    stream_ivf_ingest(
        spark, d + "/landing", cents, d + "/ivf/stream_index", d + "/ckpt",
        sq8_scales_vec=scales,
    ).awaitTermination(120)

    deleted = [6, 7, 11]
    # one delete via iterable, one via DataFrame, with a duplicate id —
    # the anti-join and the fold must both dedup
    similarity.ivf_index_delete(spark, d + "/ivf", deleted[:2])
    similarity.ivf_index_delete(
        spark, d + "/ivf",
        emb.where(F.col("vec_id").isin(deleted[1:])).select("vec_id"),
    )

    survivors = emb.where(~F.col("vec_id").isin(deleted))
    similarity.ivf_index_write(
        survivors, cents, d + "/rebuilt", sq8=scales
    )
    q = emb.where(F.col("vec_id") < 6)

    def rows(root, **kw):
        return sorted(map(tuple, similarity.ivf_index_search(
            spark, root, q, k=3, n_probe=2, **kw
        ).collect()))

    plain = similarity.ivf_index_search(spark, d + "/ivf", q, k=3, n_probe=2)
    got_ids = {r.corpus_id for r in plain.collect()}
    assert got_ids.isdisjoint(set(deleted))
    assert rows(d + "/ivf") == rows(d + "/rebuilt")
    assert (
        rows(d + "/ivf", sq8=True, shortlist=8)
        == rows(d + "/rebuilt", sq8=True, shortlist=8)
    )
    # the delete is an anti-join in the plan, broadcast on the id side
    plan = plain._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan and "Broadcast" in plan, plan

    # physical fold: tombstone table gone, generation bumped, results flat
    gen_before = similarity.index_generation(spark, d + "/ivf")
    before = rows(d + "/ivf", sq8=True, shortlist=8)
    similarity.ivf_index_compact(spark, d + "/ivf")
    import os

    assert not os.path.isdir(d + "/ivf/tombstones")
    assert similarity.index_generation(spark, d + "/ivf") == gen_before + 1
    assert rows(d + "/ivf", sq8=True, shortlist=8) == before
    folded = similarity.ivf_index_search(spark, d + "/ivf", q, k=3, n_probe=2)
    assert "LeftAnti" not in (
        folded._jdf.queryExecution().executedPlan().toString()
    )


def test_tombstones_apply_beside_an_empty_streamed_delta(spark, tmp_path):
    """A streamed delta holding no committed files (only the sink's
    _spark_metadata log) must not bypass the tombstone anti-join."""
    emb = Testdata(spark, SF_ORACLE).embeddings
    root = str(tmp_path / "ivf")
    cents = similarity.kmeans_fit(emb, n_cells=4, n_iter=1, dim=64)
    similarity.ivf_index_write(emb, cents, root)
    (tmp_path / "ivf" / "stream_index" / "_spark_metadata").mkdir(parents=True)
    q = emb.where(F.col("vec_id") < 3)

    def hits():
        return {
            r.corpus_id
            for r in similarity.ivf_index_search(spark, root, q, k=3).collect()
        }

    victims = hits()
    similarity.ivf_index_delete(spark, root, victims)
    survivors = hits()
    assert survivors and not survivors & victims


def test_tombstone_fold_guards_and_contract(spark, tmp_path):
    """The tombstone fold refuses interrupted rewrites (leftover
    index.rewriting / index.old), rejects an id column the index does not
    carry, and compaction without any tombstones or delta is a no-op that
    does not bump the generation."""
    import os

    import pytest

    emb = Testdata(spark, SF_ORACLE).embeddings
    d = str(tmp_path)
    cents = similarity.kmeans_fit(emb, n_cells=4, n_iter=2, dim=64)
    similarity.ivf_index_write(emb, cents, d + "/ivf")

    # no delta, no tombstones: nothing to do, generation untouched
    gen0 = similarity.index_generation(spark, d + "/ivf")
    assert similarity.ivf_index_compact(spark, d + "/ivf") == 0
    assert similarity.index_generation(spark, d + "/ivf") == gen0

    # wrong id column fails loudly instead of silently deleting nothing
    spark.createDataFrame([(1,)], "doc_id long").write.mode(
        "append"
    ).parquet(d + "/ivf/tombstones")
    with pytest.raises(ValueError, match="same id_col"):
        similarity.ivf_index_compact(spark, d + "/ivf")
    import shutil

    shutil.rmtree(d + "/ivf/tombstones")

    # leftover staging dir from a crashed fold refuses the run
    similarity.ivf_index_delete(spark, d + "/ivf", [0])
    os.makedirs(d + "/ivf/index.rewriting")
    with pytest.raises(RuntimeError, match="interrupted tombstone fold"):
        similarity.ivf_index_compact(spark, d + "/ivf")
    os.rmdir(d + "/ivf/index.rewriting")
    os.makedirs(d + "/ivf/index.old")
    with pytest.raises(RuntimeError, match="interrupted tombstone fold"):
        similarity.ivf_index_compact(spark, d + "/ivf")
    os.rmdir(d + "/ivf/index.old")
    # guards cleared: the fold proceeds and search drops the id
    similarity.ivf_index_compact(spark, d + "/ivf")
    q = emb.where(F.col("vec_id") < 3)
    got = similarity.ivf_index_search(spark, d + "/ivf", q, k=3, n_probe=4)
    assert 0 not in {r.corpus_id for r in got.collect()}


# --- persisted MinHash LSH dedup index (round 11) ---------------------------


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _dedup_corpus(spark):
    """~30 docs: themed families with word-level variation so some batch
    rows near-duplicate corpus rows and others are novel."""
    rows = []
    for i in range(30):
        rows.append(
            (
                i,
                f"corpus document number {i} talks about topic {i % 5} with "
                f"filler words alpha beta gamma delta epsilon zeta eta theta "
                f"iota kappa variant {i}",
            )
        )
    return _mk_docs(spark, rows)


def _dedup_batch(spark):
    return _mk_docs(
        spark,
        [
            # near-dup of corpus doc 3 (one word changed)
            (103, "corpus document number 3 talks about topic 3 with filler "
                  "words alpha beta gamma delta epsilon zeta eta theta iota "
                  "kappa variant 99"),
            # exact dup of corpus doc 7
            (107, "corpus document number 7 talks about topic 2 with filler "
                  "words alpha beta gamma delta epsilon zeta eta theta iota "
                  "kappa variant 7"),
            # novel
            (200, "entirely unrelated musings on distributed query engines "
                  "catalyst tungsten shuffles broadcast joins and codegen"),
            (201, "another novel paragraph mentioning parquet predicate "
                  "pushdown column pruning and adaptive execution plans"),
        ],
    )


def test_minhash_index_dedup_matches_dedup_against(spark, tmp_path):
    """Serving from the persisted index == the one-shot dedup_against on
    the same corpus, for both hash families and both verification modes
    (the index stores its own banding params, so serving banding cannot
    drift from the build)."""
    from data_engineering_task_adtech_data_pipeline_spark.operators import dedup

    corpus, batch = _dedup_corpus(spark), _dedup_batch(spark)
    for method in ("xxhash64", "md5"):
        root = str(tmp_path / f"idx_{method}")
        dedup.minhash_index_write(
            corpus, root, num_hashes=32, bands=8, hash_method=method
        )
        for thresh in (0.5, None):
            got = sorted(
                r.doc_id
                for r in dedup.minhash_index_dedup(
                    batch, root, verify_threshold=thresh
                ).collect()
            )
            want = sorted(
                r.doc_id
                for r in dedup.dedup_against(
                    batch, corpus, num_hashes=32, bands=8,
                    hash_method=method, verify_threshold=thresh,
                ).collect()
            )
            assert got == want, (method, thresh)
        # the verified mode must drop the two corpus near-dups, keep novels
        kept = sorted(
            r.doc_id
            for r in dedup.minhash_index_dedup(
                batch, root, verify_threshold=0.5
            ).collect()
        )
        assert kept == [200, 201], method


def test_minhash_index_serving_plan_broadcasts_and_prunes(spark, tmp_path):
    """The serving join must broadcast the batch's band keys and
    dynamic-partition-prune the stored bands scan (hb partitions) — the
    property that keeps a 100 TB index scan proportional to the batch —
    and carry NO sort-merge join at all: every non-stored side is
    O(batch) and broadcast (r12 VERDICT: two batch-proportional joins
    went SMJ under AQE, pure fixed serving latency)."""
    from data_engineering_task_adtech_data_pipeline_spark.operators import dedup

    root = str(tmp_path / "idx")
    dedup.minhash_index_write(
        _dedup_corpus(spark), root, num_hashes=32, bands=8
    )
    for thresh in (0.5, None):
        out = dedup.minhash_index_dedup(
            _dedup_batch(spark), root, verify_threshold=thresh
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" in plan, plan
        assert "dynamicpruning" in plan.lower(), plan
        assert "SortMergeJoin" not in plan, plan


def test_minhash_index_write_refuses_live_overlays(spark, tmp_path):
    """Rebuilding the base over a root that still holds a streamed delta
    or tombstones must refuse (bloom-pin parity): the leftover delta was
    profiled under the OLD parameters and would union into serving as
    silent corruption. After compaction the rebuild proceeds."""
    import pytest

    from data_engineering_task_adtech_data_pipeline_spark.operators import dedup
    from data_engineering_task_adtech_data_pipeline_spark.streaming.jobs import (
        stream_minhash_ingest,
    )

    d = str(tmp_path)
    root = d + "/idx"
    corpus = _dedup_corpus(spark)
    dedup.minhash_index_write(
        corpus.where(F.col("doc_id") < 20), root, num_hashes=32, bands=8
    )
    corpus.where(F.col("doc_id") >= 20).selectExpr(
        "doc_id", "text", "cast(null as string) lang",
        "cast(null as string) source", "cast(length(text) as long) n_chars",
    ).write.mode("append").parquet(d + "/in")
    stream_minhash_ingest(spark, d + "/in", root, d + "/ckpt").awaitTermination(120)
    with pytest.raises(ValueError, match="live 'stream_profiles' overlay"):
        dedup.minhash_index_write(corpus, root, num_hashes=64, bands=16)
    # an interrupted-compaction staging dir refuses ON SIGHT (its rows
    # may be half-applied; renaming it back would revive an old-parameter
    # delta under a new base)
    import os

    os.rename(root + "/stream_profiles", root + "/stream_profiles.compacting")
    with pytest.raises(
        ValueError, match="live 'stream_profiles.compacting' overlay"
    ):
        dedup.minhash_index_write(corpus, root, num_hashes=64, bands=16)
    os.rename(root + "/stream_profiles.compacting", root + "/stream_profiles")
    dedup.minhash_index_compact(spark, root)
    dedup.minhash_index_delete(spark, root, [1])
    with pytest.raises(ValueError, match="live 'tombstones' overlay"):
        dedup.minhash_index_write(corpus, root, num_hashes=64, bands=16)
    dedup.minhash_index_compact(spark, root)
    dedup.minhash_index_write(corpus, root, num_hashes=64, bands=16)
    # the rebuild invalidated the in-process params memo: serving now
    # bands with the NEW parameters
    assert dedup._minhash_params(spark, root).num_hashes == 64


def test_minhash_index_stream_ingest_and_compact(spark, tmp_path):
    """stream_minhash_ingest grows the index exactly-once (epoch-overwrite
    replay idempotence rides the checkpoint); serving over base+delta ==
    dedup_against on the union; compaction folds the delta, bumps the
    generation, and a stale checkpoint then refuses to restart."""
    import pytest

    from data_engineering_task_adtech_data_pipeline_spark.operators import dedup, similarity
    from data_engineering_task_adtech_data_pipeline_spark.streaming.jobs import (
        stream_minhash_ingest,
    )

    d = str(tmp_path)
    root = d + "/idx"
    corpus = _dedup_corpus(spark)
    old = corpus.where(F.col("doc_id") < 20)
    new = corpus.where(F.col("doc_id") >= 20)
    dedup.minhash_index_write(old, root, num_hashes=32, bands=8)

    new.selectExpr(
        "doc_id", "text", "cast(null as string) lang",
        "cast(null as string) source", "cast(length(text) as long) n_chars",
    ).write.mode("append").parquet(d + "/in")
    stream_minhash_ingest(spark, d + "/in", root, d + "/ckpt").awaitTermination(120)

    batch = _dedup_batch(spark)
    got = sorted(
        r.doc_id
        for r in dedup.minhash_index_dedup(batch, root, verify_threshold=0.5).collect()
    )
    want = sorted(
        r.doc_id
        for r in dedup.dedup_against(
            batch, corpus, num_hashes=32, bands=8, verify_threshold=0.5
        ).collect()
    )
    assert got == want

    n = dedup.minhash_index_compact(spark, root)
    assert n == new.count()
    assert similarity.index_generation(spark, root) == 1
    got2 = sorted(
        r.doc_id
        for r in dedup.minhash_index_dedup(batch, root, verify_threshold=0.5).collect()
    )
    assert got2 == want
    # idempotent re-compact: nothing left to fold
    assert dedup.minhash_index_compact(spark, root) == 0

    # stale checkpoint (pinned to generation 0) must refuse
    with pytest.raises(Exception, match="stale streaming checkpoint"):
        stream_minhash_ingest(spark, d + "/in", root, d + "/ckpt")
    # post-compaction ingest restarts with a FRESH checkpoint AND a fresh
    # landing dir (the compacted files would otherwise be re-read)
    _mk_docs(spark, [(90, "late arriving doc about theta iota kappa")]).selectExpr(
        "doc_id", "text", "cast(null as string) lang",
        "cast(null as string) source", "cast(length(text) as long) n_chars",
    ).write.mode("append").parquet(d + "/in2")
    stream_minhash_ingest(spark, d + "/in2", root, d + "/ckpt2").awaitTermination(120)
    assert dedup.minhash_index_compact(spark, root) == 1


def test_stream_dedup_pipeline_generation_guard(spark, tmp_path):
    """stream_dedup_pipeline grows the index delta like
    stream_minhash_ingest, so it pins the same generation: after
    minhash_index_compact, restarting on the old checkpoint refuses
    (replaying its epochs would double-ingest their docs), and a fresh
    checkpoint proceeds."""
    import pytest

    from data_engineering_task_adtech_data_pipeline_spark.operators import dedup, similarity
    from data_engineering_task_adtech_data_pipeline_spark.streaming.jobs import (
        read_epochs,
        stream_dedup_pipeline,
    )

    d = str(tmp_path)
    root = d + "/idx"
    corpus = _mk_docs(spark, [
        (1, "the quick brown fox jumps over the lazy dog again and again today"),
    ])
    dedup.minhash_index_write(corpus, root, num_hashes=32, bands=8)

    def run(landing, ckpt, accepted="/acc"):
        return stream_dedup_pipeline(
            spark, d + landing, root, None, d + accepted, d + ckpt,
            verify_threshold=0.5, schema=corpus.schema,
        )

    _mk_docs(spark, [
        (10, "fresh unique content that matches nothing stored anywhere at all yet"),
    ]).write.mode("append").parquet(d + "/in")
    run("/in", "/ckpt").awaitTermination(120)
    assert dedup.minhash_index_compact(spark, root) == 1
    assert similarity.index_generation(spark, root) == 1

    with pytest.raises(RuntimeError, match="stale streaming checkpoint"):
        run("/in", "/ckpt")
    # a fresh checkpoint is pinned to the new generation; it restarts
    # epoch numbering, so it gets a fresh landing dir (the compacted files
    # would otherwise be re-read) and a fresh accepted table
    _mk_docs(spark, [
        (20, "another novel document with its own vocabulary and no overlap here"),
    ]).write.mode("append").parquet(d + "/in2")
    run("/in2", "/ckpt2", "/acc2").awaitTermination(120)
    assert [r.doc_id for r in read_epochs(spark, d + "/acc").collect()] == [10]
    assert [r.doc_id for r in read_epochs(spark, d + "/acc2").collect()] == [20]


def test_minhash_index_delete_matches_rebuild(spark, tmp_path):
    """Tombstoned docs vanish from serving EXACTLY as if the index were
    rebuilt from the survivors — including the per-bucket cap contract:
    with max_bucket=1, deleting the bucket's sorted-first id admits the
    next sorted id (a capped-array store could not express this)."""
    from data_engineering_task_adtech_data_pipeline_spark.operators import dedup, similarity

    shared = (
        "identical boilerplate paragraph repeated across corpus entries "
        "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    )
    corpus = _mk_docs(
        spark, [(1, shared), (2, shared), (3, "totally different content "
                "about adaptive query execution and skew join salting")]
    )
    batch = _mk_docs(spark, [(10, shared), (11, "novel doc words only here "
                             "nothing shared with the corpus at all")])
    root = str(tmp_path / "idx")
    dedup.minhash_index_write(corpus, root, num_hashes=32, bands=8)

    def kept(max_bucket=1):
        return sorted(
            r.doc_id
            for r in dedup.minhash_index_dedup(
                batch, root, verify_threshold=0.5, max_bucket=max_bucket
            ).collect()
        )

    assert kept() == [11]  # 10 matches the capped bucket's id 1
    dedup.minhash_index_delete(spark, root, [1])
    # cap slot freed -> id 2 takes it (rebuild semantics), 10 still drops
    assert kept() == [11]
    want = sorted(
        r.doc_id
        for r in dedup.dedup_against(
            batch, corpus.where(F.col("doc_id") != 1), num_hashes=32,
            bands=8, verify_threshold=0.5, max_bucket=1,
        ).collect()
    )
    assert kept() == want
    dedup.minhash_index_delete(spark, root, [2])
    assert kept() == [10, 11]  # both boilerplate copies gone -> 10 is novel

    # physical fold: tombstone table dropped, results unchanged, gen bumped
    gen0 = similarity.index_generation(spark, root)
    dedup.minhash_index_compact(spark, root)
    from data_engineering_task_adtech_data_pipeline_spark import fs

    assert not fs.is_dir(spark, fs.join(root, "tombstones"))
    assert kept() == [10, 11]
    assert similarity.index_generation(spark, root) == gen0 + 1


def test_minhash_index_compact_refuses_interrupted_run(spark, tmp_path):
    import pytest

    from data_engineering_task_adtech_data_pipeline_spark import fs
    from data_engineering_task_adtech_data_pipeline_spark.operators import dedup

    root = str(tmp_path / "idx")
    dedup.minhash_index_write(_dedup_corpus(spark), root, num_hashes=32, bands=8)
    fs.mkdirs(spark, fs.join(root, "stream_profiles.compacting"))
    with pytest.raises(RuntimeError, match="interrupted compaction"):
        dedup.minhash_index_compact(spark, root)
    fs.delete(spark, fs.join(root, "stream_profiles.compacting"))
    assert dedup.minhash_index_compact(spark, root) == 0


def test_index_compact_refuses_corrupt_delta(spark, tmp_path):
    """Only a delta with no committed files reads as "nothing to fold":
    when a streamed delta's part file is corrupt, both index compactions
    raise and leave the streamed rows on disk (in the delta or its
    ``.compacting`` staging dir) instead of deleting them as empty."""
    import glob
    import os

    import pytest

    from data_engineering_task_adtech_data_pipeline_spark.operators import dedup
    from data_engineering_task_adtech_data_pipeline_spark.streaming.jobs import (
        stream_ivf_ingest,
        stream_minhash_ingest,
    )

    d = str(tmp_path)

    def corrupt_part(delta):
        parts = glob.glob(delta + "/**/part-*.parquet", recursive=True)
        assert len(parts) == 1, parts  # the one file schema inference reads
        with open(parts[0], "wb") as f:
            f.write(b"garbage bytes, not a parquet file")
        return os.path.basename(parts[0])

    def still_on_disk(root, name):
        return glob.glob(root + "/**/" + name, recursive=True)

    # MinHash index: foreachBatch epoch-landed delta
    mh = d + "/mh"
    docs = _mk_docs(spark, [
        (1, "the quick brown fox jumps over the lazy dog again and again today"),
    ])
    dedup.minhash_index_write(docs, mh, num_hashes=32, bands=8)
    _mk_docs(spark, [
        (10, "fresh unique content that matches nothing stored anywhere at all yet"),
    ]).coalesce(1).write.parquet(d + "/mh_in")
    stream_minhash_ingest(
        spark, d + "/mh_in", mh, d + "/mh_ckpt", schema=docs.schema
    ).awaitTermination(120)
    name = corrupt_part(mh + "/stream_profiles")
    with pytest.raises(Exception, match="(?i)parquet"):
        dedup.minhash_index_compact(spark, mh)
    assert still_on_disk(mh, name)

    # IVF index: native parquet sink delta
    emb = Testdata(spark, SF_ORACLE).embeddings
    ivf = d + "/ivf"
    cents = similarity.kmeans_fit(emb, n_cells=4, n_iter=1, dim=64)
    similarity.ivf_index_write(emb.where(F.col("vec_id") != 1), cents, ivf)
    emb.where(F.col("vec_id") == 1).coalesce(1).write.parquet(d + "/ivf_in")
    stream_ivf_ingest(
        spark, d + "/ivf_in", cents, ivf + "/stream_index", d + "/ivf_ckpt"
    ).awaitTermination(120)
    name = corrupt_part(ivf + "/stream_index")
    with pytest.raises(Exception, match="(?i)parquet"):
        similarity.ivf_index_compact(spark, ivf)
    assert still_on_disk(ivf, name)
