"""Streaming-vs-batch equivalence: the Structured Streaming daily rollup
must converge to the same silver state as the batch path, including when a
second (late-ish) file batch arrives."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_engineering_task_adtech_data_pipeline_spark.operators.upsert import (
    latest_version,
)
from data_engineering_task_adtech_data_pipeline_spark.sources.generators import (
    GenConfig,
    gen_impressions,
)
from data_engineering_task_adtech_data_pipeline_spark.streaming.jobs import (
    stream_events_daily,
)

KEYS = ["rtm_campaign_id", "event_date"]


@pytest.mark.slow
def test_streaming_matches_batch(spark, tmp_path):
    input_dir = str(tmp_path / "events_in")
    silver = str(tmp_path / "silver_daily")
    ckpt = str(tmp_path / "ckpt")

    batch1 = gen_impressions(spark, GenConfig(impressions_per_campaign=300))
    batch1.write.mode("append").parquet(input_dir)

    # lateness must cover the gap between file batches: groups older than
    # the watermark are expired state and late rows for them are dropped
    # (that drop is the *correct* streaming behavior; equivalence with batch
    # holds only within the lateness bound)
    q = stream_events_daily(
        spark, input_dir, silver, ckpt, lateness="30 days"
    )
    q.awaitTermination(120)

    # second file lands (new + late events for already-seen days)
    batch2 = gen_impressions(
        spark, GenConfig(impressions_per_campaign=200, seed=7, id_offset=50)
    )
    batch2.write.mode("append").parquet(input_dir)
    q2 = stream_events_daily(
        spark, input_dir, silver, ckpt, lateness="30 days"
    )
    q2.awaitTermination(120)

    got = latest_version(
        spark.read.parquet(silver), keys=KEYS, version="rtm_delta",
        tiebreak=["event_count"],
    )
    expect = (
        spark.read.parquet(input_dir)
        .groupBy(
            F.col("campaign_id").alias("rtm_campaign_id"),
            F.to_date("created_at").alias("event_date"),
        )
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.max("created_at").alias("rtm_delta"),
        )
    )
    g = got.select(*KEYS, "event_count", "rtm_delta")
    e = expect.select(*KEYS, "event_count", "rtm_delta")
    assert g.count() == e.count()
    assert g.exceptAll(e).count() == 0
    assert e.exceptAll(g).count() == 0


def test_streaming_prefix_matches_batch_silver_schema(spark):
    """With a prefix, the streaming rollup emits the exact batch-silver DDL
    column set, so both paths can append into one silver table without
    forking the parquet schema."""
    from data_engineering_task_adtech_data_pipeline_spark.plans.silver import (
        events_daily,
    )
    from data_engineering_task_adtech_data_pipeline_spark.streaming.jobs import (
        streaming_daily_agg,
    )

    events = spark.createDataFrame(
        [(1, 10, "2024-01-01 10:00:00")], "id long, campaign_id long, created_at string"
    ).withColumn("created_at", F.col("created_at").cast("timestamp"))
    campaign = spark.createDataFrame([(10, 7)], "id long, advertiser_id long")

    batch_cols = set(events_daily(events, campaign, prefix="impressions").columns)
    stream_cols = set(streaming_daily_agg(events, prefix="impressions").columns)
    # streaming lacks only the broadcast-joined advertiser id (added by the
    # campaign_map join in stream_events_daily)
    assert batch_cols - stream_cols == {"rtm_advertiser_id"}
    assert stream_cols <= batch_cols


@pytest.mark.slow
def test_stateful_running_totals_across_restarts(spark, tmp_path):
    """applyInPandasWithState running totals: state survives a query restart
    (checkpoint) and cumulative counts match the batch recompute."""
    from data_engineering_task_adtech_data_pipeline_spark.streaming.jobs import (
        stream_running_totals,
    )

    d = str(tmp_path)
    gen_impressions(spark, GenConfig(impressions_per_campaign=100)).write.mode(
        "append"
    ).parquet(d + "/in")
    q = stream_running_totals(spark, d + "/in", d + "/out", d + "/ckpt")
    q.awaitTermination(120)

    gen_impressions(
        spark, GenConfig(impressions_per_campaign=50, seed=5)
    ).write.mode("append").parquet(d + "/in")
    q = stream_running_totals(spark, d + "/in", d + "/out", d + "/ckpt")
    q.awaitTermination(120)

    got = latest_version(
        spark.read.parquet(d + "/out"),
        keys=["rtm_campaign_id"], version="rtm_delta", tiebreak=["event_count"],
    )
    from pyspark.sql import functions as F

    expect = (
        spark.read.parquet(d + "/in")
        .groupBy(F.col("campaign_id").alias("rtm_campaign_id"))
        .agg(F.count(F.lit(1)).alias("event_count"),
             F.max("created_at").alias("rtm_delta"))
    )
    g = {r.rtm_campaign_id: (r.event_count, r.rtm_delta) for r in got.collect()}
    e = {r.rtm_campaign_id: (r.event_count, r.rtm_delta) for r in expect.collect()}
    assert g == e


@pytest.mark.slow
def test_stream_attribution_matches_batch_interval_join(spark, tmp_path):
    """Stream-stream interval join == the batch interval join over the same
    files; last-touch via latest_version == batch asof-style argmax."""
    from data_engineering_task_adtech_data_pipeline_spark.streaming.jobs import (
        EVENT_SCHEMA,
        stream_attribution,
    )

    d = str(tmp_path)
    gen_impressions(spark, GenConfig(impressions_per_campaign=200)).write.mode(
        "append"
    ).parquet(d + "/imp")
    # clicks: a shifted subset so some fall inside / some outside the window
    gen_impressions(
        spark, GenConfig(impressions_per_campaign=40, seed=9)
    ).withColumn(
        "created_at", F.col("created_at") + F.expr("interval 7 minutes")
    ).write.mode("append").parquet(d + "/clk")

    imp_s = spark.readStream.schema(EVENT_SCHEMA).parquet(d + "/imp")
    clk_s = spark.readStream.schema(EVENT_SCHEMA).parquet(d + "/clk")
    pairs = stream_attribution(imp_s, clk_s, attribution_window="30 minutes")
    q = (
        pairs.writeStream.outputMode("append")
        .format("parquet")
        .option("path", d + "/out")
        .option("checkpointLocation", d + "/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(d + "/out")

    imp_b = spark.read.parquet(d + "/imp")
    clk_b = spark.read.parquet(d + "/clk")
    expect = clk_b.alias("c").join(
        imp_b.alias("i"),
        F.expr(
            "i.campaign_id = c.campaign_id AND c.created_at >= i.created_at"
            " AND c.created_at <= i.created_at + interval 30 minutes"
        ),
    ).select(
        F.col("c.id").alias("click_id"),
        F.col("i.id").alias("impression_id"),
    )
    assert got.count() == expect.count() > 0
    assert (
        got.select("click_id", "impression_id").exceptAll(expect).count() == 0
    )

    # last-touch: latest impression per click via the shared dedup contract
    last = latest_version(
        got, keys=["click_id"], version="imp_ts", tiebreak=["impression_id"]
    )
    assert last.count() == got.select("click_id").distinct().count()


@pytest.mark.slow
def test_dedup_stream_drops_redelivered_ids(spark, tmp_path):
    from data_engineering_task_adtech_data_pipeline_spark.streaming.jobs import (
        EVENT_SCHEMA,
        dedup_stream,
    )

    d = str(tmp_path)
    batch = gen_impressions(spark, GenConfig(impressions_per_campaign=100))
    batch.write.mode("append").parquet(d + "/in")
    batch.write.mode("append").parquet(d + "/in")  # at-least-once redelivery

    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(d + "/in")
    q = (
        dedup_stream(stream, id_cols=("id",), lateness="30 days")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", d + "/out")
        .option("checkpointLocation", d + "/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.read.parquet(d + "/out")
    assert out.count() == batch.count()
    assert out.select("id").distinct().count() == out.count()


@pytest.mark.slow
def test_post_batch_gold_rebuild_hook(spark, tmp_path):
    """foreachBatch's post_batch hook is the reports-downstream-of-delta
    wiring (track_delta.py:662-664): assert it fires after appends."""
    d = str(tmp_path)
    gen_impressions(spark, GenConfig(impressions_per_campaign=50)).write.mode(
        "append"
    ).parquet(d + "/in")

    def rebuild(s, epoch_id):
        latest_version(
            s.read.parquet(d + "/silver"),
            keys=KEYS, version="rtm_delta", tiebreak=["event_count"],
        ).groupBy("rtm_campaign_id").count().write.mode("overwrite").parquet(
            d + "/gold"
        )

    q = stream_events_daily(
        spark, d + "/in", d + "/silver", d + "/ckpt", post_batch=rebuild
    )
    q.awaitTermination(120)
    gold = spark.read.parquet(d + "/gold")
    assert gold.count() == 10  # one row per campaign with impressions


@pytest.mark.slow
def test_stream_decontaminate_matches_batch(spark, tmp_path):
    """Streaming ingestion decontamination (foreachBatch over file batches)
    converges to exactly the batch operator's output on the union of all
    landed files — contaminated docs dropped, clean docs untouched."""
    from data_engineering_task_adtech_data_pipeline_spark.operators.dedup import (
        decontaminate,
    )
    from data_engineering_task_adtech_data_pipeline_spark.streaming.jobs import (
        DOC_SCHEMA,
        stream_decontaminate,
    )

    d = str(tmp_path)
    eval_q = (
        "what is the capital city of the republic of france "
        "answer in one single word please"
    )  # 15 tokens -> three 13-grams
    filler = " ".join(f"tok{i}" for i in range(20))

    def docs(rows):
        return spark.createDataFrame(
            [(i, t, "en", "web", len(t)) for i, t in rows], schema=DOC_SCHEMA
        )

    benchmark = docs([(900, eval_q)])
    batch1 = docs([(1, f"intro {eval_q} outro"), (2, filler), (3, "short doc")])
    batch1.write.mode("append").parquet(d + "/in")
    q = stream_decontaminate(
        spark, d + "/in", benchmark, d + "/out", d + "/ckpt"
    )
    q.awaitTermination(120)

    batch2 = docs([(4, filler + " " + eval_q), (5, "tok1 " + filler)])
    batch2.write.mode("append").parquet(d + "/in")
    q2 = stream_decontaminate(
        spark, d + "/in", benchmark, d + "/out", d + "/ckpt"
    )
    q2.awaitTermination(120)

    got = sorted(
        r.doc_id for r in spark.read.parquet(d + "/out").select("doc_id").collect()
    )
    expect = sorted(
        r.doc_id
        for r in decontaminate(batch1.unionByName(batch2), benchmark)
        .select("doc_id")
        .collect()
    )
    assert got == expect == [2, 3, 5]


def test_stream_decontaminate_replay_is_idempotent(spark, tmp_path):
    """The sink writes epoch-partitioned with dynamic overwrite, so a
    replayed epoch (failure between write and checkpoint commit, simulated
    here by wiping the checkpoint and re-running over the same files)
    overwrites its own partition instead of appending duplicates."""
    import shutil

    from data_engineering_task_adtech_data_pipeline_spark.streaming.jobs import (
        DOC_SCHEMA,
        stream_decontaminate,
    )

    d = str(tmp_path)
    eval_q = (
        "what is the capital city of the republic of france "
        "answer in one single word please"
    )
    filler = " ".join(f"tok{i}" for i in range(20))
    benchmark = spark.createDataFrame(
        [(900, eval_q, "en", "web", len(eval_q))], schema=DOC_SCHEMA
    )
    batch = spark.createDataFrame(
        [
            (1, f"intro {eval_q} outro", "en", "web", 10),
            (2, filler, "en", "web", len(filler)),
        ],
        schema=DOC_SCHEMA,
    )
    batch.write.mode("append").parquet(d + "/in")
    stream_decontaminate(
        spark, d + "/in", benchmark, d + "/out", d + "/ckpt"
    ).awaitTermination(120)
    # replay the same epoch: lose the checkpoint, same input files
    shutil.rmtree(d + "/ckpt")
    stream_decontaminate(
        spark, d + "/in", benchmark, d + "/out", d + "/ckpt"
    ).awaitTermination(120)
    from data_engineering_task_adtech_data_pipeline_spark.streaming.jobs import (
        read_epochs,
    )

    out = read_epochs(spark, d + "/out")
    # the idempotence partition column is stripped for consumers
    assert "__epoch_id" not in out.columns
    got = [r.doc_id for r in out.collect()]
    assert sorted(got) == [2]  # exactly once despite the replayed epoch


def test_stream_ivf_ingest_matches_batch_assignment(spark, tmp_path):
    """Streaming ANN ingestion: vectors landing as files are routed to the
    same trained IVF cells the batch assignment produces, each micro-batch
    landed as its own epoch partition (the module's epoch-idempotent
    sink)."""
    import os

    from data_engineering_task_adtech_data_pipeline_spark.operators import similarity
    from data_engineering_task_adtech_data_pipeline_spark.sources.readers import (
        Testdata,
    )
    from data_engineering_task_adtech_data_pipeline_spark.streaming.jobs import (
        read_epochs,
        stream_ivf_ingest,
    )

    d = str(tmp_path)
    emb = Testdata(spark, "/root/testdata/sf0.001").embeddings
    centroids = similarity.kmeans_fit(emb, n_cells=4, n_iter=2, dim=64)

    # two landing batches of "new" vectors
    emb.where(F.col("vec_id") % 2 == 0).write.mode("append").parquet(d + "/in")
    stream_ivf_ingest(
        spark, d + "/in", centroids, d + "/index", d + "/ckpt"
    ).awaitTermination(120)
    emb.where(F.col("vec_id") % 2 == 1).write.mode("append").parquet(d + "/in")
    stream_ivf_ingest(
        spark, d + "/in", centroids, d + "/index", d + "/ckpt"
    ).awaitTermination(120)

    # physical layout: one partition per micro-batch epoch
    assert sorted(
        n for n in os.listdir(d + "/index") if "=" in n
    ) == ["__epoch_id=0", "__epoch_id=1"], os.listdir(d + "/index")

    rows = read_epochs(spark, d + "/index").collect()
    got = {r.vec_id: r.cell for r in rows}
    want = {
        r.vec_id: r.cell
        for r in similarity._with_cell(
            similarity.with_double_embedding(emb), "embedding", centroids
        ).collect()
    }
    assert got == want  # every vector ingested, same cell
    assert len(rows) == emb.count()  # exactly once


@pytest.mark.slow
def test_stream_hll_monitor_matches_batch_sketch(spark, tmp_path):
    from pyspark.sql import types as T

    from data_engineering_task_adtech_data_pipeline_spark.operators import sketch
    from data_engineering_task_adtech_data_pipeline_spark.streaming.jobs import (
        read_hll_registers,
        stream_hll_monitor,
    )

    input_dir = str(tmp_path / "vals_in")
    regs_path = str(tmp_path / "hll_regs")
    ckpt = str(tmp_path / "hll_ckpt")
    schema = T.StructType(
        [T.StructField("g", T.StringType()), T.StructField("v", T.StringType())]
    )

    def mk(lo, hi):
        return spark.range(lo, hi).select(
            F.when(F.col("id") % 2 == 0, "even").otherwise("odd").alias("g"),
            F.concat(F.lit("u"), F.col("id") % 4000).alias("v"),
        )

    mk(0, 3000).write.mode("append").parquet(input_dir)
    q = stream_hll_monitor(
        spark, input_dir, schema, "v", regs_path, ckpt, group_cols=["g"], p=9
    )
    q.awaitTermination(120)
    # second, overlapping batch: sketch must fold, not double-count
    mk(1500, 5000).write.mode("append").parquet(input_dir)
    q = stream_hll_monitor(
        spark, input_dir, schema, "v", regs_path, ckpt, group_cols=["g"], p=9
    )
    q.awaitTermination(120)

    streamed = read_hll_registers(spark, regs_path, ["g"])
    batch = sketch.hll_registers(mk(0, 5000), "v", ["g"], p=9)
    assert {(r.g, r.bucket, r.rho) for r in streamed.collect()} == {
        (r.g, r.bucket, r.rho) for r in batch.collect()
    }
    est = {
        r.g: r.est_distinct
        for r in sketch.hll_estimate(streamed, ["g"], p=9).collect()
    }
    # 4000 distinct v values split evenly across two groups -> 2000 each
    for g in ("even", "odd"):
        assert abs(est[g] - 2000) / 2000 < 0.25


def test_stream_dedup_against_matches_batch(spark, tmp_path):
    """Streaming incremental dedup converges to the batch operator's output
    on the union of all landed files: corpus near-dups dropped, novel docs
    (and within-batch duplicates, per the documented contract) kept. A
    replayed epoch (checkpoint wiped while exactly one epoch exists, same
    input files) overwrites its own partition instead of appending."""
    import shutil

    from data_engineering_task_adtech_data_pipeline_spark.operators.dedup import (
        dedup_against,
    )
    from data_engineering_task_adtech_data_pipeline_spark.streaming.jobs import (
        DOC_SCHEMA,
        read_epochs,
        stream_dedup_against,
    )

    d = str(tmp_path)
    known = (
        "the quick brown fox jumps over the lazy dog near the river bank today ok"
    )
    near = (
        "the quick brown fox jumps over the lazy dog near the river bank tonight ok"
    )
    novel = "completely different content about spark query engines and shuffles"

    def docs(rows):
        return spark.createDataFrame(
            [(i, t, "en", "web", len(t)) for i, t in rows], schema=DOC_SCHEMA
        )

    corpus = docs([(1, known)])
    batch1 = docs([(10, near), (11, novel)])
    batch1.write.mode("append").parquet(d + "/in")
    stream_dedup_against(
        spark, d + "/in", corpus, d + "/out", d + "/ckpt",
        verify_threshold=0.5,
    ).awaitTermination(120)
    once = sorted(map(tuple, read_epochs(spark, d + "/out").collect()))
    shutil.rmtree(d + "/ckpt")
    stream_dedup_against(
        spark, d + "/in", corpus, d + "/out", d + "/ckpt",
        verify_threshold=0.5,
    ).awaitTermination(120)
    assert sorted(map(tuple, read_epochs(spark, d + "/out").collect())) == once

    batch2 = docs([(12, known), (13, novel + " plus a novel twist here")])
    batch2.write.mode("append").parquet(d + "/in")
    stream_dedup_against(
        spark, d + "/in", corpus, d + "/out", d + "/ckpt",
        verify_threshold=0.5,
    ).awaitTermination(120)

    got = sorted(r.doc_id for r in read_epochs(spark, d + "/out").collect())
    expect = sorted(
        r.doc_id
        for r in dedup_against(
            batch1.unionByName(batch2), corpus, verify_threshold=0.5
        ).collect()
    )
    assert got == expect == [11, 13]
    assert "__epoch_id" not in read_epochs(spark, d + "/out").columns


def test_stream_datacard_matches_batch_census(spark, tmp_path):
    """The streamed data card over two file batches equals the batch
    corpus_datacard on the union for every additive column, and the HLL
    distinct-content estimate is exact at tiny cardinalities (every
    distinct hash lands in its own bucket)."""
    from data_engineering_task_adtech_data_pipeline_spark.operators.text import (
        corpus_datacard,
    )
    from data_engineering_task_adtech_data_pipeline_spark.streaming.jobs import (
        DOC_SCHEMA,
        read_datacard,
        stream_datacard,
    )

    d = str(tmp_path)

    def docs(rows):
        return spark.createDataFrame(
            [(i, t, "en", s, len(t)) for i, t, s in rows], schema=DOC_SCHEMA
        )

    b1 = docs([
        (1, "the cat and the dog in the house is that so", "a"),
        (2, "the cat and the dog in the house is that so", "a"),  # dup
        (3, "el la de que los las una por si no", "b"),
    ])
    b2 = docs([
        (4, "the bird and the fish in the pond is that so", "a"),
        (5, "the cat and the dog in the house is that so", "a"),  # dup again
    ])
    b1.write.mode("append").parquet(d + "/in")
    stream_datacard(spark, d + "/in", d + "/card", d + "/ckpt",
                    short_words=5).awaitTermination(120)
    b2.write.mode("append").parquet(d + "/in")
    stream_datacard(spark, d + "/in", d + "/card", d + "/ckpt",
                    short_words=5).awaitTermination(120)

    got = {(r.source, r.lang_pred): r for r in
           read_datacard(spark, d + "/card").collect()}
    want = {(r.source, r.lang_pred): r for r in
            corpus_datacard(b1.unionByName(b2), short_words=5).collect()}
    assert set(got) == set(want)
    for k, w in want.items():
        g = got[k]
        assert (g.n_docs, g.total_chars, g.total_words) == (
            w.n_docs, w.total_chars, w.total_words
        ), k
        assert g.mean_doc_words == w.mean_doc_words
        assert g.pct_short == w.pct_short
        # tiny cardinality: sketch estimate == exact distinct count
        assert round(g.n_distinct_content_est) == w.n_distinct_content, k


def test_stream_datacard_replay_is_idempotent(spark, tmp_path):
    """ADVICE r5: foreachBatch is at-least-once, and the datacard counts
    SUM on read — an epoch appended twice would permanently double-count
    n_docs/total_chars/total_words (HLL registers alone survive via
    max-merge). The sink now stamps __epoch_id and dynamic-overwrites, so
    a replayed epoch (checkpoint wiped, same input files) replaces its own
    partition instead of appending."""
    import shutil

    from data_engineering_task_adtech_data_pipeline_spark.streaming.jobs import (
        DOC_SCHEMA,
        read_datacard,
        stream_datacard,
    )

    d = str(tmp_path)
    batch = spark.createDataFrame(
        [
            (1, "the cat and the dog in the house is that so", "en", "a", 43),
            (2, "el la de que los las una por si no", "es", "b", 34),
        ],
        schema=DOC_SCHEMA,
    )
    batch.write.mode("append").parquet(d + "/in")
    stream_datacard(spark, d + "/in", d + "/card", d + "/ckpt",
                    short_words=5).awaitTermination(120)
    # replay the same epoch: lose the checkpoint, same input files
    shutil.rmtree(d + "/ckpt")
    stream_datacard(spark, d + "/in", d + "/card", d + "/ckpt",
                    short_words=5).awaitTermination(120)

    got = {r.source: r for r in read_datacard(spark, d + "/card").collect()}
    assert got["a"].n_docs == 1 and got["b"].n_docs == 1
    assert got["a"].total_words == 11 and got["b"].total_words == 10


@pytest.mark.slow
def test_stream_events_daily_merge_sink_matches_batch(spark, tmp_path):
    """sink_format='merge': the streaming daily rollup lands through
    merge_upsert (q59's copy-on-write layout), so a read needs NO dedup
    window — read_merged over two file batches equals the batch recompute,
    converging the streaming and batch upsert stories (r5 verdict #5)."""
    from data_engineering_task_adtech_data_pipeline_spark.operators.upsert import (
        read_merged,
    )

    d = str(tmp_path)
    gen_impressions(spark, GenConfig(impressions_per_campaign=300)).write.mode(
        "append"
    ).parquet(d + "/in")
    stream_events_daily(
        spark, d + "/in", d + "/silver", d + "/ckpt",
        lateness="30 days", sink_format="merge",
        merge_buckets=4,
    ).awaitTermination(120)
    gen_impressions(
        spark, GenConfig(impressions_per_campaign=200, seed=7, id_offset=50)
    ).write.mode("append").parquet(d + "/in")
    stream_events_daily(
        spark, d + "/in", d + "/silver", d + "/ckpt",
        lateness="30 days", sink_format="merge",
        merge_buckets=4,
    ).awaitTermination(120)

    got = read_merged(spark, d + "/silver").select(
        *KEYS, "event_count", "rtm_delta"
    )
    expect = (
        spark.read.parquet(d + "/in")
        .groupBy(
            F.col("campaign_id").alias("rtm_campaign_id"),
            F.to_date("created_at").alias("event_date"),
        )
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.max("created_at").alias("rtm_delta"),
        )
    )
    assert got.count() == expect.count()
    assert got.exceptAll(expect).count() == 0
    assert expect.exceptAll(got).count() == 0


@pytest.mark.slow
def test_stream_events_daily_merge_sink_replay_after_crash(spark, tmp_path):
    """A replayed epoch (crash between merge and checkpoint commit,
    simulated by wiping the checkpoint) re-merges the same source —
    max-version-wins MERGE is idempotent, so the merged table is unchanged
    and still dedup-window-free. Composes the stream_decontaminate replay
    recipe with merge_upsert's replay contract
    (test_merge_upsert_replay_after_partial_swap)."""
    import shutil

    from data_engineering_task_adtech_data_pipeline_spark.operators.upsert import (
        read_merged,
    )

    d = str(tmp_path)
    gen_impressions(spark, GenConfig(impressions_per_campaign=100)).write.mode(
        "append"
    ).parquet(d + "/in")
    stream_events_daily(
        spark, d + "/in", d + "/silver", d + "/ckpt",
        lateness="30 days", sink_format="merge",
        merge_buckets=4,
    ).awaitTermination(120)
    before = sorted(
        (r.rtm_campaign_id, str(r.event_date), r.event_count)
        for r in read_merged(spark, d + "/silver").collect()
    )
    # replay the same epoch: lose the checkpoint, same input files
    shutil.rmtree(d + "/ckpt")
    stream_events_daily(
        spark, d + "/in", d + "/silver", d + "/ckpt",
        lateness="30 days", sink_format="merge",
        merge_buckets=4,
    ).awaitTermination(120)
    after = sorted(
        (r.rtm_campaign_id, str(r.event_date), r.event_count)
        for r in read_merged(spark, d + "/silver").collect()
    )
    assert after == before


@pytest.mark.slow
def test_stream_cm_monitor_matches_batch_and_replays_idempotently(
    spark, tmp_path
):
    """Streamed Count-Min over two file batches == batch cm_sketch on the
    union (counters are exactly additive), point estimates agree, and a
    replayed epoch (checkpoint wiped) leaves the counters unchanged
    (epoch-stamped dynamic overwrite — summed counters would otherwise
    double-count, unlike HLL's max-merge registers)."""
    import shutil

    from data_engineering_task_adtech_data_pipeline_spark.operators.sketch import (
        cm_estimate,
        cm_sketch,
    )
    from data_engineering_task_adtech_data_pipeline_spark.streaming.jobs import (
        EVENT_SCHEMA,
        read_cm_sketch,
        stream_cm_monitor,
    )

    d = str(tmp_path)
    b1 = gen_impressions(spark, GenConfig(impressions_per_campaign=100))
    b1.write.mode("append").parquet(d + "/in")
    stream_cm_monitor(
        spark, d + "/in", EVENT_SCHEMA, "campaign_id", d + "/sk", d + "/ckpt"
    ).awaitTermination(120)
    b2 = gen_impressions(
        spark, GenConfig(impressions_per_campaign=50, seed=5)
    )
    b2.write.mode("append").parquet(d + "/in")
    stream_cm_monitor(
        spark, d + "/in", EVENT_SCHEMA, "campaign_id", d + "/sk", d + "/ckpt"
    ).awaitTermination(120)

    streamed = {(r.j, r.col): r.cnt
                for r in read_cm_sketch(spark, d + "/sk").collect()}
    batch = {(r.j, r.col): r.cnt
             for r in cm_sketch(
                 spark.read.parquet(d + "/in"), "campaign_id"
             ).collect()}
    assert streamed == batch

    # point estimates from the folded stream sketch match exact counts
    # (tiny cardinality: no collisions at w=2048)
    q = spark.read.parquet(d + "/in").select("campaign_id").distinct()
    est = {r.campaign_id: r.est_cnt for r in cm_estimate(
        read_cm_sketch(spark, d + "/sk"), q, "campaign_id"
    ).collect()}
    exact = {r.campaign_id: r.cnt for r in
             spark.read.parquet(d + "/in")
             .groupBy("campaign_id").agg(F.count(F.lit(1)).alias("cnt"))
             .collect()}
    assert est == exact

    # replay: a re-executed EPOCH (crash between write and checkpoint
    # commit, simulated by wiping the checkpoint while exactly one epoch
    # exists) overwrites its own partition -> identical counters. NB: the
    # guarantee is same-epoch replay (foreachBatch's at-least-once), not
    # deleting a multi-epoch checkpoint (which renumbers epochs).
    b1.write.mode("append").parquet(d + "/in2")
    stream_cm_monitor(
        spark, d + "/in2", EVENT_SCHEMA, "campaign_id", d + "/sk2",
        d + "/ckpt2",
    ).awaitTermination(120)
    once = {(r.j, r.col): r.cnt
            for r in read_cm_sketch(spark, d + "/sk2").collect()}
    shutil.rmtree(d + "/ckpt2")
    stream_cm_monitor(
        spark, d + "/in2", EVENT_SCHEMA, "campaign_id", d + "/sk2",
        d + "/ckpt2",
    ).awaitTermination(120)
    after = {(r.j, r.col): r.cnt
             for r in read_cm_sketch(spark, d + "/sk2").collect()}
    assert after == once


def test_stream_quality_monitor_matches_batch_gates(spark, tmp_path):
    """Two file batches streamed through the quality monitor fold to the
    same per-source keep counts and mean entropy as running the batch
    gopher_gate/char_entropy gates on the union — including docs the
    gates emit no row for (empty text counts as not-keep). The counters
    SUM on read, so a replayed epoch (checkpoint wiped while exactly one
    epoch exists, same input files) must replace its own partition rather
    than double-count."""
    import shutil

    from data_engineering_task_adtech_data_pipeline_spark.operators.text import (
        char_entropy,
        gopher_gate,
    )
    from data_engineering_task_adtech_data_pipeline_spark.streaming.jobs import (
        DOC_SCHEMA,
        read_quality_report,
        stream_quality_monitor,
    )

    d = str(tmp_path)
    rep = "spam " * 30

    def docs(rows):
        return spark.createDataFrame(
            [(i, t, "en", s, len(t)) for i, t, s in rows], schema=DOC_SCHEMA
        )

    b1 = docs([
        (1, "the quick brown fox jumps over the lazy dog and then some "
            "more words follow here to clear the minimum length gate ok", "a"),
        (2, rep, "a"),          # repetitive: fails gopher + entropy
        (3, "", "b"),           # empty text: no gate rows at all
    ])
    b2 = docs([
        (4, "spark runs declarative plans over columnar data with joins "
            "windows and aggregates across many executor cores today "
            "while catalyst prunes filters and broadcasts small tables", "b"),
    ])
    b1.write.mode("append").parquet(d + "/in")
    stream_quality_monitor(
        spark, d + "/in", d + "/q", d + "/ckpt"
    ).awaitTermination(120)
    once = sorted(map(tuple, read_quality_report(spark, d + "/q").collect()))
    shutil.rmtree(d + "/ckpt")
    stream_quality_monitor(
        spark, d + "/in", d + "/q", d + "/ckpt"
    ).awaitTermination(120)
    assert sorted(
        map(tuple, read_quality_report(spark, d + "/q").collect())
    ) == once
    b2.write.mode("append").parquet(d + "/in")
    stream_quality_monitor(
        spark, d + "/in", d + "/q", d + "/ckpt"
    ).awaitTermination(120)

    got = {r.source: r for r in read_quality_report(spark, d + "/q").collect()}
    union = b1.unionByName(b2)
    gg = {r.doc_id: r.keep for r in gopher_gate(union).collect()}
    ce = {r.doc_id: (r.keep, r.entropy_nats) for r in
          char_entropy(union).collect()}
    for src, ids in (("a", [1, 2]), ("b", [3, 4])):
        r = got[src]
        assert r.n_docs == len(ids)
        assert r.n_keep_gopher == sum(bool(gg.get(i, False)) for i in ids)
        assert r.n_keep_entropy == sum(bool(ce.get(i, (False,))[0]) for i in ids)
        want_mean = sum(ce[i][1] for i in ids if i in ce) / len(ids)
        assert r.mean_entropy_nats == pytest.approx(want_mean, abs=1e-6)
    assert got["a"].n_keep_both == 1 and got["b"].n_keep_both == 1


def test_stream_kmv_monitor_matches_batch_sketch(spark, tmp_path):
    from pyspark.sql import types as T

    from data_engineering_task_adtech_data_pipeline_spark.operators import sketch
    from data_engineering_task_adtech_data_pipeline_spark.streaming.jobs import (
        read_kmv_sketch,
        stream_kmv_monitor,
    )

    input_dir = str(tmp_path / "kmv_in")
    sk_path = str(tmp_path / "kmv_log")
    ckpt = str(tmp_path / "kmv_ckpt")
    schema = T.StructType(
        [T.StructField("g", T.StringType()), T.StructField("v", T.StringType())]
    )

    def mk(lo, hi):
        return spark.range(lo, hi).select(
            F.when(F.col("id") % 2 == 0, "even").otherwise("odd").alias("g"),
            F.concat(F.lit("u"), F.col("id") % 4000).alias("v"),
        )

    k = 128
    mk(0, 3000).write.mode("append").parquet(input_dir)
    q = stream_kmv_monitor(
        spark, input_dir, schema, "v", sk_path, ckpt, group_cols=["g"], k=k
    )
    q.awaitTermination(120)
    # second, overlapping batch: the merge law must fold, not double-count
    mk(1500, 5000).write.mode("append").parquet(input_dir)
    q = stream_kmv_monitor(
        spark, input_dir, schema, "v", sk_path, ckpt, group_cols=["g"], k=k
    )
    q.awaitTermination(120)

    streamed = read_kmv_sketch(spark, sk_path, ["g"], k=k)
    batch = sketch.kmv_sketch(mk(0, 5000), "v", ["g"], k=k)
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.collect())
    )
    est = {
        r.g: r.est_distinct
        for r in sketch.kmv_estimate(streamed, ["g"], k=k).collect()
    }
    for g in ("even", "odd"):
        assert abs(est[g] - 2000) / 2000 < 0.35, est


def test_stream_bloom_monitor_matches_batch_and_serves_novelty(spark, tmp_path):
    """Two overlapping waves + a full fresh-checkpoint REPLAY fold to a
    filter BIT-IDENTICAL to one batch build over the union (bitwise OR is
    idempotent — the replay contributes duplicate rows that vanish in the
    collapse), and the collapsed filter serves definite-novelty decisions
    with zero false 'already seen' answers."""
    from pyspark.sql import types as T

    import pytest

    from data_engineering_task_adtech_data_pipeline_spark.operators import sketch
    from data_engineering_task_adtech_data_pipeline_spark.streaming.jobs import (
        read_bloom_params,
        read_bloom_sketch,
        stream_bloom_filter_rows,
        stream_bloom_monitor,
    )

    input_dir = str(tmp_path / "bl_in")
    sk_path = str(tmp_path / "bl_log")
    ckpt = str(tmp_path / "bl_ckpt")
    schema = T.StructType([T.StructField("v", T.StringType())])
    m, k = 1 << 14, 5

    def mk(lo, hi):
        return spark.range(lo, hi).select(
            F.concat(F.lit("u"), F.col("id")).alias("v")
        )

    mk(0, 1500).write.mode("append").parquet(input_dir)
    q = stream_bloom_monitor(
        spark, input_dir, schema, "v", sk_path, ckpt, num_bits=m, num_hashes=k
    )
    q.awaitTermination(120)
    mk(1000, 2500).write.mode("append").parquet(input_dir)
    q = stream_bloom_monitor(
        spark, input_dir, schema, "v", sk_path, ckpt, num_bits=m, num_hashes=k
    )
    q.awaitTermination(120)
    # full replay from a FRESH checkpoint: every epoch re-lands; the OR
    # collapse must absorb the duplicates exactly
    q = stream_bloom_monitor(
        spark, input_dir, schema, "v", sk_path, str(tmp_path / "bl_ckpt2"),
        num_bits=m, num_hashes=k,
    )
    q.awaitTermination(120)

    # (num_bits, num_hashes, method) were pinned beside the log at stream
    # start — the monitor's default is the sketch family's default
    # (xxhash64), so ad-hoc consumers relying on defaults probe correctly
    p = read_bloom_params(spark, sk_path)
    assert (p.num_bits, p.num_hashes, p.method) == (m, k, "xxhash64")
    streamed = {
        (r.word, r.bits) for r in read_bloom_sketch(spark, sk_path).collect()
    }
    batch = {
        (r.word, r.bits)
        for r in sketch.bloom_sketch(mk(0, 2500), "v", m, k).collect()
    }
    assert streamed == batch
    # novelty serving through the pinned-params path: every seen key
    # answers "maybe seen"; the definite-new set is a subset of the
    # genuinely-new probes
    seen_missed = stream_bloom_filter_rows(
        spark, mk(0, 2500), sk_path, "v", keep="miss"
    ).count()
    assert seen_missed == 0
    fresh = stream_bloom_filter_rows(
        spark, mk(9000, 10000), sk_path, "v", keep="miss"
    ).count()
    assert fresh > 800  # most genuinely-new keys are certified new
    # restarting the monitor with different parameters must refuse — the
    # mixed-parameter OR would probe wrong bit positions silently
    with pytest.raises(ValueError, match="pinned|built with"):
        stream_bloom_monitor(
            spark, input_dir, schema, "v", sk_path,
            str(tmp_path / "bl_ckpt3"), num_bits=m, num_hashes=k + 1,
        )
    # a pre-pinning sketch log (params table lost/never written) must
    # ALSO refuse: its build parameters are unknowable, so adopting the
    # caller's defaults as the pin could OR wrong-hash positions into it
    # (r12 ADVICE — the md5→xxhash64 default flip made this live)
    orphan = str(tmp_path / "bl_orphan")
    sketch.bloom_sketch(mk(0, 100), "v", m, k, method="md5").write.parquet(
        orphan
    )
    with pytest.raises(ValueError, match="no pinned params"):
        stream_bloom_monitor(
            spark, input_dir, schema, "v", orphan,
            str(tmp_path / "bl_ckpt4"), num_bits=m, num_hashes=k,
        )


def test_stream_dedup_pipeline_end_to_end(spark, tmp_path):
    """The full continuously-ingesting dedup pipeline in one job: batch →
    index dedup → survivors landed + ingested into the index delta →
    links folded into the component store. Covers: (a) duplicates of the
    ORIGINAL corpus rejected and clustered; (b) a crashed/abandoned
    checkpoint replaying the same files over already-landed state —
    the self-match guard must keep the survivor set identical;
    (c) duplicates of a STREAMED-IN survivor rejected via the index
    delta and clustered; (d) the epoch partition layout keeps everything
    idempotent per checkpoint."""
    from pyspark.sql import types as T

    from data_engineering_task_adtech_data_pipeline_spark.operators import dedup
    from data_engineering_task_adtech_data_pipeline_spark.streaming.jobs import (
        stream_dedup_pipeline,
    )

    text_a = "the quick brown fox jumps over the lazy dog again and again today"
    text_b = "an entirely different corpus document about spark pipelines at scale"
    text_c = "fresh unique content that matches nothing stored anywhere at all yet"
    text_d = "another novel document with its own vocabulary and no overlap here"

    index_root = str(tmp_path / "idx")
    comp_root = str(tmp_path / "comp")
    accepted = str(tmp_path / "accepted")
    input_dir = str(tmp_path / "in")
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    dedup.minhash_index_write(
        spark.createDataFrame(
            [(1, text_a), (2, text_b)], "doc_id long, text string"
        ),
        index_root,
        num_hashes=32,
        bands=8,
    )
    dedup.components_write(
        spark.createDataFrame([], "id long, component long"), comp_root
    )

    def run(ckpt):
        q = stream_dedup_pipeline(
            spark, input_dir, index_root, comp_root, accepted,
            str(tmp_path / ckpt), verify_threshold=0.5, schema=schema,
        )
        q.awaitTermination(120)

    def accepted_ids():
        return {r.doc_id for r in spark.read.parquet(accepted).collect()}

    def view():
        return {
            (r.id, r.component)
            for r in dedup.components_read(spark, comp_root).collect()
        }

    # wave 1: 10 duplicates corpus doc 1; 11 is new
    spark.createDataFrame(
        [(10, text_a), (11, text_c)], "doc_id long, text string"
    ).write.mode("append").parquet(input_dir)
    run("ck1")
    assert accepted_ids() == {11}
    assert view() == {(1, 1), (10, 1)}

    # abandoned-checkpoint replay over already-landed state: without the
    # self-match guard, 11 would now duplicate its own landed profile
    run("ck2")
    assert accepted_ids() == {11}
    assert view() == {(1, 1), (10, 1)}

    # wave 2: 20 duplicates the STREAMED survivor 11 (via the index
    # delta); 21 is new
    spark.createDataFrame(
        [(20, text_c), (21, text_d)], "doc_id long, text string"
    ).write.mode("append").parquet(input_dir)
    run("ck2")
    assert accepted_ids() == {11, 21}
    assert view() == {(1, 1), (10, 1), (11, 11), (20, 11)}

    # wave 3 (r11 ADVICE: intra-batch dedup): 30 and 31 are duplicates of
    # EACH OTHER arriving in the same micro-batch (neither matches the
    # corpus) — the min-id doc 30 survives, 31 is dropped AND clustered
    # with it; 32 duplicates corpus doc 1 as before
    text_e = "a brand new paragraph shared verbatim by two same-batch arrivals"
    spark.createDataFrame(
        [(30, text_e), (31, text_e), (32, text_a)],
        "doc_id long, text string",
    ).write.mode("append").parquet(input_dir)
    run("ck2")
    assert accepted_ids() == {11, 21, 30}
    assert view() == {
        (1, 1), (10, 1), (32, 1), (11, 11), (20, 11), (30, 30), (31, 30),
    }
    # only the canonical's profile entered the index: a fresh dup of
    # text_e is rejected via doc 30's delta profile
    assert (
        dedup.minhash_index_dedup(
            spark.createDataFrame([(98, text_e)], "doc_id long, text string"),
            index_root, verify_threshold=0.5,
        ).count()
        == 0
    )

    # the index now also rejects fresh dups of wave-2's survivor
    probe = spark.createDataFrame(
        [(99, text_d)], "doc_id long, text string"
    )
    assert (
        dedup.minhash_index_dedup(
            probe, index_root, verify_threshold=0.5
        ).count()
        == 0
    )

    # unverified regime (r12 ADVICE): verify_threshold=None links are raw
    # band collisions and must never fold into the component store —
    # the combination refuses up front; with components_root=None the
    # pipeline runs (survivors land + ingest) and the store is untouched
    import pytest

    with pytest.raises(ValueError, match="UNVERIFIED|unverified"):
        stream_dedup_pipeline(
            spark, input_dir, index_root, comp_root, accepted,
            str(tmp_path / "ck_unv"), verify_threshold=None, schema=schema,
        )
    before = view()
    spark.createDataFrame(
        [(40, text_a)], "doc_id long, text string"
    ).write.mode("append").parquet(input_dir)
    q = stream_dedup_pipeline(
        spark, input_dir, index_root, None, accepted,
        str(tmp_path / "ck2"), verify_threshold=None, schema=schema,
    )
    q.awaitTermination(120)
    assert accepted_ids() == {11, 21, 30}  # 40 collides with doc 1: dropped
    assert view() == before  # no fold happened


def test_q131_landing_protocol_branches(spark, tmp_path):
    """Round-9 review hardening: the q131 streaming-landing cache must
    (a) land cold via the atomic staged claim and serve counts equal to
    the batch GROUP BY, (b) no-op when warm (no file churn), and
    (c) recover from debris — a marker-less root — by clearing it under
    the claim lock and re-landing. Runs against a synthetic tmp sf_dir
    so the real testdata cache keys are untouched."""
    import os
    import shutil
    from datetime import datetime, timedelta, timezone

    from pyspark.sql import functions as F

    from data_engineering_task_adtech_data_pipeline_spark.plans.battery_ext import (
        _Q131_CAMPAIGNS,
        _q131_prepare,
        _q131_root,
    )

    sf_dir = str(tmp_path / "sf_tiny")
    os.makedirs(sf_dir)
    t0 = datetime(2024, 3, 1, tzinfo=timezone.utc)
    # span must stay inside _Q131_LATENESS (40 days) so the exact-total
    # contract holds: 400 events x 1h = ~17 days
    rows = [
        (i, t0 + timedelta(hours=i), i * 7 % 90, "click", 1.0, "{}")
        for i in range(400)
    ] + [(None, t0, 1, "bad", 0.0, "{}")]  # null event_id filtered out
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.parquet(os.path.join(sf_dir, "events.parquet"))

    def landed_counts():
        silver = spark.read.parquet(
            os.path.join(_q131_root(sf_dir), "silver")
        )
        from data_engineering_task_adtech_data_pipeline_spark.operators.upsert import (
            latest_version,
        )

        out = latest_version(
            silver, ["rtm_campaign_id", "event_date"], "rtm_delta",
            tiebreak=["event_count"],
        )
        return {
            (r.rtm_campaign_id, str(r.event_date)): r.event_count
            for r in out.collect()
        }

    expect = {
        (r.c, str(r.d)): r.n
        for r in spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        .where(F.col("event_id").isNotNull())
        .groupBy(
            (F.col("user_id") % _Q131_CAMPAIGNS).alias("c"),
            F.col("ts").cast("date").alias("d"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .collect()
    }

    # (a) cold landing
    _q131_prepare(spark, sf_dir)
    root = _q131_root(sf_dir)
    assert os.path.exists(os.path.join(root, "_landed_ok"))
    assert not os.path.exists(f"{root}.stage.{os.getpid()}")
    assert landed_counts() == expect

    # (b) warm no-op: silver file set untouched
    silver_dir = os.path.join(root, "silver")
    before = sorted(os.listdir(silver_dir))
    _q131_prepare(spark, sf_dir)
    assert sorted(os.listdir(silver_dir)) == before

    # (c) marker-less debris root: cleared, fresh landing claims
    os.remove(os.path.join(root, "_landed_ok"))
    _q131_prepare(spark, sf_dir)
    assert os.path.exists(os.path.join(root, "_landed_ok"))
    assert landed_counts() == expect

    # (d) dead-pid stage/stale leftovers are swept on the next entry;
    # live-pid stages are left alone
    import subprocess

    dead_pid = subprocess.run(
        ["sh", "-c", "echo $$"], capture_output=True, text=True
    ).stdout.strip()
    dead_stage = f"{root}.stage.{dead_pid}"
    live_stage = f"{root}.stage.1"  # pid 1: alive, never ours
    os.makedirs(dead_stage, exist_ok=True)
    os.makedirs(live_stage, exist_ok=True)
    os.remove(os.path.join(root, "_landed_ok"))  # force past the fast path
    _q131_prepare(spark, sf_dir)
    assert not os.path.exists(dead_stage)
    assert os.path.exists(live_stage)  # a live foreign landing is not swept
    assert landed_counts() == expect

    # (e) r9 ADVICE — orphaned-vintage GC: a sibling KEY dir whose
    # _source breadcrumb names the SAME sf_dir is a dead old vintage
    # (regenerated testdata) and is swept on entry; a sibling sourced
    # from a DIFFERENT sf_dir is another live cache and is kept; a
    # breadcrumb-less fresh dir (concurrent pre-r10 landing) is kept.
    parent = os.path.dirname(root)
    same_src = os.path.join(parent, "feeddead0001")
    other_src = os.path.join(parent, "feeddead0002")
    no_crumb = os.path.join(parent, "feeddead0003")
    for d in (same_src, other_src, no_crumb):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    with open(os.path.join(same_src, "_source"), "w") as fh:
        fh.write(sf_dir.rstrip("/"))
    with open(os.path.join(other_src, "_source"), "w") as fh:
        fh.write("/somewhere/else/sf9")
    _q131_prepare(spark, sf_dir)  # warm entry still sweeps vintages
    assert not os.path.exists(same_src)
    assert os.path.exists(other_src)
    assert os.path.exists(no_crumb)
    # the landing itself recorded its breadcrumb
    with open(os.path.join(root, "_source")) as fh:
        assert fh.read() == sf_dir.rstrip("/")
    shutil.rmtree(other_src, ignore_errors=True)
    shutil.rmtree(no_crumb, ignore_errors=True)
    shutil.rmtree(root, ignore_errors=True)
    shutil.rmtree(live_stage, ignore_errors=True)


_RACER = """
import os, sys, time

from data_engineering_task_adtech_data_pipeline_spark.plans.battery_ext import (
    _staged_publish,
)

root, sf_dir, log, go = sys.argv[1:5]
open(f"{go}.ready.{os.getpid()}", "w").close()
while not os.path.exists(go):
    time.sleep(0.005)


def build(stage):
    with open(log, "a") as fh:
        fh.write(f"{os.getpid()}\\n")
    time.sleep(1.0)
    with open(os.path.join(stage, "payload"), "w") as fh:
        fh.write("built")


_staged_publish(root, sf_dir, build)
"""


def test_staged_publish_two_process_race_builds_once(tmp_path):
    """Two OS processes first-touch one cache root at the same moment:
    the family lock lets exactly one of them build, the other waits and
    reuses the published landing, and no stage or move-aside sibling is
    left behind."""
    import os
    import subprocess
    import sys
    import time
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    root = tmp_path / "family" / "0123456789ab"
    log = tmp_path / "builds.log"
    go = tmp_path / "go"
    env = dict(os.environ, PYTHONPATH=str(repo))
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _RACER, str(root), str(sf_dir), str(log),
             str(go)],
            cwd=repo, env=env, stderr=subprocess.PIPE, text=True,
        )
        for _ in range(2)
    ]
    deadline = time.time() + 120
    while len(list(tmp_path.glob("go.ready.*"))) < 2:
        assert time.time() < deadline, "racers never became ready"
        assert all(p.poll() is None for p in procs), [
            p.stderr.read() for p in procs if p.poll() is not None
        ]
        time.sleep(0.01)
    go.touch()  # release both racers at once
    for p in procs:
        _, err = p.communicate(timeout=120)
        assert p.returncode == 0, err

    assert len(log.read_text().split()) == 1  # exactly one build ran
    assert (root / "_landed_ok").exists()
    assert (root / "_source").read_text() == str(sf_dir)
    assert (root / "payload").read_text() == "built"
    leftovers = [
        n for n in os.listdir(root.parent)
        if ".stage." in n or ".stale." in n
    ]
    assert leftovers == []


@pytest.mark.slow
def test_stream_events_daily_soak_bounded_state(spark, tmp_path):
    """r9 VERDICT #9 (stretch) — processingTime-trigger SOAK: one
    long-running micro-batch query (then a restart from the same
    checkpoint) while a concurrent writer lands 10 waves of event files
    with strictly advancing days; each wave also re-touches the previous
    wave's last day inside the lateness bound, so versions keep bumping
    across micro-batches AND across the restart. Asserts:

    (a) exactness across the restart — the landed silver's latest-version
        dedup view equals the batch GROUP BY over every event written
        (days advance monotonically and re-touches stay inside the 4-day
        lateness, so the watermark never drops a row);
    (b) BOUNDED STATE — the aggregation state (numRowsTotal from the
        stateOperators progress metrics) is capped by the watermark
        horizon (~days-in-lateness x campaigns), a fraction of the
        (campaign, day) groups ever streamed: eviction works, the query
        can run forever. The measured sizes go into SCALING.md."""
    import os
    from datetime import datetime, timedelta, timezone

    input_dir = str(tmp_path / "in")
    silver = str(tmp_path / "silver")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(input_dir)
    t0 = datetime(2024, 5, 1, tzinfo=timezone.utc)
    campaigns, per_day, wave_days, n_waves = 5, 30, 3, 10

    def write_wave(k: int) -> None:
        rows = []
        days = list(range(k * wave_days, (k + 1) * wave_days))
        if k > 0:
            days.append(k * wave_days - 1)  # re-touch: bumps versions
        for d in days:
            for i in range(per_day):
                eid = (d * 10_000 + i) if d in range(
                    k * wave_days, (k + 1) * wave_days
                ) else (d * 10_000 + 5_000 + i)  # re-touch rows: new ids
                rows.append(
                    (eid, eid % campaigns, t0 + timedelta(days=d, minutes=i))
                )
        spark.createDataFrame(
            rows, "id long, campaign_id long, created_at timestamp"
        ).coalesce(1).write.mode("append").parquet(input_dir)

    state_sizes: list[int] = []

    def run_waves(q, ks) -> None:
        for k in ks:
            write_wave(k)  # concurrent writer: the query is live
            q.processAllAvailable()
            p = q.lastProgress
            if p and p.get("stateOperators"):
                state_sizes.append(p["stateOperators"][0]["numRowsTotal"])

    q = stream_events_daily(
        spark, input_dir, silver, ckpt,
        lateness="4 days", processing_time="1 seconds",
    )
    try:
        run_waves(q, range(0, 5))
    finally:
        q.stop()
    # restart from the same checkpoint mid-soak; keep landing waves
    q2 = stream_events_daily(
        spark, input_dir, silver, ckpt,
        lateness="4 days", processing_time="1 seconds",
    )
    try:
        run_waves(q2, range(5, n_waves))
    finally:
        q2.stop()

    # (a) exact totals through the dedup view, across the restart
    expect = {
        (r.c, str(r.d)): r.n
        for r in spark.read.parquet(input_dir)
        .groupBy(
            F.col("campaign_id").alias("c"),
            F.col("created_at").cast("date").alias("d"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .collect()
    }
    got = {
        (r.rtm_campaign_id, str(r.event_date)): r.event_count
        for r in latest_version(
            spark.read.parquet(silver), KEYS, "rtm_delta",
            tiebreak=["event_count"],
        ).collect()
    }
    assert got == expect
    n_groups_total = len(expect)  # 30 days x 5 campaigns = 150
    assert n_groups_total == n_waves * wave_days * campaigns

    # (b) bounded state: the watermark horizon is 4 days + the current
    # wave's 3 -> at most ~8 day-grain groups per campaign alive; far
    # below the 30-day total. Cap both the END state and the PEAK.
    assert state_sizes, "no stateOperators progress captured"
    bound = 9 * campaigns
    assert max(state_sizes) <= bound, state_sizes
    assert state_sizes[-1] <= bound, state_sizes


def test_q136_q137_promotions_end_to_end(spark, tmp_path):
    """The round-12 battery promotions against a synthetic sf_dir: q136's
    prepared index (base write + two REAL streamed ingest waves +
    tombstones spanning base and delta) must serve exactly
    ``dedup_against`` on the surviving corpus, and q137's prepared
    component store (wave-0 write + two incremental folds + a no-op
    replay) must read back exactly from-scratch closure over ALL verified
    edges. Also covers the shared ``_staged_publish`` warm no-op."""
    import os

    from data_engineering_task_adtech_data_pipeline_spark.operators import dedup
    from data_engineering_task_adtech_data_pipeline_spark.plans.battery_ext import (
        _q136_prepare,
        _q136_root,
        _q137_prepare,
        _q137_root,
        q136_minhash_index_serve,
        q137_component_store,
    )

    sf_dir = str(tmp_path / "sf_docs")
    os.makedirs(sf_dir)

    def t(words):
        return " ".join(words)

    x = t(f"shared base pair alpha{i} beta{i}" for i in range(4))
    y = t(f"ninety gamma{i} eight delta{i}" for i in range(4))
    z = t(f"forty epsilon{i} four zeta{i}" for i in range(4))
    w = t(f"onetwenty eta{i} stream theta{i}" for i in range(4))
    v = t(f"onefifty iota{i} stream kappa{i}" for i in range(4))
    u = t(f"oneeighty lambda{i} stream mu{i}" for i in range(4))
    dp = t(f"deltapair nu{i} cluster xi{i}" for i in range(4))
    rows = []
    # batch (<100): 20 matches only tombstoned base 290 -> survives; 21
    # matches live base 261 -> dropped; 22/25 match only tombstoned
    # delta 134/185 -> survive; 23 matches live delta 150 -> dropped;
    # 24 novel -> survives
    for i, txt in [
        (20, y), (21, z), (22, w), (23, v), (25, u),
        (24, t(f"novel batch content omicron{i}" for i in range(6))),
    ]:
        rows.append((i, txt))
    # streamed delta (100..249): pair 130~131; tombstoned 134/185 and
    # live 150 each the sole match of one batch doc
    for i, txt in [
        (134, w), (185, u), (150, v), (130, dp), (131, dp),
        (160, t(f"unique delta filler rho{i}" for i in range(6))),
    ]:
        rows.append((i, txt))
    # base (>=250): tombstoned 290 and live 261 each the sole match of
    # one batch doc; pair 270~271 (for the component store)
    for i, txt in [
        (290, y), (261, z), (270, x), (271, x),
        (300, t(f"unique base filler sigma{i}" for i in range(6))),
        (301, t(f"unique base filler tau{i}" for i in range(6))),
    ]:
        rows.append((i, txt))
    docs = spark.createDataFrame(
        [(i, txt, "en", "synth", len(txt)) for i, txt in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.coalesce(1).write.parquet(os.path.join(sf_dir, "documents.parquet"))

    # --- q136: serving == dedup_against on the surviving corpus --------
    _q136_prepare(spark, sf_dir)
    got = {
        r.doc_id for r in q136_minhash_index_serve(spark, sf_dir).collect()
    }
    surviving = docs.where(
        (F.col("doc_id") >= 100) & ~F.col("doc_id").isin(134, 185, 290)
    )
    want = {
        r.doc_id
        for r in dedup.dedup_against(
            docs.where(F.col("doc_id") < 100), surviving,
            verify_threshold=0.5, max_shingles=None, hash_method="md5",
        ).collect()
    }
    assert got == want
    assert got == {20, 22, 24, 25}  # the tombstone deletes visibly matter
    # warm re-entry is a no-op (marker short-circuit, no re-landing)
    before = os.path.getmtime(os.path.join(_q136_root(sf_dir), "_landed_ok"))
    _q136_prepare(spark, sf_dir)
    assert os.path.getmtime(
        os.path.join(_q136_root(sf_dir), "_landed_ok")
    ) == before
    # all three overlays are live in the published index (nothing folded)
    idx = os.path.join(_q136_root(sf_dir), "index")
    assert os.path.isdir(os.path.join(idx, "stream_profiles"))
    assert os.path.isdir(os.path.join(idx, "tombstones"))

    # --- q137: overlay store read == from-scratch closure --------------
    _q137_prepare(spark, sf_dir)
    got_comp = {
        (r.id, r.component)
        for r in q137_component_store(spark, sf_dir).collect()
    }
    edges = dedup._verified_candidates(
        docs, "text", "doc_id", 64, 16, 3, 0.5, None, "md5"
    )
    want_comp = {
        (r.id, r.component)
        for r in dedup.connected_components_star(edges).collect()
    }
    assert got_comp == want_comp
    # the planted clusters are present with min-id labels
    assert (271, 270) in got_comp and (131, 130) in got_comp
    assert (290, 20) in got_comp and (134, 22) in got_comp
    # the store actually has a delta overlay (waves 1/2 appended)
    assert os.path.isdir(
        os.path.join(_q137_root(sf_dir), "store", "delta")
    )


def test_stream_dedup_pipeline_max_bucket_reaches_intra_pass(spark, tmp_path):
    """r12 ADVICE: the intra-batch pass must share the caller's
    max_bucket with the corpus pass. With max_bucket=1 every LSH bucket
    truncates to one member, so NO intra-batch candidate pairs can form
    — two same-batch duplicates both survive. Before the threading fix
    the intra pass silently used the default cap (64) and dropped one."""
    from pyspark.sql import types as T

    from data_engineering_task_adtech_data_pipeline_spark.operators import dedup
    from data_engineering_task_adtech_data_pipeline_spark.streaming.jobs import (
        stream_dedup_pipeline,
    )

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    base = "a completely unrelated corpus document about warehouse inventory"
    dup = "two identical arrivals share this exact sentence in one batch today"
    d = str(tmp_path)
    dedup.minhash_index_write(
        spark.createDataFrame([(1, base)], "doc_id long, text string"),
        d + "/idx", num_hashes=32, bands=8,
    )
    spark.createDataFrame(
        [(10, dup), (11, dup)], "doc_id long, text string"
    ).write.parquet(d + "/in")

    def run(tag, max_bucket):
        stream_dedup_pipeline(
            spark, d + "/in", d + "/idx", None, d + f"/acc_{tag}",
            d + f"/ck_{tag}", verify_threshold=0.5, max_bucket=max_bucket,
            schema=schema,
        ).awaitTermination(120)
        return {
            r.doc_id for r in spark.read.parquet(d + f"/acc_{tag}").collect()
        }

    assert run("capped", 1) == {10, 11}   # no bucket can pair: both land
    assert run("default", 64) == {10}     # intra pass collapses the pair


def test_stream_dedup_pipeline_oversize_batch_shuffle_fallback(spark, tmp_path):
    """r13 ADVICE: an unbounded backlog drain used to push a corpus-sized
    batch through the forced-broadcast serving plan. The pipeline now
    counts each batch and falls back to AQE-chosen joins past
    ``broadcast_max_batch_rows`` — same survivors, same folds, different
    physical plan. Forcing the threshold to 0 exercises the fallback on
    every batch; results must be identical to the broadcast run. Also
    covers ``minhash_index_dedup(broadcast_batch=False)`` directly and
    ``max_files_per_trigger`` splitting a two-file backlog into two
    micro-batches (two epoch partitions) instead of one."""
    from pyspark.sql import types as T

    from data_engineering_task_adtech_data_pipeline_spark.operators import dedup
    from data_engineering_task_adtech_data_pipeline_spark.streaming.jobs import (
        stream_dedup_pipeline,
    )

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    text_a = "the quick brown fox jumps over the lazy dog again and again today"
    text_c = "fresh unique content that matches nothing stored anywhere at all yet"
    d = str(tmp_path)
    corpus = spark.createDataFrame([(1, text_a)], "doc_id long, text string")
    dedup.minhash_index_write(corpus, d + "/idx", num_hashes=32, bands=8)

    # direct operator equivalence: shuffle plan == broadcast plan
    batch = spark.createDataFrame(
        [(10, text_a), (11, text_c)], "doc_id long, text string"
    )
    bc = dedup.minhash_index_dedup(batch, d + "/idx", verify_threshold=0.5)
    sh = dedup.minhash_index_dedup(
        batch, d + "/idx", verify_threshold=0.5, broadcast_batch=False
    )
    assert {r.doc_id for r in bc.collect()} == {r.doc_id for r in sh.collect()} == {11}

    # pipeline fallback on every batch (threshold 0) — survivors identical
    dedup.components_write(
        spark.createDataFrame([], "id long, component long"), d + "/comp"
    )
    batch.write.parquet(d + "/in")
    stream_dedup_pipeline(
        spark, d + "/in", d + "/idx", d + "/comp", d + "/acc", d + "/ck",
        verify_threshold=0.5, schema=schema, broadcast_max_batch_rows=0,
    ).awaitTermination(120)
    assert {r.doc_id for r in spark.read.parquet(d + "/acc").collect()} == {11}
    assert {
        (r.id, r.component)
        for r in dedup.components_read(spark, d + "/comp").collect()
    } == {(1, 1), (10, 1)}

    # max_files_per_trigger bounds a backfill: 2 files -> 2 micro-batches
    # (two distinct docs, so each lands in its OWN epoch partition; an
    # unbounded drain would coalesce both into a single __epoch_id=0)
    text_d = "another novel document with its own vocabulary and no overlap here"
    text_e = "yet one more singular passage covering completely separate topics"
    spark.createDataFrame(
        [(20, text_d)], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(d + "/in2")
    spark.createDataFrame(
        [(21, text_e)], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(d + "/in2")
    dedup.minhash_index_write(corpus, d + "/idx2", num_hashes=32, bands=8)
    stream_dedup_pipeline(
        spark, d + "/in2", d + "/idx2", None, d + "/acc2", d + "/ck2",
        verify_threshold=0.5, schema=schema, max_files_per_trigger=1,
    ).awaitTermination(120)
    landed = spark.read.parquet(d + "/acc2")
    assert {r.doc_id for r in landed.collect()} == {20, 21}
    epochs = {
        f.name for f in (tmp_path / "acc2").iterdir()
        if f.name.startswith("__epoch_id=")
    }
    assert len(epochs) == 2
