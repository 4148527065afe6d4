"""Structured Streaming variant of the incremental pipeline.

The reference emulates streaming with a 5-minute Airflow DAG that re-extracts
watermarks, diffs them on the driver, and re-queries changed keys
(``dags/track_delta.py:617-624`` — SURVEY.md §2.9). The idiomatic Spark
replacement is a continuous job:

    events files land → readStream → watermarked day-grain aggregation →
    foreachBatch: versioned append (the ReplacingMergeTree-style upsert)

Semantics mapping:
- Airflow ``schedule_interval=5min``  → ``processing_time="5 minutes"``
  (``trigger(processingTime=...)``). Every job's ``processing_time``
  defaults to None, which is ``trigger(availableNow=True)``: process what
  has landed, then stop (run-to-completion, as tests and the battery use),
- the per-key high-watermark ``rtm_delta`` → ``max(created_at)`` inside each
  update — identical version column, so batch and streaming rows interleave
  correctly under the same latest-version-wins dedup view,
- late/out-of-order data → ``withWatermark``: a (campaign, day) group is
  re-emitted whenever late events arrive inside the lateness bound, and each
  re-emission carries a higher rtm_delta, upserting the older row — exactly
  the reference's re-aggregate-and-version-bump behavior
  (``dags/track_delta.py:291-325``),
- state at scale: update-mode day-grain groups expire once the watermark
  passes; state size is O(active (campaign, day) keys), not O(history).

Micro-batch sink protocol, one copy each:
- :func:`_start` sets the checkpoint location and the trigger and starts
  every job; ``foreachBatch`` sinks see only non-empty micro-batches.
- Epoch-idempotent landing (:func:`_land_epoch`): ``foreachBatch`` is
  at-least-once — a failure between a batch's write and its checkpoint
  commit replays the batch. Sinks whose output a replay would duplicate
  or double-count stamp each row with the epoch id (``EPOCH_COL``),
  partition on it and write with dynamic partition overwrite, so a
  replayed epoch replaces its own ``__epoch_id=N/`` partition:
  effectively-once output for a given checkpoint lineage (the standard
  Structured Streaming idempotent-sink recipe). The guarantee covers
  re-execution of an EPOCH; deleting a multi-epoch checkpoint renumbers
  epochs and is NOT idempotent (clear the output too). Read such outputs
  through :func:`read_epochs`, which drops the partition column.
- Generation guard (:func:`_pin_generation`) for jobs that grow a
  persisted index's streamed delta.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from .. import fs
from ..operators.chunking import checkpoint, track_persist
from ..operators.upsert import upsert_append

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("campaign_id", T.LongType()),
        T.StructField("created_at", T.TimestampType()),
    ]
)

EPOCH_COL = "__epoch_id"


def _start(
    frame: DataFrame,
    checkpoint_dir: str,
    processing_time: str | None,
    sink: Callable[[DataFrame, int], None] | str,
    output_mode: str = "append",
    partition_by: tuple[str, ...] = (),
) -> StreamingQuery:
    """Start ``frame`` as a streaming query under the module's trigger
    mapping. A callable ``sink`` runs per non-empty micro-batch through
    ``foreachBatch``; a string ``sink`` is the path of a native parquet
    sink (manifest-committed, exactly-once files) partitioned by
    ``partition_by``."""
    writer = frame.writeStream.outputMode(output_mode).option(
        "checkpointLocation", checkpoint_dir
    )
    if isinstance(sink, str):
        writer = writer.format("parquet").option("path", sink).partitionBy(
            *partition_by
        )
    else:

        def run(batch_df: DataFrame, epoch_id: int) -> None:
            if not batch_df.isEmpty():
                sink(batch_df, epoch_id)

        writer = writer.foreachBatch(run)
    if processing_time is None:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def _land_epoch(df: DataFrame, epoch_id: int, path: str) -> None:
    """Write one micro-batch's rows as the ``__epoch_id=epoch_id``
    partition of ``path``, replacing that partition only (the module's
    epoch-idempotent landing)."""
    (
        df.withColumn(EPOCH_COL, F.lit(epoch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(EPOCH_COL)
        .parquet(path)
    )


def read_epochs(spark: SparkSession, path: str) -> DataFrame:
    """Read an epoch-landed output (:func:`stream_decontaminate`,
    :func:`stream_dedup_against`, the accepted table of
    :func:`stream_dedup_pipeline`, a MinHash index delta) without the
    physical ``__epoch_id`` partition column, so consumers see the plain
    schema (interchangeable with the batch operator's output)."""
    return spark.read.parquet(path).drop(EPOCH_COL)


def _pin_generation(
    spark: SparkSession,
    checkpoint_dir: str,
    root: str | None,
    marker: str,
    items: str,
) -> None:
    """Generation guard: an index compaction consumes the streamed delta
    and bumps ``<root>/generation``. A checkpoint created against the
    pre-compaction delta would REPLAY its epochs into a new delta, and
    every one of those ``items`` would then be served twice, silently.
    So the generation a checkpoint was born under is pinned into
    ``<checkpoint_dir>/<marker>``, and the job refuses to start once they
    diverge: after each compaction, callers start a FRESH checkpoint. A
    pre-marker checkpoint adopts the current generation; a root without a
    generation marker (or no root) skips the guard."""
    from ..operators.similarity import index_generation

    gen = index_generation(spark, root) if root else None
    if gen is None:
        return
    path = fs.join(checkpoint_dir, marker)
    if not fs.exists(spark, path):
        fs.write_text(spark, path, str(gen))
        return
    pinned = int(fs.read_text(spark, path).strip())
    if pinned != gen:
        raise RuntimeError(
            f"stale streaming checkpoint {checkpoint_dir}: it was "
            f"created at index generation {pinned} but {root} is "
            f"now at generation {gen} (compaction ran) — reusing "
            "it would replay already-compacted epochs and "
            f"double-ingest their {items}; start a fresh checkpoint"
        )


def streaming_daily_agg(
    events: DataFrame, lateness: str = "1 day", prefix: str | None = None
) -> DataFrame:
    """Watermarked day-grain rollup of an event stream: COUNT(*) and
    max(created_at) per (campaign_id, day). The max doubles as the
    ``rtm_delta`` version column (``dags/track_delta.py:78``).

    ``prefix`` selects the output naming scheme: ``None`` emits generic
    ``event_date``/``event_count``; pass 'impressions'/'clicks' to emit the
    reference-DDL names ``campaign_{prefix}_date`` /
    ``campaign_{prefix}_count_daily`` used by ``plans.silver.events_daily``,
    so the streaming table appends into the SAME silver path as the batch
    one without forking the parquet schema."""
    date_name = f"campaign_{prefix}_date" if prefix else "event_date"
    count_name = f"campaign_{prefix}_count_daily" if prefix else "event_count"
    return (
        events.withWatermark("created_at", lateness)
        .groupBy(
            F.col("campaign_id").alias("rtm_campaign_id"),
            F.window("created_at", "1 day").alias("__w"),
        )
        .agg(
            F.count(F.lit(1)).alias(count_name),
            F.max("created_at").alias("rtm_delta"),
        )
        .select(
            "rtm_campaign_id",
            F.to_date(F.col("__w.start")).alias(date_name),
            count_name,
            "rtm_delta",
        )
    )


def stream_running_totals(
    spark: SparkSession,
    input_dir: str,
    output_path: str,
    checkpoint_dir: str,
    processing_time: str | None = None,
):
    """Custom stateful operator via ``applyInPandasWithState``: per-campaign
    RUNNING totals (cumulative count + last-event watermark) maintained in
    explicit state across micro-batches — the streaming analog of the
    reference's campaign-totals silver table
    (``dags/initial_load_generate_postgres_data.py:169-186``) without
    re-reading history.

    Demonstrates the pattern for operators Spark's built-in windowed aggs
    can't express (cross-batch cumulative state with custom merge logic):
    state is one tiny tuple per campaign; each batch's Arrow frames update
    it and emit the new running row versioned by the watermark, feeding the
    same latest-version-wins dedup contract as everything else.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("rtm_campaign_id", T.LongType()),
            T.StructField("event_count", T.LongType()),
            T.StructField("rtm_delta", T.TimestampType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("last_us", T.LongType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        n, last_us = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            batch_max = pdf["created_at"].max()
            last_us = max(last_us, int(batch_max.value // 1000))
        state.update((n, last_us))
        yield pd.DataFrame(
            {
                "rtm_campaign_id": [key[0]],
                "event_count": [n],
                "rtm_delta": [pd.Timestamp(last_us * 1000)],
            }
        )

    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(input_dir)
    totals = stream.groupBy("campaign_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    return _start(
        totals, checkpoint_dir, processing_time,
        lambda batch_df, _: upsert_append(batch_df, output_path), "update",
    )


def streaming_sessionize(
    events: DataFrame,
    key: str = "campaign_id",
    ts_col: str = "created_at",
    gap: str = "30 minutes",
    lateness: str = "1 hour",
) -> DataFrame:
    """Streaming gap-sessionization via the built-in ``session_window``
    (dynamic-gap tumbling state): one session row per (key, session window)
    with start/end/count. The streaming twin of ``operators.joins.sessionize``
    — state expires once the watermark passes a session's close, so memory
    is O(open sessions)."""
    return (
        events.withWatermark(ts_col, lateness)
        .groupBy(F.col(key), F.session_window(F.col(ts_col), gap).alias("__s"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key,
            F.col("__s.start").alias("session_start"),
            F.col("__s.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_stream(
    events: DataFrame,
    id_cols: tuple[str, ...] = ("id",),
    ts_col: str = "created_at",
    lateness: str = "1 hour",
) -> DataFrame:
    """At-least-once source → effectively-once rows:
    ``dropDuplicatesWithinWatermark`` keeps one row per id and expires the
    dedup state once the watermark passes, so state is O(ids per lateness
    window) instead of the unbounded O(all ids ever) of a plain streaming
    ``dropDuplicates``. The streaming front-door for the same contract the
    batch path gets from ``operators.dedup.exact_dedup`` /
    ``operators.upsert.latest_version``."""
    return events.withWatermark(ts_col, lateness).dropDuplicatesWithinWatermark(
        list(id_cols)
    )


def stream_attribution(
    impressions: DataFrame,
    clicks: DataFrame,
    attribution_window: str = "30 minutes",
    lateness: str = "1 hour",
) -> DataFrame:
    """Click↔impression attribution as a watermarked stream-stream interval
    join: every (click, impression) pair of the same campaign where the
    impression happened inside ``attribution_window`` BEFORE the click.

    The reference joins clicks to campaign state in 5-minute batch cycles
    (``dags/track_delta.py``); the streaming-native form is this interval
    join — both sides carry watermarks and the join condition bounds event
    time on both ends, so each side's state holds only rows younger than
    watermark + window (Spark drops older state automatically). Emits ALL
    candidate pairs; last-touch selection is the downstream
    ``latest_version(keys=[click_id], version=imp_ts)`` dedup — the same
    latest-wins contract the rest of the pipeline uses (or, in batch,
    ``operators.joins.asof_join``)."""
    imp = impressions.select(
        F.col("id").alias("impression_id"),
        F.col("campaign_id").alias("imp_campaign_id"),
        F.col("created_at").alias("imp_ts"),
    ).withWatermark("imp_ts", lateness)
    clk = clicks.select(
        F.col("id").alias("click_id"),
        F.col("campaign_id").alias("campaign_id"),
        F.col("created_at").alias("clk_ts"),
    ).withWatermark("clk_ts", lateness)
    return clk.join(
        imp,
        F.expr(
            "imp_campaign_id = campaign_id"
            " AND clk_ts >= imp_ts"
            f" AND clk_ts <= imp_ts + interval {attribution_window}"
        ),
    ).select("click_id", "campaign_id", "clk_ts", "impression_id", "imp_ts")


DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def stream_decontaminate(
    spark: SparkSession,
    input_dir: str,
    benchmark: DataFrame,
    output_path: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_k: int = 13,
    min_matches: int = 1,
    hash_method: str = "xxhash64",
    processing_time: str | None = None,
):
    """Ingestion-time benchmark decontamination: document parquet files land
    → each micro-batch is scrubbed of docs sharing >= ``min_matches``
    normalized ``ngram_k``-grams with the (static) eval ``benchmark`` →
    clean rows append to ``output_path``. The streaming front door for
    ``operators.dedup.decontaminate``.

    Why ``foreachBatch`` rather than a stream-static join: "keep the doc
    only if NO gram matched" is an aggregation over the doc's exploded grams
    followed by an anti-join — the anti side isn't a supported stream-static
    join, and a pure-streaming formulation would hold per-doc keyed state.
    ``foreachBatch`` runs the unchanged batch operator per micro-batch with
    no streaming state.

    Sink semantics: the module's epoch-idempotent landing, so a replayed
    epoch cannot append duplicates. Read the output through
    :func:`read_epochs`, not a raw parquet read.

    Scale shape: the benchmark collapses to a DISTINCT set of 8-byte gram
    hashes ONCE (cached here, not re-shingled per batch) and is broadcast
    into every micro-batch's semi-join — per batch the work is one explode +
    broadcast join, embarrassingly parallel across executors. The cache is
    a ``chunking.track_persist`` persist: a ``release_persisted()`` while
    the stream still runs costs later batches a recompute, never a wrong
    result.
    """
    from ..operators.dedup import benchmark_grams, decontaminate

    grams = track_persist(
        benchmark_grams(benchmark, text_col, id_col, ngram_k, hash_method)
    )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        clean = decontaminate(
            batch_df,
            benchmark=None,
            text_col=text_col,
            id_col=id_col,
            ngram_k=ngram_k,
            min_matches=min_matches,
            hash_method=hash_method,
            bench_grams=grams,
        )
        _land_epoch(clean, epoch_id, output_path)

    stream = spark.readStream.schema(DOC_SCHEMA).parquet(input_dir)
    return _start(stream, checkpoint_dir, processing_time, sink)


def stream_events_daily(
    spark: SparkSession,
    input_dir: str,
    silver_path: str,
    checkpoint_dir: str,
    campaign_map: DataFrame | None = None,
    lateness: str = "1 day",
    processing_time: str | None = None,
    post_batch: Callable[[SparkSession, int], None] | None = None,
    prefix: str | None = None,
    sink_format: str = "append",
    merge_buckets: int = 64,
):
    """File-source streaming job: new event parquet files → day-grain
    versioned upserts into the silver daily table.

    ``sink_format`` picks the upsert layout, converging the streaming and
    batch upsert stories on the same two designs as ``operators.upsert``:

    - ``"append"`` (default): ``foreachBatch`` appends each micro-batch's
      updated groups with their bumped ``rtm_delta``; readers apply the
      latest-version dedup view (``operators.upsert.latest_version``) —
      cheap writes, read amplification until compaction.
    - ``"merge"``: each micro-batch routes through
      ``operators.upsert.merge_upsert`` (q59's copy-on-write
      bucket-partitioned MERGE layout, keys = (campaign, day), version =
      ``rtm_delta``); readers use ``operators.upsert.read_merged`` — one
      scan, no dedup window, nothing to compact. foreachBatch is
      at-least-once, and a replayed epoch is safe because max-version-wins
      MERGE is idempotent (same source rows → same merged table; see
      merge_upsert's crash/replay contract).

    With ``prefix`` set (e.g. 'impressions') the output uses the batch
    silver DDL names (``campaign_{prefix}_date``/
    ``campaign_{prefix}_count_daily``), making the streaming and batch
    ``track_deltas`` paths schema-interchangeable — landing both in one
    silver table is then safe; with ``prefix=None`` the table keeps its
    own generic schema and should live at its own path. ``post_batch``
    (e.g. gold-report rebuild) runs after each batch lands — the analog of
    the reference's report tasks downstream of the delta tasks
    (``dags/track_delta.py:662-664``).
    """
    if sink_format not in ("append", "merge"):
        raise ValueError(f"unknown sink_format: {sink_format!r}")
    date_name = f"campaign_{prefix}_date" if prefix else "event_date"
    count_name = f"campaign_{prefix}_count_daily" if prefix else "event_count"
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(input_dir)
    agg = streaming_daily_agg(stream, lateness, prefix)
    if campaign_map is not None:
        cmap = F.broadcast(
            campaign_map.select(
                F.col("id").alias("rtm_campaign_id"),
                F.col("advertiser_id").alias("rtm_advertiser_id"),
            )
        )
        agg = agg.join(cmap, "rtm_campaign_id", "left").select(
            "rtm_advertiser_id",
            "rtm_campaign_id",
            date_name,
            count_name,
            "rtm_delta",
        )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if sink_format == "merge":
            from ..operators.upsert import merge_upsert

            merge_upsert(
                batch_df, silver_path,
                keys=["rtm_campaign_id", date_name],
                version="rtm_delta", tiebreak=[count_name],
                num_buckets=merge_buckets,
            )
        else:
            upsert_append(batch_df, silver_path)
        if post_batch is not None:
            post_batch(batch_df.sparkSession, epoch_id)

    return _start(agg, checkpoint_dir, processing_time, sink, "update")


EMBEDDING_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)


def stream_ivf_ingest(
    spark: SparkSession,
    input_dir: str,
    centroids: list,
    output_path: str,
    checkpoint_dir: str,
    emb_col: str = "embedding",
    processing_time: str | None = None,
    schema: "T.StructType | None" = None,
    planes: int | None = None,
    sig_seed: int = 42,
    sig_hash_method: str = "xxhash64",
    dim: int | None = None,
    index_root: "str | None" = None,
    codebooks: "list | None" = None,
    sq8_scales_vec: "list | None" = None,
):
    """Streaming ANN ingestion: new embedding parquet files land → each row
    is encoded by ``operators.similarity._encode_index`` (the one
    stored-row encoding, shared with ``ivf_index_write`` and the in-memory
    ``ivf_*_topk`` operators) → rows append to a cell-partitioned parquet
    index. Composes the trained-index path (``kmeans_fit``) with
    Structured Streaming: the model is trained once offline, then the
    index absorbs new vectors continuously without retraining, and
    ``ivf_index_search`` reads the cell-partitioned layout with partition
    pruning on the probed cells.

    Growing an index built with extra stored columns: pass the SAME
    (planes, sig_seed, sig_hash_method, dim) as the hybrid index's
    ``ivf_index_write`` so delta rows carry the ``sig`` sketch —
    ``ivf_index_search`` fails loudly if a hybrid search finds delta rows
    without it; the SAME ``codebooks`` for an IVF-PQ index (delta rows
    carry residual ``codes``); the STORED scales as ``sq8_scales_vec``
    (``similarity.sq8_scales_read``) for an IVF,SQ8 index (delta rows
    carry ``sq8_code``) — re-deriving scales from arriving data would
    silently re-quantize the delta against a different model.

    ``schema`` overrides the default ``EMBEDDING_SCHEMA`` when the landing
    files carry different column names (streaming file sources require an
    explicit schema — columns absent from it read as NULL, so a mismatched
    id column would otherwise silently populate the index with null ids).

    Sink semantics: the encoding is a stateless per-row projection
    (plan-literal argmin for small models, broadcast centroid table above
    — both are supported stream-side transforms), so the NATIVE parquet
    streaming sink applies, whose manifest log gives exactly-once file
    commits — no foreachBatch, no custom idempotence needed. That
    manifest governs batch reads of ``output_path``, so do NOT mix
    batch-written files into it — to grow an offline-built index
    (``similarity.ivf_index_write``), point ``output_path`` at the index
    root's ``stream_index/`` delta directory, which ``ivf_index_search``
    unions with the base automatically.

    Scale shape: no shuffle anywhere — assignment is a projection, and
    ``partitionBy("cell")`` fans files out at write time. At 100 TB of
    arriving vectors this is embarrassingly parallel across executors; the
    only cross-node traffic is the (tiny) broadcast model above
    ``LITERAL_CELL_MAX`` cells.
    """
    from ..operators.similarity import _encode_index

    # the persisted index whose compaction generation the checkpoint
    # pins: index_root, or the root whose stream_index/ delta this grows
    root = index_root
    if root is None:
        op = output_path.rstrip("/")
        if op.endswith("/stream_index"):
            root = op[: -len("/stream_index")]
    _pin_generation(spark, checkpoint_dir, root, ".ivf_generation", "vectors")

    stream = spark.readStream.schema(schema or EMBEDDING_SCHEMA).parquet(input_dir)
    assigned = _encode_index(
        stream, centroids, emb_col, planes=planes, sig_seed=sig_seed,
        sig_hash_method=sig_hash_method, dim=dim, codebooks=codebooks,
        sq8=sq8_scales_vec,
    )
    return _start(
        assigned, checkpoint_dir, processing_time, output_path,
        partition_by=("cell",),
    )


def stream_hll_monitor(
    spark: SparkSession,
    input_dir: str,
    schema: T.StructType,
    value_col: str,
    registers_path: str,
    checkpoint_dir: str,
    group_cols: list[str] | None = None,
    p: int = 10,
    method: str = "xxhash64",
    processing_time: str | None = None,
):
    """Streaming distinct-count monitor: new value files fold into a
    per-group HyperLogLog sketch incrementally — the cardinality dashboard
    ("distinct users/domains/tokens so far") that exact COUNT(DISTINCT)
    cannot sustain on an unbounded stream.

    The streaming aggregation IS ``operators.sketch.hll_registers`` (the
    same select + groupBy/max runs unchanged on a streaming frame); its
    keyed state is sketch-sized (groups x 2^p rows, each a tiny int pair)
    and NEVER grows with stream length — the whole point of the sketch.
    Update-mode ``foreachBatch`` appends each micro-batch's changed
    registers; because rho only ever grows, the append log replays into
    the exact batch sketch via max-per-(group,bucket)
    (:func:`read_hll_registers`), the same append+latest-view contract the
    silver upsert path uses. No watermark: registers are tiny and the
    monitor is cumulative by design.
    """
    from ..operators.sketch import hll_registers

    stream = spark.readStream.schema(schema).parquet(input_dir)
    regs = hll_registers(stream, value_col, group_cols or [], p, method)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("append").parquet(registers_path)

    return _start(regs, checkpoint_dir, processing_time, sink, "update")


def read_hll_registers(
    spark: SparkSession, registers_path: str, group_cols: list[str] | None = None
) -> DataFrame:
    """Collapse the streamed register append-log to the current sketch
    (max rho per (group, bucket)); feed to ``sketch.hll_estimate``."""
    return (
        spark.read.parquet(registers_path)
        .groupBy(*(group_cols or []), "bucket")
        .agg(F.max("rho").alias("rho"))
    )


def stream_dedup_against(
    spark: SparkSession,
    input_dir: str,
    corpus: DataFrame,
    output_path: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    verify_threshold: float | None = 0.8,
    max_shingles: int | None = 512,
    hash_method: str = "xxhash64",
    max_bucket: int = 64,
    processing_time: str | None = None,
):
    """Ingestion-time INCREMENTAL near-dedup: document parquet files land →
    each micro-batch is deduped AGAINST the accepted ``corpus`` via
    ``operators.dedup.dedup_against`` → surviving rows append to
    ``output_path``. The streaming front door for continuous corpus
    ingestion, where every arriving batch must not re-introduce documents
    the corpus already has.

    The corpus minhash profile — the only corpus-derived state the join
    needs — is computed ONCE here and cached, then passed to every
    micro-batch via ``corpus_profile``; per batch the work is batch-sized
    (shingle the batch, band join against corpus buckets, candidate-local
    Jaccard), never proportional to corpus text. At true scale the profile
    is a persisted table maintained alongside the corpus; the cache here is
    the session-local equivalent (a ``chunking.track_persist`` persist, so
    a ``release_persisted()`` mid-stream only costs a recompute).

    Same ``foreachBatch`` + epoch-idempotent landing as
    :func:`stream_decontaminate` (and the same reason: the keep-only-
    unmatched decision is an anti-join, not a supported stream-static join
    shape); read the output through :func:`read_epochs`. NOTE: batches
    are deduped against the STATIC corpus only — rows accepted by earlier
    micro-batches do not join the corpus mid-stream (fold the output back
    into the corpus profile between stream runs for that); within-batch
    duplicates are likewise left to a composed ``minhash_dedup``.
    """
    from ..operators.dedup import dedup_against, minhash_profile

    prof_corp = track_persist(
        minhash_profile(
            corpus, text_col, id_col, num_hashes, shingle_k, max_shingles,
            hash_method,
        )
    )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        kept = dedup_against(
            batch_df,
            None,
            text_col=text_col,
            id_col=id_col,
            num_hashes=num_hashes,
            bands=bands,
            shingle_k=shingle_k,
            verify_threshold=verify_threshold,
            max_shingles=max_shingles,
            hash_method=hash_method,
            max_bucket=max_bucket,
            corpus_profile=prof_corp,
        )
        _land_epoch(kept, epoch_id, output_path)

    stream = spark.readStream.schema(DOC_SCHEMA).parquet(input_dir)
    return _start(stream, checkpoint_dir, processing_time, sink)


def stream_datacard(
    spark: SparkSession,
    input_dir: str,
    output_path: str,
    checkpoint_dir: str,
    text_col: str = "text",
    group_cols: "list[str] | None" = None,
    short_words: int = 50,
    p: int = 10,
    processing_time: str | None = None,
):
    """Streaming corpus census: document files land → each micro-batch
    appends its PARTIAL data-card aggregates — per (group, predicted
    language) doc/char/word/short counts plus HyperLogLog registers of
    the normalized-content hash — and :func:`read_datacard` folds the
    append log into the cumulative card. The ingest-time companion of
    ``operators.text.corpus_datacard``: counts are additive and HLL
    registers merge by max, so batch-local partials need no keyed
    streaming state at all (stateless per-batch aggregation; the "state"
    IS the mergeable append log, the same contract as
    :func:`stream_hll_monitor`).

    The exact COUNT(DISTINCT content) of the batch operator necessarily
    becomes an HLL ESTIMATE here (~2% at p=10) — an unbounded stream
    cannot hold every content hash; `n_distinct_content_est` is named to
    make that visible.
    """
    from ..operators.sketch import hll_registers
    from ..operators.text import _word_array, lang_id
    from ..operators.dedup import normalize_text

    # Layout guard (round-6 review): the r5 sink appended FLAT parquet
    # files; this sink writes __epoch_id=N/ partition dirs. Mixing both
    # under one directory breaks partition discovery at read time
    # ("Conflicting directory structures") — refuse up front with a
    # migration hint instead of corrupting the card.
    for sub in ("counts", "registers"):
        d = output_path + "/" + sub
        flat = [
            n for n in fs.list_names(spark, d)
            if n.endswith(".parquet") and not n.startswith("_")
        ]
        if flat:
            raise ValueError(
                f"stream_datacard: {d} holds flat parquet files from the "
                "pre-epoch-partitioned sink; migrate by rewriting them "
                f"under an {EPOCH_COL}=-1/ partition (or point the stream "
                "at a fresh output_path)"
            )

    groups = list(group_cols or ["source"])

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        base = lang_id(batch_df, text_col).select(
            *groups,
            "lang_pred",
            F.size(
                F.filter(_word_array(text_col), lambda w: w != "")
            ).alias("__nw"),
            F.length(F.col(text_col)).cast("long").alias("__chars"),
            F.md5(normalize_text(text_col)).alias("__content"),
        )
        counts = base.groupBy(*groups, "lang_pred").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__chars").alias("total_chars"),
            F.sum("__nw").cast("long").alias("total_words"),
            F.sum(
                F.when(F.col("__nw") < short_words, 1).otherwise(0)
            ).alias("n_short"),
        )
        regs = hll_registers(
            base, "__content", [*groups, "lang_pred"], p=p
        )
        # epoch-idempotent landing: HLL registers survive a double-append
        # via max-merge, but counts SUM — a replay would permanently
        # inflate n_docs/total_chars/total_words
        _land_epoch(counts, epoch_id, output_path + "/counts")
        _land_epoch(regs, epoch_id, output_path + "/registers")

    stream = spark.readStream.schema(DOC_SCHEMA).parquet(input_dir)
    return _start(stream, checkpoint_dir, processing_time, sink)


def read_datacard(
    spark: SparkSession,
    output_path: str,
    group_cols: "list[str] | None" = None,
    p: int = 10,
) -> DataFrame:
    """Fold the streamed partials into the cumulative data card: counts
    SUM, HLL registers merge by max then estimate. Columns mirror
    ``operators.text.corpus_datacard`` with ``n_distinct_content_est``
    (sketch estimate) in place of the exact distinct count."""
    from ..operators.sketch import hll_estimate

    groups = list(group_cols or ["source"]) + ["lang_pred"]
    counts = (
        spark.read.parquet(output_path + "/counts")
        .groupBy(*groups)
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("total_chars").cast("long").alias("total_chars"),
            F.sum("total_words").cast("long").alias("total_words"),
            F.sum("n_short").cast("long").alias("__n_short"),
        )
    )
    regs = (
        spark.read.parquet(output_path + "/registers")
        .groupBy(*groups, "bucket")
        .agg(F.max("rho").alias("rho"))
    )
    est = hll_estimate(regs, groups, p=p).withColumnRenamed(
        "est_distinct", "n_distinct_content_est"
    )
    return counts.join(est, groups).select(
        *groups,
        "n_docs",
        "n_distinct_content_est",
        "total_chars",
        "total_words",
        (F.col("total_words").cast("double") / F.col("n_docs")).alias(
            "mean_doc_words"
        ),
        (F.col("__n_short").cast("double") / F.col("n_docs")).alias(
            "pct_short"
        ),
    )


def stream_cm_monitor(
    spark: SparkSession,
    input_dir: str,
    schema: T.StructType,
    value_col: str,
    sketch_path: str,
    checkpoint_dir: str,
    group_cols: "list[str] | None" = None,
    d: int = 4,
    w: int = 2048,
    method: str = "xxhash64",
    processing_time: str | None = None,
):
    """Streaming heavy-hitter frequency monitor: each micro-batch lands
    its PARTIAL Count-Min counters (``operators.sketch.cm_sketch`` over
    just the batch — stateless, no keyed streaming state: counters are
    ADDITIVE, so the mergeable epoch log IS the state, the same contract
    as :func:`stream_datacard`) and :func:`read_cm_sketch` folds the log
    into the cumulative sketch with ``cm_merge``'s SUM.

    Unlike :func:`stream_hll_monitor`'s registers (max-merge absorbs a
    replayed epoch for free), summed counters double-count under
    foreachBatch's at-least-once replay — so this sink uses the module's
    epoch-idempotent landing (whose scope is re-execution of an epoch;
    after deleting a multi-epoch checkpoint, clear the sketch path too).
    Sketch-sized writes per epoch (groups x d x <= w counters), unbounded
    stream, bounded state.
    """
    from ..operators.sketch import cm_sketch

    stream = spark.readStream.schema(schema).parquet(input_dir)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        sk = cm_sketch(batch_df, value_col, group_cols or [], d, w, method)
        _land_epoch(sk, epoch_id, sketch_path)

    return _start(stream, checkpoint_dir, processing_time, sink)


def read_cm_sketch(
    spark: SparkSession,
    sketch_path: str,
    group_cols: "list[str] | None" = None,
) -> DataFrame:
    """Fold the streamed per-epoch partial sketches into the cumulative
    Count-Min sketch (counters SUM across epochs — ``cm_merge``
    semantics); feed to ``sketch.cm_estimate`` / heavy-hitter queries."""
    return (
        spark.read.parquet(sketch_path)
        .groupBy(*(group_cols or []), "j", "col")
        .agg(F.sum("cnt").alias("cnt"))
    )


def stream_quality_monitor(
    spark: SparkSession,
    input_dir: str,
    output_path: str,
    checkpoint_dir: str,
    text_col: str = "text",
    group_cols: "list[str] | None" = None,
    processing_time: str | None = None,
):
    """Streaming quality-gate census: document files land → each
    micro-batch runs the BATCH quality gates (``text.gopher_gate``
    repetition rules + ``text.char_entropy`` compressibility) and appends
    per-group partial counters — docs seen, docs passing each gate, docs
    passing both, plus exact-sum entropy mass for the running mean. The
    ingest-time twin of the batch operators: all counters are ADDITIVE,
    so the job needs no keyed streaming state (stateless per-batch
    aggregation, the ``stream_datacard`` contract) and
    :func:`read_quality_report` folds the append log by summing.

    Partials land through the module's epoch-idempotent landing, so a
    replayed epoch replaces its own partition instead of double-counting.
    """
    from ..operators.text import char_entropy, gopher_gate

    groups = list(group_cols or ["source"])

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        gate = gopher_gate(batch_df, text_col=text_col).select(
            "doc_id", F.col("keep").alias("__keep_gopher")
        )
        ent = char_entropy(batch_df, text_col=text_col).select(
            "doc_id",
            F.col("keep").alias("__keep_entropy"),
            F.col("entropy_nats").alias("__h"),
        )
        scored = (
            batch_df.select("doc_id", *groups)
            .join(gate, "doc_id", "left")
            .join(ent, "doc_id", "left")
            .select(
                *groups,
                F.coalesce("__keep_gopher", F.lit(False)).alias("__kg"),
                F.coalesce("__keep_entropy", F.lit(False)).alias("__ke"),
                F.coalesce(
                    F.col("__h").cast("decimal(28,6)"),
                    F.lit(0).cast("decimal(28,6)"),
                ).alias("__hm"),
            )
        )
        partial = scored.groupBy(*groups).agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("__kg").cast("long")).alias("n_keep_gopher"),
            F.sum(F.col("__ke").cast("long")).alias("n_keep_entropy"),
            F.sum((F.col("__kg") & F.col("__ke")).cast("long")).alias(
                "n_keep_both"
            ),
            F.sum("__hm").cast("decimal(28,6)").alias("entropy_mass"),
        )
        _land_epoch(partial, epoch_id, output_path)

    stream = spark.readStream.schema(DOC_SCHEMA).parquet(input_dir)
    return _start(stream, checkpoint_dir, processing_time, sink)


def read_quality_report(
    spark: SparkSession,
    output_path: str,
    group_cols: "list[str] | None" = None,
) -> DataFrame:
    """Fold the streamed quality partials into the cumulative report:
    counters SUM (exact — decimal entropy mass divides by the exact doc
    count for the running mean, so the folded mean is independent of how
    the stream was batched)."""
    groups = list(group_cols or ["source"])
    agg = (
        spark.read.parquet(output_path)
        .groupBy(*groups)
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("n_keep_gopher").cast("long").alias("n_keep_gopher"),
            F.sum("n_keep_entropy").cast("long").alias("n_keep_entropy"),
            F.sum("n_keep_both").cast("long").alias("n_keep_both"),
            F.sum("entropy_mass").alias("__mass"),
        )
    )
    return agg.select(
        *groups,
        "n_docs",
        "n_keep_gopher",
        "n_keep_entropy",
        "n_keep_both",
        (F.col("__mass").cast("double") / F.col("n_docs")).alias(
            "mean_entropy_nats"
        ),
    )


def stream_kmv_monitor(
    spark: SparkSession,
    input_dir: str,
    schema: T.StructType,
    value_col: str,
    sketch_path: str,
    checkpoint_dir: str,
    group_cols: list[str] | None = None,
    k: int = 64,
    method: str = "md5",
    processing_time: str | None = None,
):
    """Streaming KMV/theta-sketch monitor — the set-operations twin of
    :func:`stream_hll_monitor`: new value files fold into per-group
    k-minimum-hash sketches, from which ``sketch.kmv_estimate`` answers
    distinct counts and ``sketch.kmv_intersect_pairs`` answers BETWEEN-
    group overlap ("users seen in click AND purchase so far") without
    ever re-scanning history.

    Mechanics: each micro-batch's sketch is computed BATCH-side inside
    ``foreachBatch`` (``sketch.kmv_sketch`` uses ranking windows, which
    streaming aggregation cannot host) and appended to a sketch log.
    The KMV merge law — merge(sketch(A), sketch(B)) == sketch(A ∪ B),
    property-tested — makes the log collapse exactly:
    :func:`read_kmv_sketch` distinct-unions the logged hashes and
    re-ranks to k, so overlapping batches and epoch REPLAYS fold
    idempotently (duplicate hash rows vanish in the distinct), the same
    append+latest-view contract as the HLL register log. Log growth is
    ≤ groups·k rows per micro-batch — sketch-sized, never data-sized."""
    from ..operators.sketch import kmv_sketch

    gcols = group_cols or []
    stream = spark.readStream.schema(schema).parquet(input_dir)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        sk = kmv_sketch(batch_df, value_col, gcols, k=k, method=method)
        sk.select(*gcols, "h").write.mode("append").parquet(sketch_path)

    return _start(stream, checkpoint_dir, processing_time, sink)


def read_kmv_sketch(
    spark: SparkSession,
    sketch_path: str,
    group_cols: list[str] | None = None,
    k: int = 64,
) -> DataFrame:
    """Collapse the streamed sketch log to the current per-group sketch
    (distinct hashes re-ranked to the k minima — exact by the merge law);
    feed to ``sketch.kmv_estimate`` / ``sketch.kmv_intersect_pairs``.
    The trim is the SAME kernel the batch paths use
    (``sketch._rank_trim``), so batch and streaming sketches cannot
    diverge."""
    from ..operators.sketch import _rank_trim

    gcols = group_cols or []
    return _rank_trim(spark.read.parquet(sketch_path), gcols, k)


def stream_bloom_monitor(
    spark: SparkSession,
    input_dir: str,
    schema: T.StructType,
    value_col: str,
    sketch_path: str,
    checkpoint_dir: str,
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
    method: str = "xxhash64",
    processing_time: str | None = None,
):
    """Streaming Bloom membership monitor — the definite-absence twin of
    the HLL/KMV monitors: new value files fold into a corpus Bloom filter,
    from which ``sketch.bloom_filter_rows(keep="miss")`` answers "which
    incoming keys are certainly new" (novelty gating, join prefilters)
    without re-scanning history, with zero false "already seen" misses —
    a Bloom filter never false-negatives, so nothing new is ever
    silently dropped as seen.

    Mechanics: each micro-batch's sparse (word, bits) sketch appends to a
    log; bitwise OR is idempotent AND commutative, so overlapping batches
    and epoch REPLAYS collapse exactly when :func:`read_bloom_sketch` ORs
    the log (bit-identical to one batch build over the union —
    equivalence-tested, the same append+latest-view contract as the HLL
    register log). Log growth per micro-batch is ≤ num_bits/64 rows —
    sketch-sized, never data-sized.

    The build parameters ``(num_bits, num_hashes, method)`` are persisted
    beside the log (``<sketch_path>_params``, the minhash_index_write
    contract) at stream start, and validated against it on every restart
    — a consumer probing with different parameters would compute wrong
    bit positions and silently answer "definitely new" for already-seen
    keys, voiding the zero-false-negative guarantee. Serve through
    :func:`stream_bloom_filter_rows` (or fetch :func:`read_bloom_params`
    yourself) so the stored parameters are always the ones probed with;
    ``method`` defaults to ``"xxhash64"``, matching ``sketch.bloom_sketch``
    / ``bloom_filter_rows``."""
    from ..operators.sketch import bloom_sketch

    _bloom_pin_params(spark, sketch_path, num_bits, num_hashes, method)
    stream = spark.readStream.schema(schema).parquet(input_dir)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        bloom_sketch(
            batch_df, value_col, num_bits, num_hashes, method
        ).write.mode("append").parquet(sketch_path)

    return _start(stream, checkpoint_dir, processing_time, sink)


def _bloom_params_path(sketch_path: str) -> str:
    return sketch_path.rstrip("/") + "_params"


def _bloom_pin_params(
    spark: SparkSession,
    sketch_path: str,
    num_bits: int,
    num_hashes: int,
    method: str,
) -> None:
    """Persist (num_bits, num_hashes, method) beside the sketch log, or
    validate against the already-pinned values — mixed-parameter appends
    would corrupt the filter silently (wrong bit positions OR'd in), so
    a mismatch refuses the stream instead."""
    path = _bloom_params_path(sketch_path)
    if fs.is_dir(spark, path):
        p = read_bloom_params(spark, sketch_path)
        if (p.num_bits, p.num_hashes, p.method) != (
            num_bits, num_hashes, method,
        ):
            raise ValueError(
                f"bloom sketch log {sketch_path} was built with "
                f"(num_bits={p.num_bits}, num_hashes={p.num_hashes}, "
                f"method={p.method!r}); restarting it with "
                f"({num_bits}, {num_hashes}, {method!r}) would OR wrong "
                "bit positions into the filter — use the pinned "
                "parameters or start a fresh sketch_path"
            )
        return
    if fs.is_dir(spark, sketch_path):
        # a pre-pinning (or params-lost) sketch log already exists: its
        # build parameters are UNKNOWABLE, so adopting the caller's values
        # as the pin would silently OR wrong-hash bit positions into the
        # log if they differ — exactly the corruption the pin prevents
        # (r12 ADVICE: the md5→xxhash64 default flip made this live).
        # Refuse unless the log is genuinely empty of committed rows —
        # and only the "no committed parquet" AnalysisException reads as
        # empty; a transient read failure must refuse rather than bypass
        # the corruption guard (round-13 review).
        from pyspark.errors import AnalysisException

        try:
            stale = not spark.read.parquet(sketch_path).isEmpty()
        except AnalysisException:  # dir exists, no committed files yet
            stale = False
        if stale:
            raise ValueError(
                f"bloom sketch log {sketch_path} already holds rows but "
                "has no pinned params table — its build parameters are "
                "unknowable, so pinning the caller's values could OR "
                "wrong-hash bit positions into it; rebuild under a fresh "
                "sketch_path (or restore the _params table it was built "
                "with)"
            )
    spark.createDataFrame(
        [(num_bits, num_hashes, method)],
        "num_bits int, num_hashes int, method string",
    ).coalesce(1).write.mode("overwrite").parquet(path)


def read_bloom_params(spark: SparkSession, sketch_path: str):
    """The pinned (num_bits, num_hashes, method) Row persisted beside a
    streamed Bloom sketch log by :func:`stream_bloom_monitor`."""
    row = spark.read.parquet(_bloom_params_path(sketch_path)).head()
    if row is None:
        raise ValueError(f"empty bloom params table beside {sketch_path}")
    return row


def read_bloom_sketch(spark: SparkSession, sketch_path: str) -> DataFrame:
    """Collapse the streamed Bloom log to the current filter (OR over all
    logged words — exact by idempotence). Probe it via
    :func:`stream_bloom_filter_rows`, which supplies the PINNED build
    parameters — or fetch them with :func:`read_bloom_params` if calling
    ``sketch.bloom_filter_rows`` directly (guessed parameters probe wrong
    bit positions and silently void the no-false-negative guarantee)."""
    from ..operators.sketch import bloom_merge

    return bloom_merge(spark.read.parquet(sketch_path))


def stream_bloom_filter_rows(
    spark: SparkSession,
    df: DataFrame,
    sketch_path: str,
    value_col: str,
    keep: str = "miss",
    broadcast_sketch: bool = True,
) -> DataFrame:
    """Serve membership/novelty decisions from a streamed Bloom sketch
    log with the parameters it was BUILT with: collapses the log
    (:func:`read_bloom_sketch`) and probes it via
    ``sketch.bloom_filter_rows`` using the pinned
    ``(num_bits, num_hashes, method)`` — the drift-proof serving path
    (same contract as ``minhash_index_dedup`` reading its stored params
    table)."""
    from ..operators.sketch import bloom_filter_rows

    p = read_bloom_params(spark, sketch_path)
    return bloom_filter_rows(
        df, read_bloom_sketch(spark, sketch_path), value_col,
        num_bits=p.num_bits, num_hashes=p.num_hashes, method=p.method,
        keep=keep, broadcast_sketch=broadcast_sketch,
    )


def stream_dedup_pipeline(
    spark: SparkSession,
    input_dir: str,
    index_root: str,
    components_root: str | None,
    accepted_path: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    verify_threshold: float | None = 0.8,
    max_bucket: int = 64,
    processing_time: str | None = None,
    schema: "T.StructType | None" = None,
    max_files_per_trigger: int | None = None,
    broadcast_max_batch_rows: int = 500_000,
):
    """The END-TO-END continuously-ingesting dedup pipeline, one job: per
    micro-batch of arriving documents,

    1. dedup WITHIN the micro-batch (r11 ADVICE: two near-duplicates
       arriving in the same batch would otherwise both pass the
       batch-vs-corpus join, both land, and both enter the index with no
       cluster link): verified intra-batch pairs via the same banded
       minhash + exact-Jaccard kernel the index was built with
       (parameters from the stored ``params`` table), transitive closure
       over them, keep the min-id doc per intra-batch cluster;
    2. dedup the intra-survivors against the persisted MinHash index
       (``minhash_index_dedup(keep="links")`` — stored band buckets,
       DPP-pruned, batch broadcast);
    3. land the SURVIVORS to ``accepted_path`` (the module's
       epoch-idempotent landing; read it through :func:`read_epochs`);
    4. fold the duplicate links — intra-batch pairs AND batch↔corpus
       links — into the persisted cluster assignment store
       (``components_update`` — contracted closure, changed-rows-only
       delta), so a doc dropped in step 1 is still clustered with its
       surviving canonical;
    5. ingest the survivors' minhash profiles into the index delta, so
       the NEXT batch dedups against them too (same layout and
       generation guard as ``stream_minhash_ingest``).

    Intra-batch semantics mirror composing ``minhash_dedup_transitive``
    then ``dedup_against`` per batch: a doc dropped in step 1 is not
    itself probed against the corpus (its canonical is). With
    ``verify_threshold=None`` the duplicate decisions are unverified band
    collisions, which must NEVER feed :func:`components_update` (merges
    weld clusters forever — the ``minhash_index_dedup(keep="links")``
    contract), so the unverified regime requires ``components_root=None``
    (skip step 4 entirely; survivors still land and ingest) and the
    combination with a component store refuses up front. The intra pass
    shares ``max_bucket`` with the corpus pass — one per-bucket candidate
    cap contract across both.

    Replay stability (foreachBatch is at-least-once): corpus-side links
    whose id arrived in THIS batch are excluded — after a partial epoch
    crashed past step 5, the replayed batch would otherwise match its
    own landed profiles and reject every doc as a duplicate of itself.
    Doc ids must be globally unique (the standing contract of the
    id-grain stores). With that exclusion every step is idempotent:
    step 1 is deterministic in the batch content, (3)/(5) overwrite
    their own epoch partition, and (4) re-folds an edge set whose labels
    already hold, which appends zero changed rows.

    Idempotence is PER CHECKPOINT: recovery from an ABANDONED checkpoint
    (starting a fresh one over already-landed state) is safe only if
    availableNow regroups the input files into the same epoch boundaries
    — different batching dynamic-overwrites different ``__epoch_id``
    partitions and leaves stale duplicate rows in ``accepted_path`` and
    the index delta. Before replaying under a fresh checkpoint, clear
    ``accepted_path`` and the index's ``stream_profiles`` epochs (or
    compact the index first and feed only genuinely-new files).

    Prerequisites: ``minhash_index_write`` built the index;
    ``components_write`` initialized the store (an empty (id, component)
    frame is fine). The batch is profiled per epoch by the intra pass,
    the serving join, and ingest — batch-sized work each time, nothing
    proportional to the corpus. The serving join BROADCASTS the batch
    side (the ``minhash_index_dedup`` contract), so micro-batches must
    stay micro. That contract is now ENFORCED, two ways (round-14
    review — a backlog drain through availableNow used to push a
    corpus-sized batch through a broadcast and die at the 8 GB/driver
    limit): (a) ``max_files_per_trigger`` bounds how many input files
    one micro-batch may coalesce (pass it for backfills; None keeps
    the source's natural batching, which is what pins wave == epoch in
    tests and the q138 oracle replay); (b) every batch counts itself
    first — at most ``broadcast_max_batch_rows`` docs go through the
    forced-broadcast serving plan, larger batches fall back to
    ``broadcast_batch=False`` (AQE-chosen shuffle joins — the plan
    that completes where a forced broadcast would fail). NOTE the
    fallback changes only the physical plan, never which docs survive.
    Each batch's ``chunking.checkpoint`` frames (and, for a batch above
    ``chunking.materialize``'s size gate, its persisted profile) are
    registered for ``release_persisted()``: call it between batches
    (after ``awaitTermination`` for a ``processing_time=None`` run), never
    while a batch is in flight. The gate reads Catalyst's size estimate.
    A batch read from files keeps its file-size estimate through
    ``checkpoint``, but a frame built with ``createDataFrame`` from rows
    has none: it reads as ``Long.MaxValue``, so its profile always
    persists. A long-running pipeline must therefore call
    ``release_persisted()`` between batches, or the profiles accumulate."""
    from ..operators.dedup import (
        MINHASH_DELTA_DIR,
        _invalidate_index_memo,
        _minhash_params,
        _verified_candidates,
        components_update,
        connected_components_star,
        minhash_index_dedup,
        minhash_profile,
    )

    if verify_threshold is None and components_root is not None:
        raise ValueError(
            "stream_dedup_pipeline(verify_threshold=None) produces "
            "UNVERIFIED band-collision links, which must never fold into "
            "a component store (merges are permanent — a spurious "
            "collision would weld two unrelated clusters forever); pass "
            "components_root=None to run the unverified regime without "
            "cluster bookkeeping, or set a verify_threshold"
        )
    p = _minhash_params(spark, index_root)
    _pin_generation(
        spark, checkpoint_dir, index_root, ".minhash_generation", "docs"
    )

    delta_path = fs.join(index_root, MINHASH_DELTA_DIR)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        batch = checkpoint(batch_df)
        # micro-batch contract guard: the checkpointed batch counts for
        # ~free; an oversized batch (unbounded backfill) downgrades the
        # forced-broadcast serving plan to AQE-chosen joins instead of
        # failing at the broadcast limit
        bc = batch.count() <= broadcast_max_batch_rows
        B = F.broadcast if bc else (lambda df: df)
        # (1) intra-batch pass: verified pairs within the batch under the
        # INDEX's own banding/shingling params, closed transitively; the
        # min-id doc of each intra cluster goes on to probe the corpus
        intra = checkpoint(
            _verified_candidates(
                batch, text_col, id_col, p.num_hashes, p.bands, p.shingle_k,
                verify_threshold, p.max_shingles, p.hash_method,
                max_bucket=max_bucket,
            )
        )
        intra_drop = (
            connected_components_star(intra)
            .where(F.col("id") != F.col("component"))
            .select(F.col("id").alias(id_col))
        )
        canon = checkpoint(batch.join(B(intra_drop), id_col, "left_anti"))
        # (2) corpus pass over the intra-survivors only
        links = minhash_index_dedup(
            canon, index_root, text_col, id_col, verify_threshold,
            max_bucket, keep="links", broadcast_batch=bc,
        )
        # replay guard: never match a corpus doc whose id arrived in THIS
        # batch (only possible from a partially-committed prior attempt)
        own = batch.select(F.col(id_col).alias("id_b")).distinct()
        links = checkpoint(links.join(B(own), "id_b", "left_anti"))
        dup_ids = links.select(F.col("id_a").alias(id_col)).distinct()
        survivors = canon.join(B(dup_ids), id_col, "left_anti")
        _land_epoch(survivors, epoch_id, accepted_path)
        # (4) one fold of BOTH link kinds: intra pairs cluster dropped
        # docs with their canonical; corpus links cluster batch docs with
        # the stored corpus. Skipped when components_root is None (the
        # only mode verify_threshold=None permits — unverified links must
        # never reach the store; guarded at pipeline construction).
        if components_root is not None:
            fold = links.unionByName(intra.select("id_a", "id_b"))
            if not fold.isEmpty():
                components_update(spark, components_root, fold)
        prof = minhash_profile(
            survivors, text_col, id_col, p.num_hashes, p.shingle_k,
            p.max_shingles, p.hash_method,
        ).withColumnRenamed(id_col, p.id_col)
        _land_epoch(prof, epoch_id, delta_path)
        # the NEXT batch's serving join must see this epoch's profiles:
        # drop the in-process resolved-relation memo entry now (never
        # rely on dir-mtime fingerprints for our own writes)
        _invalidate_index_memo(spark, index_root)

    reader = spark.readStream.schema(schema or DOC_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_dir)
    return _start(stream, checkpoint_dir, processing_time, sink)


def stream_minhash_ingest(
    spark: SparkSession,
    input_dir: str,
    index_root: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    processing_time: str | None = None,
    schema: "T.StructType | None" = None,
):
    """Streaming ingestion for the persisted MinHash dedup index
    (``operators.dedup.minhash_index_write``): accepted document parquet
    files land → each micro-batch's minhash profiles (signature +
    shingle set) are computed by the UNCHANGED batch kernel
    (``dedup.minhash_profile``, run inside ``foreachBatch`` — per-doc
    profile aggregation is a groupBy, which append-mode streaming cannot
    express statelessly) with the banding/shingling parameters READ FROM
    THE INDEX's stored ``params`` table (drift-proof: the delta can never
    be profiled differently than the base was) → profile rows land in
    ``<root>/stream_profiles``, which ``minhash_index_dedup`` unions with
    the base automatically.

    Sink semantics: the module's epoch-idempotent landing and generation
    guard (``minhash_index_compact`` consumes the delta, as
    ``ivf_index_compact`` does for :func:`stream_ivf_ingest`).

    Scale shape: per micro-batch the work is the batch profile kernel
    (one shingle explode + one hash-agg shuffle of batch-sized data);
    nothing touches the base index. ``id_col``/``text_col`` name the
    ARRIVING columns; the profile's id column is stored under the
    index's own id column name."""
    from ..operators.dedup import (
        MINHASH_DELTA_DIR,
        _invalidate_index_memo,
        _minhash_params,
        minhash_profile,
    )

    p = _minhash_params(spark, index_root)
    _pin_generation(
        spark, checkpoint_dir, index_root, ".minhash_generation", "docs"
    )

    output_path = fs.join(index_root, MINHASH_DELTA_DIR)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        prof = minhash_profile(
            batch_df, text_col, id_col, p.num_hashes, p.shingle_k,
            p.max_shingles, p.hash_method,
        ).withColumnRenamed(id_col, p.id_col)
        _land_epoch(prof, epoch_id, output_path)
        _invalidate_index_memo(spark, index_root)

    stream = spark.readStream.schema(schema or DOC_SCHEMA).parquet(input_dir)
    return _start(stream, checkpoint_dir, processing_time, sink)
