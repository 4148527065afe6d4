"""SparkSession factory tuned for this engine.

Local testing runs ``local[N]`` single-JVM; the configuration is chosen so
the same logical plans scale to a multi-executor cluster: AQE on (runtime
coalescing, skew-join splitting), shuffle partitions sized to cores locally
(raise to ~2-3x total cores on a real cluster), Arrow enabled for the few
Pandas-UDF operators, UTC session timezone to match the reference's
TIMESTAMP-without-tz semantics (reference normalizes tz away in
``dags/initial_load_generate_postgres_data.py:13-26``).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "adtech-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    AQE handles runtime partition coalescing and skew joins, so static
    ``shuffle.partitions`` only needs to be an upper bound; on a 1000-executor
    cluster set it ~2-3x total cores and let AQE coalesce down.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE coalesce INSIDE cached plans too (off by default): the
        # engine persists bounded intermediates (k-means training frames,
        # pagerank rank tables, sketch/orientation reuse) and without
        # this every cached subtree runs its shuffles at the static
        # partition count — measured 935+ tasks on pagerank's tiny
        # per-round frames at sf0.1 (optimization round 14). Scale-safe:
        # the flag only re-enables the same size-based coalescing every
        # uncached plan already gets.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        # AQE sort-merge -> shuffled-hash rewrite (guide §3.1): when every
        # post-shuffle partition's build side fits under this threshold,
        # the join skips both sorts. Runtime and size-gated, so it cannot
        # OOM a genuinely large build side, and it leaves non-shuffle
        # joins (the bucketed zero-exchange SMJ path) untouched. Default
        # is 0 (off); 64m mirrors the advisory partition size.
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_GRAFT_SHJ_THRESHOLD", "64m"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # local mode writes shuffle files on the driver host; keep them small
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


_LOCAL_MASTER = re.compile(r"local(\[(\d+|\*)(\s*,\s*\d+)?\])?")


def accumulators_exact(master: str) -> bool:
    """True iff ``master`` runs every task in the driver JVM (``local``,
    ``local[N]``, ``local[*]``, ``local[N,F]``). Only there can no stage
    be resubmitted after a shuffle-fetch failure, so accumulator-backed
    ``observe()`` metrics are exact. ``local-cluster[...]`` runs separate
    executor JVMs and, like every real cluster master, is not exact."""
    return _LOCAL_MASTER.fullmatch(master) is not None
