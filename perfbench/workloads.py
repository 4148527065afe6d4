"""The benchmark's workloads. Each is a closed loop with one client: the next
round starts only when the previous one has returned.

* ``etl_wide``: the paper's two DAGs on a generated lake. Set-up generates
  the lake, stages every tick and runs ``Pipeline.initial_load``; a timed
  round is one delta cycle, from handing a staged tick to ``append_bronze``
  until ``track_deltas`` returns with gold rebuilt.
* ``query_mix``: battery queries over the committed sf0.001 testdata. Set-up
  runs one pass that materializes every query and checks it against its
  DuckDB oracle; a timed round is one pass over the mix, each query written
  to the noop sink, in an order drawn from the seed.

There are no separate warm-up rounds: a run is one JVM and is kept well
under a minute, which leaves room for one timed round. That round follows
set-up work that runs the same plans (``initial_load`` builds silver and
gold as a cycle does; the checked pass runs every query once), but the JVM
is not fully warm yet. Measured on a 4-CPU machine: the first cycle after
``initial_load`` read up to 40% above the plateau of cycles 5-8, and the
first noop pass after the checked pass a median 24% above the next one.
The offset is paid by every version of the program alike, so two versions
still compare; a change that only moves JIT or class-loading cost reads as
a change of the round.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from pathlib import Path

import checks
from data_engineering_task_adtech_data_pipeline_spark import fs
from data_engineering_task_adtech_data_pipeline_spark.operators import chunking
from data_engineering_task_adtech_data_pipeline_spark.plans import ordered_registry, pipeline
from data_engineering_task_adtech_data_pipeline_spark.sources import generators
from spans import Span, Tracer, layer_self_times, read_event_log, spark_counters
from ticks import COLUMNS, TABLES, TickSpec, make_tick

HERE = Path(__file__).resolve().parent

# Generated lake: 2k campaigns x 20 impressions (a wide lake: many
# campaign-days, few events each), ticks touching 2% of its campaigns.
LAKE = dict(advertisers=100, campaigns_per_advertiser=20,
            impressions_per_campaign=20, ctr=0.08)
MIN_CYCLE_S = 1.0  # sizes the staged tick supply: seconds / MIN_CYCLE_S

SF_DIR = HERE / "testdata" / "sf0.001"
CORE = [
    "q01_pricing_summary", "q02_campaign_totals", "q03_daily_rollup",
    "q04_daily_ctr_report", "q05_delta_antijoin", "q06_upsert_dedup",
    "q07_totals_report", "q08_distinct_projection", "q09_stats",
]
# one curation query, chosen cheap: the run has room for little more
CURATION = ["q107_triangle_count"]

# Pipeline entry points and the layer each one's span is charged to.
PIPELINE_SPANS = {
    "append_bronze": "bronze",
    "initial_load": "init",
    "track_deltas": "delta",
    "rebuild_reports": "gold",
}
FS_FUNCS = ("exists", "is_dir", "mkdirs", "delete", "rename", "write_text",
            "create_exclusive", "read_text", "fingerprint", "qualified",
            "list_names")


@dataclass
class Outcome:
    setup_s: float
    rounds: list[float]  # wall s per timed round
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    per_layer: dict[str, float] = field(default_factory=dict)
    phases: dict[str, float] = field(default_factory=dict)  # wall s, untimed parts

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)


def _short(name: str) -> str:
    return name.split("_", 1)[0]


def _mean_of(dicts: list[dict[str, float]]) -> dict[str, float]:
    keys = {k for d in dicts for k in d}
    return {k: sum(d.get(k, 0.0) for d in dicts) / len(dicts) for k in keys}


class Context:
    """What a workload needs from the runner: the session, the scratch root
    and, in a traced run, the tracer and the event-log directory."""

    def __init__(self, spark, scratch: Path, tracer: Tracer | None,
                 event_dir: Path | None):
        self.spark = spark
        self.scratch = scratch
        self.tracer = tracer
        self.event_dir = event_dir

    def span(self, name: str, layer: str):
        return nullcontext() if self.tracer is None else self.tracer.span(name, layer)

    def patch_fs(self) -> None:
        for attr in FS_FUNCS:
            self.tracer.patch(fs, attr, "fs", f"fs.{attr}", jobs=False)

    def event_jobs(self):
        """Per-job counters from the session's event log; call after the
        session has stopped, so the log is complete."""
        (log,) = [p for p in self.event_dir.iterdir()
                  if p.is_file() and not p.name.startswith(".")]
        with open(log) as fh:
            return read_event_log(fh)


# -- etl_wide -------------------------------------------------------------


def _lake_files(root: Path) -> dict[str, int]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            if not n.startswith("."):
                p = os.path.join(dirpath, n)
                out[p] = os.path.getsize(p)
    return out


def _written(before: dict[str, int], after: dict[str, int], prefix: str) -> int:
    return sum(sz for p, sz in after.items()
               if p.startswith(prefix) and before.get(p) != sz)


def _stage_ticks(spec: TickSpec, seed: int, n: int, schemas, staging: Path) -> None:
    """Write ticks ``0..n-1`` to staging parquet, one file per table and
    tick, in the bronze schema, so that a cycle only reads its input."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    def arrow(dtype):
        if isinstance(dtype, T.DecimalType):
            return pa.decimal128(dtype.precision, dtype.scale)
        return {T.LongType: pa.int64(), T.StringType: pa.string(),
                T.DateType: pa.date32(),
                T.TimestampType: pa.timestamp("us", "UTC")}[type(dtype)]

    arrow_schemas = {
        t: pa.schema([(c, arrow(schemas[t][c].dataType)) for c in COLUMNS[t]])
        for t in TABLES
    }
    for t in TABLES:
        (staging / t).mkdir(parents=True)
    for k in range(n):
        for t, rows in make_tick(spec, seed, k).items():
            cols = [list(c) for c in zip(*rows)] or [[] for _ in COLUMNS[t]]
            pq.write_table(pa.table(cols, schema=arrow_schemas[t]),
                           staging / t / f"tick={k}.parquet")


def run_etl_wide(ctx: Context, seed: int, seconds: float, t0: float) -> Outcome:
    spark, tracer = ctx.spark, ctx.tracer

    cfg = generators.GenConfig(**LAKE, seed=seed)
    lake = ctx.scratch / "lake"
    staging = ctx.scratch / "staging"
    p = pipeline.Pipeline(spark, str(lake), as_of=generators.BASE_DATE)
    base = generators.gen_all(spark, cfg)
    schemas = {t: base[t].schema for t in TABLES}
    out = Outcome(setup_s=0.0, rounds=[])
    mark = time.time()
    p.write_bronze(base)
    spec = TickSpec(cfg.advertisers, cfg.campaigns_per_advertiser, generators.BASE_DATE)
    n_ticks = int(seconds / MIN_CYCLE_S) + 1
    _stage_ticks(spec, seed, n_ticks, schemas, staging)
    out.phases["generate"] = time.time() - mark
    if tracer:
        for attr, layer in PIPELINE_SPANS.items():
            tracer.patch(pipeline.Pipeline, attr, layer)
        tracer.patch(pipeline, "upsert_append", "silver")
        ctx.patch_fs()

    mark = time.time()
    with ctx.span("initial_load", "bench") as init_span:
        p.initial_load()
    out.phases["initial_load"] = time.time() - mark

    def cycle(k: int):
        tick = {t: spark.read.schema(schemas[t]).parquet(str(staging / t / f"tick={k}.parquet"))
                for t in TABLES}
        with ctx.span("cycle", "bench") as s:
            start = time.time()
            p.append_bronze(tick)
            counts = p.track_deltas()
            dur = time.time() - start
        return dur, counts, s

    out.setup_s = time.time() - t0

    timed: list[Span] = []
    changed: list[int] = []
    written: list[dict[str, float]] = []
    deadline = time.time() + seconds
    for k in range(n_ticks):
        before = _lake_files(lake) if tracer else None
        out.attempted += 1
        try:
            dur, counts, s = cycle(k)
        except Exception as exc:  # a failed cycle ends the loop; report it
            out.fail(f"cycle {k}: {type(exc).__name__}: {exc}"[:300])
            break
        if not any(counts.values()):
            out.fail(f"cycle {k} detected no change")
        out.rounds.append(dur)
        changed.append(sum(counts.values()))
        if tracer:
            timed.append(s)
            after = _lake_files(lake)
            gold_daily = str(lake / "gold" / "advertiser_campaigns_daily_ctr_report")
            written.append({
                f"{layer}.bytes_written": _written(before, after, str(lake / layer))
                for layer in ("bronze", "silver", "gold")
            } | {"gold.buckets_rewritten": len({
                os.path.dirname(p) for p, sz in after.items()
                if p.startswith(gold_daily + "/") and before.get(p) != sz
            })})
        if time.time() >= deadline:
            break

    mark = time.time()
    for what, ok in checks.etl_checks(p, generators.BASE_DATE).items():
        out.attempted += 1
        if not ok:
            out.fail(f"check failed: {what}")
    out.phases["checks"] = time.time() - mark

    if tracer:
        out.per_layer = _etl_layers(ctx, p, lake, init_span, timed, changed, written)
    return out


def _etl_layers(ctx, p, lake, init_span, timed, changed, written):
    spark, tracer = ctx.spark, ctx.tracer
    views = ("advertiser_campaigns", "advertiser_campaigns_impressions",
             "advertiser_campaigns_clicks")
    start = time.time()
    for v in views:
        p.silver(v).write.format("noop").mode("overwrite").save()
    silver_read_s = time.time() - start
    raw = sum(spark.read.parquet(p.paths.silver(v)).count() for v in views)
    live = sum(p.silver(v).count() for v in views)
    events = p.bronze("impressions").count() + p.bronze("clicks").count()
    lake_bytes = sum(_lake_files(lake).values())
    tracer.unpatch_all()
    spark.stop()
    jobs = ctx.event_jobs()

    per_cycle = []
    for s in timed:
        spans = tracer.descendants(s)
        lt = layer_self_times(spans)
        fs_spans = [x for x in spans if x.layer == "fs"]
        per_cycle.append({
            "bronze.append_s": lt.get("bronze", 0.0),
            "delta.detect_s": lt.get("delta", 0.0),
            "silver.append_s": lt.get("silver", 0.0),
            "gold.rebuild_s": lt.get("gold", 0.0),
            "fs.s": lt.get("fs", 0.0),
            "fs.calls": len(fs_spans),
            "cycle.unattributed_s": lt.get("bench", 0.0),
            **spark_counters(spans, jobs),
        })
    init_lt = layer_self_times(tracer.descendants(init_span))
    return {
        **_mean_of(per_cycle),
        **_mean_of(written),
        "delta.changed_rows": statistics.fmean(changed),
        "silver.rows_per_live_row": raw / live,
        "silver.read_s": silver_read_s,
        "init.silver_s": init_lt.get("init", 0.0),
        "init.gold_s": init_lt.get("gold", 0.0),
        "lake.bytes_per_event": lake_bytes / events,
    }


# -- query_mix ------------------------------------------------------------


def run_query_mix(ctx: Context, seed: int, seconds: float, t0: float) -> Outcome:
    spark, tracer = ctx.spark, ctx.tracer
    sf = str(SF_DIR)
    registry = ordered_registry()
    names = CORE + CURATION
    rng = random.Random(seed)

    out = Outcome(setup_s=0.0, rounds=[])
    mark = time.time()
    oracle = checks.QueryOracle(sf)
    try:
        order = rng.sample(names, len(names))
        for n in order:  # the first pass: materialize and check
            out.attempted += 1
            try:
                pdf = registry[n].spark(spark, sf).toPandas()
            except Exception as exc:  # report the query, run the rest
                out.fail(f"{n}: {type(exc).__name__}: {exc}"[:300])
                continue
            finally:
                chunking.release_persisted()
            problem = oracle.compare(registry[n].oracle, pdf)
            if problem:
                out.fail(f"{n}: {problem}"[:300])
    finally:
        oracle.close()
    out.phases["checked_pass"] = time.time() - mark

    def one_pass(fns) -> tuple[dict[str, float], list[Span], list[dict[str, float]]]:
        """Each query once, in an order drawn from the seed, to the noop
        sink: seconds per query, the query spans and storage after each."""
        took, spans, storage = {}, [], []
        for n in rng.sample(names, len(names)):
            out.attempted += 1
            with ctx.span(f"q.{_short(n)}", "bench") as s:
                q0 = time.time()
                try:
                    df = fns[n](spark, sf)
                    with ctx.span(f"q.{_short(n)}.sink", "sink"):
                        df.write.format("noop").mode("overwrite").save()
                except Exception as exc:  # report the query, run the rest
                    out.fail(f"{n}: {type(exc).__name__}: {exc}"[:300])
                finally:
                    chunking.release_persisted()
                took[n] = time.time() - q0
            if tracer:
                spans.append(s)
                storage.append(_storage_after(spark))
        return took, spans, storage

    fns = {n: registry[n].spark for n in names}
    out.setup_s = time.time() - t0

    if tracer:
        tracer.patch(chunking, "release_persisted", "chunking")
        ctx.patch_fs()
        fns = {n: tracer.wrapped(registry[n].spark, f"q.{_short(n)}.build",
                                 "battery") for n in names}

    group_s: dict[str, list[float]] = {"core": [], "curation": []}
    query_spans: list[Span] = []
    storage: list[dict[str, float]] = []
    deadline = time.time() + seconds
    while True:
        start = time.time()
        took, spans, after = one_pass(fns)
        out.rounds.append(time.time() - start)
        query_spans += spans
        storage += after
        group_s["core"].append(sum(took[n] for n in CORE))
        group_s["curation"].append(sum(took[n] for n in CURATION))
        if time.time() >= deadline:
            break

    if tracer:
        tracer.unpatch_all()
        out.per_layer = {
            "query.core_s": statistics.median(group_s["core"]),
            "query.curation_s": statistics.median(group_s["curation"]),
            **_mean_of(storage),
        }
        spark.stop()
        out.per_layer |= _query_layers(tracer, query_spans, ctx.event_jobs())
    return out


def _storage_after(spark) -> dict[str, float]:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {
        "query.cached_blocks_after": sum(i.numCachedPartitions() for i in infos),
        "query.storage_mem_after_mb": sum(i.memSize() for i in infos) / 2**20,
    }


def _query_layers(tracer: Tracer, query_spans: list[Span], jobs) -> dict[str, float]:
    per_query, per_name = [], {}
    for s in query_spans:
        spans = tracer.descendants(s)
        lt = layer_self_times(spans)
        counters = spark_counters(spans, jobs)
        per_query.append({
            "fs.s": lt.get("fs", 0.0),
            "fs.calls": sum(x.layer == "fs" for x in spans),
            "query.release_s": lt.get("chunking", 0.0),
            **counters,
        })
        by_name = {x.name: x for x in spans}
        build = by_name[f"{s.name}.build"]
        sink = by_name.get(f"{s.name}.sink")
        per_name.setdefault(s.name, []).append({
            f"{s.name}.build_s": build.dur,
            f"{s.name}.sink_s": sink.dur if sink else 0.0,
            f"{s.name}.jobs": counters["spark.jobs"],
        })
    out = _mean_of(per_query)
    for rows in per_name.values():
        out |= _mean_of(rows)
    return out


WORKLOADS = {"etl_wide": run_etl_wide, "query_mix": run_query_mix}
