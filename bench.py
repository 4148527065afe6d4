"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line (compact summary; per-query detail goes to BENCH_DETAIL.json).

Timing action (CHANGED in round 6): each query executes to the NOOP sink
(``df.write.format("noop")``), which materializes EVERY output column.
The previous action was ``df.count()``, which Catalyst can optimize
straight through: for queries whose final shape is a
cardinality-preserving left join of grouped frames (q87, q19's family),
count() collapsed to a bare parquet row-count and measured NOTHING
(verified: q87's count plan was `FileScan parquet []` + count — the
regex/explode/join pipeline never ran). Oracle correctness was never
affected (the gate materializes full results). Cross-round per-query
comparisons straddling r5→r6 are invalid for the affected queries;
SCALING.md records a dual-action run of the same commit to re-base.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import __spark_entry__ as entrymod  # noqa: E402
from data_engineering_task_adtech_data_pipeline_spark.session import get_spark  # noqa: E402


def _probe_burn(n: int) -> None:
    """Module-level so ProcessPoolExecutor can pickle it."""
    import hashlib

    buf = b"x" * 65536
    for _ in range(n):
        hashlib.md5(buf).digest()


def _cpu_probe() -> dict:
    """Fixed-work CPU score recorded ALONGSIDE the timings (diagnostic
    only — never part of the timed protocol): round-12 recorded three
    same-code solo runs on one box spanning 0.76x-1.19x of the r01
    legacy series across a single day, so cross-round per-query ratios
    need a box-speed denominator to be interpretable. The 32-process leg
    measures real multi-core throughput (hypervisor caps/steal show up
    here even when /proc/stat steal reads 0 at idle); workers are
    pre-spawned so fork cost stays out of the measured window."""
    from concurrent.futures import ProcessPoolExecutor

    def burn() -> float:
        t0 = time.time()
        _probe_burn(20000)
        return time.time() - t0

    single = burn()
    with ProcessPoolExecutor(32) as ex:
        # pre-spawn outside the timed window so fork cost isn't measured.
        # The warmup tasks carry FULL work (not zero-work): modern CPython
        # ProcessPoolExecutor spawns workers lazily and reuses idle ones,
        # so 32 instant tasks can complete on fewer than 32 processes and
        # leave the remaining forks inside the timed leg (r12 ADVICE) —
        # a ~0.5 s task pins each worker long past every fork.
        list(ex.map(_probe_burn, [20000] * 32))
        t0 = time.time()
        list(ex.map(_probe_burn, [20000] * 32))
        multi = time.time() - t0
    return {"single_s": round(single, 3), "procs32_s": round(multi, 3)}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    cpu_probe = _cpu_probe()
    spark = get_spark("bench")

    # warm the JVM/codegen/file-listing paths so per-query timings measure
    # the queries, not session startup: scan every table once (footer +
    # page-cache warmup — otherwise whichever query touches a table first
    # eats its cold read), plus one tiny agg+join to trigger
    # whole-stage-codegen compilation of the hash-agg/exchange/join
    # machinery that otherwise lands on the first timed query
    from data_engineering_task_adtech_data_pipeline_spark.schemas import (
        TESTDATA_TABLES,
    )
    from data_engineering_task_adtech_data_pipeline_spark.sources.readers import (
        read_table,
    )

    for t in TESTDATA_TABLES:
        read_table(spark, sf_dir, t).count()
    warm = spark.read.parquet(f"{sf_dir}/nation.parquet")
    warm.join(warm.groupBy("n_regionkey").count(), "n_regionkey").collect()

    # untimed per-query setup (e.g. q86's persisted-index build): serving
    # entries measure the query cost, not offline index construction
    from data_engineering_task_adtech_data_pipeline_spark.plans import (
        ordered_registry,
    )

    prepare_errors: dict[str, str] = {}
    for name, q in ordered_registry().items():
        if q.prepare is not None:
            try:
                q.prepare(spark, sf_dir)
            except Exception as exc:  # a failing prepare must not kill the
                # bench: the query itself still runs (self-building) and
                # lands in `errors` if it cannot
                prepare_errors[name] = f"{type(exc).__name__}: {exc}"[:200]

    from data_engineering_task_adtech_data_pipeline_spark.operators import (
        chunking,
    )

    queries = entrymod.queries()
    # Median-of-3 (round-7, BASELINE.md stability rule): box variance is
    # ±11% run-to-run with single-query swings up to 3x, so the committed
    # per-query number should be a median of solo runs. The FIRST pass
    # remains the frozen single-run series (headline totals + stdout stay
    # comparable with r1-r6); the median series is recorded alongside for
    # one round before any switch, per BASELINE.md's own rule.
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    all_runs: list[dict[str, float]] = []
    errors: dict[str, str] = {}
    for run_i in range(n_runs):
        run_t: dict[str, float] = {}
        for name, fn in queries.items():
            if name in errors:
                continue  # failed on an earlier pass; don't re-time
            t0 = time.time()
            try:
                df = fn(spark, sf_dir)
                # noop sink: full evaluation of every output column —
                # count() is NOT a valid bench action (module docstring)
                df.write.format("noop").mode("overwrite").save()
                run_t[name] = round(time.time() - t0, 3)
            except Exception as exc:  # one broken query must not kill it
                errors[name] = f"{type(exc).__name__}: {exc}"[:200]
                if run_i == 0:
                    run_t[name] = round(time.time() - t0, 3)
            chunking.release_persisted()
        all_runs.append(run_t)
    # An errored query (ANY pass) is excluded from the headline series
    # entirely — previously a query that succeeded on run 0 but errored
    # later kept its run-0 time in `timings`/`total` while also sitting
    # in `errors`, letting the two disagree about its health within one
    # artifact (ADVICE r7). Its observed run-0 wall time is preserved
    # separately for debugging, never summed.
    timings = {n: t for n, t in all_runs[0].items() if n not in errors}
    errored_timings = {
        n: t for n, t in all_runs[0].items() if n in errors
    }
    # lower median of the OBSERVED successful runs: for a full odd-count
    # list this is the true median; for an even count (a query errored
    # mid-series) it picks the smaller middle value instead of silently
    # reporting the max as "median" (review r7). Errored queries are
    # excluded entirely — their one recorded time lives in `timings` +
    # `errors`, and a median over mixed success/failure runs would let
    # the two series disagree about the query's health.
    median3 = {
        name: round(
            sorted(r[name] for r in all_runs if name in r)[
                (len([r for r in all_runs if name in r]) - 1) // 2
            ],
            3,
        )
        for name in timings
        if name not in errors
    }
    total = round(sum(timings.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    # Per-query detail goes to a committed file; stdout carries only a
    # compact summary. Rationale: the driver records a bounded tail of
    # stdout (~2,000 bytes), and at 78+ queries the full per-query dict
    # outgrew that window, front-truncating the line into unparseable
    # JSON (BENCH_r05.json "parsed": null). The stdout line below stays
    # a few hundred bytes at any battery size; the "queries" dict is
    # restricted to the 10 reference-parity core queries so the driver
    # still sees headline per-query signal.
    detail_path = Path(__file__).resolve().parent / "BENCH_DETAIL.json"
    detail = {
        "metric": "battery_total_wall",
        "value": total,
        "unit": "sec",
        "sf": sf_val,
        "action": "noop-sink (full column materialization)",
        "queries": timings,
        "n_runs": n_runs,
        "queries_median": median3,
        "median_total": round(sum(median3.values()), 3),
        "cpu_probe": cpu_probe,
    }
    if errors:
        detail["errors"] = errors
        detail["errored_run0_timings"] = errored_timings
    if prepare_errors:
        detail["prepare_errors"] = prepare_errors
    detail_path.write_text(json.dumps(detail, indent=1) + "\n")

    core = [
        "q01_pricing_summary", "q02_campaign_totals", "q03_daily_rollup",
        "q04_daily_ctr_report", "q05_delta_antijoin", "q06_upsert_dedup",
        "q07_totals_report", "q08_distinct_projection", "q09_stats",
        "q59_merge_upsert",
    ]
    out = {
        "metric": "battery_total_wall",
        "value": total,
        "unit": "sec",
        "sf": sf_val,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "detail": detail_path.name,
        "queries": {k: timings[k] for k in core if k in timings},
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
