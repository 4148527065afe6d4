"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload etl_wide --seed 1 --seconds 15 --trace 0

Run from the root of a source checkout; the package is imported from there.
The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. Details (round times, failures, span totals) go to standard
error. Everything the run writes lives under ``.perfbench_run/`` in the
checkout and is removed at exit. The exit code is 0 only when every
operation and output check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from collections import defaultdict
from pathlib import Path

from spans import Tracer, self_times, tail_percentile

T0 = time.time()  # set-up time counts from process start

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PKG = "data_engineering_task_adtech_data_pipeline_spark"
MAX_THREADS = 4


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for process {pid}")


def _start_spark(scratch: Path, event_dir: Path | None):
    from data_engineering_task_adtech_data_pipeline_spark.session import get_spark

    threads = min(MAX_THREADS, len(os.sched_getaffinity(0)))
    conf = {
        # the package defaults to 8g; the heap is capped to keep the
        # benchmark small on a shared machine (GC is ~4% of task time)
        "spark.driver.memory": "2g",
        "spark.local.dir": str(scratch / "spark-local"),
        "spark.sql.warehouse.dir": str(scratch / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={scratch / 'tmp'}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir is not None:
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    return get_spark("perfbench", master=f"local[{threads}]", extra_conf=conf)


def _shutdown(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _span_summary(tracer: Tracer) -> list[str]:
    st = self_times(tracer.spans)
    agg = defaultdict(lambda: [0, 0.0, 0.0])
    for s in tracer.spans:
        a = agg[(s.layer, s.name)]
        a[0] += 1
        a[1] += s.dur
        a[2] += st[s.id]
    return [f"  {layer:9s} {name:34s} n={n:<5d} total={tot:9.3f}s self={slf:9.3f}s"
            for (layer, name), (n, tot, slf) in sorted(agg.items())]


def main(argv=None) -> int:
    args = _parse(argv)
    if not (ROOT / PKG).is_dir() or not (ROOT / "tools" / "oracle_check.py").is_file():
        print(f"perfbench: no {PKG} source checkout at {ROOT}", file=sys.stderr)
        return 2
    scratch = ROOT / ".perfbench_run" / f"{args.workload}-{os.getpid()}"
    event_dir = scratch / "events" if args.trace else None
    # the program's knobs stay at their defaults; temp files stay in scratch
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["TMPDIR"] = str(scratch / "tmp")
    tempfile.tempdir = None
    # every JVM (the launcher too) would otherwise write /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"]))
    # Python workers (UDF queries) import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), *filter(None, [os.environ.get("PYTHONPATH")])])
    sys.path.insert(0, str(ROOT))
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    for d in (scratch / "tmp", event_dir):
        if d is not None:
            d.mkdir(parents=True)

    spark = None
    try:
        spark = _start_spark(scratch, event_dir)
        session_s = time.time() - T0
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        tracer = None
        if args.trace:
            tracer = Tracer(spark.sparkContext)
        ctx = workloads.Context(spark, scratch, tracer, event_dir)
        out = workloads.WORKLOADS[args.workload](ctx, args.seed, args.seconds, T0)
        peak_rss_mb = (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb("self")) / 1024
    finally:
        if spark is not None:
            _shutdown(spark)
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            scratch.parent.rmdir()  # only when no other run is using it
        except OSError:
            pass

    if not out.rounds:
        print("perfbench: no timed round completed", *out.problems,
              sep="\n  ", file=sys.stderr)
        return 1
    round_p50 = statistics.median(out.rounds)
    with open(ROOT / "BENCHMARK.json") as fh:
        spec = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in spec}
    if args.trace:
        # a layer the workload does not run reads 0
        values = {name: 0.0 for name in units}
        values |= out.per_layer
        values |= {"trace.setup_s": out.setup_s, "trace.round_s": round_p50,
                   "mem.peak_rss_mb": peak_rss_mb}
    else:
        values = {"setup_s": out.setup_s, "round_s.p50": round_p50}

    tail = tail_percentile(out.rounds)
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}: "
          f"setup {out.setup_s:.3f}s (session start {session_s:.3f}s), {len(out.rounds)} timed rounds "
          f"[{', '.join(f'{r:.3f}' for r in out.rounds)}], "
          f"tail {'n/a (fewer than 11 rounds)' if tail is None else f'p{tail[0]}={tail[1]:.3f}s'}, "
          f"peak rss {peak_rss_mb:.0f} MB; untimed phases: "
          + ", ".join(f"{k} {v:.3f}s" for k, v in out.phases.items()), file=sys.stderr)
    for p in out.problems:
        print(f"  FAILED: {p}", file=sys.stderr)
    if tracer is not None:
        print("spans (layer, name, count, total, self):", file=sys.stderr)
        print("\n".join(_span_summary(tracer)), file=sys.stderr)
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0 if out.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
