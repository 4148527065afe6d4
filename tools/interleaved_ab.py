"""Interleaved same-box A/B of two checkouts (round-15, r14 VERDICT #1).

Round 14's lesson: the box's multi-core throughput swings 3-5x within
hours, so two solo bench recordings taken at different times are not
comparable even probe-normalized — the r14 judge ruled the round "flat"
because every cross-round claim needed a probe denominator. The fix is
the protocol this tool implements: ALTERNATE solo bench invocations
between the two checkouts (A, B, A, B, ...) so both sample the same box
regime, then compare per-query medians ACROSS the interleaved runs.

Each invocation is `bench.py` run solo (never concurrently) in the given
checkout with SPARK_GRAFT_BENCH_RUNS=1 — the cross-run median over N
interleaved invocations replaces bench.py's within-run median-of-3,
which is the stronger estimator here precisely because the runs
interleave with the other side's. The per-checkout BENCH_DETAIL.json
files are copied to the output dir, a median-aggregated
BENCH_DETAIL-shaped file is written per side (queries_median = cross-run
median, cpu_probe = median probe), and tools/bench_compare.py
adjudicates the pair.

With ``--perfbench WORKLOAD`` the tool alternates untraced
``perfbench/run.py --workload WORKLOAD --seed S --seconds 5 --trace 0`` runs
instead, one pair per seed, switching which checkout runs first from pair
to pair. For every end-to-end metric the B checkout's BENCHMARK.json
declares, it prints each side's median and quartiles and the share of
pairs B wins, and whether the medians differ by more than A's
interquartile range (``perfbench_summary.json`` in ``--out``). Both
checkouts must be exported copies side by side, as the benchmark runs
them: a git working tree (a directory with a ``.git`` entry) is refused,
because an A/B of a working tree against an exported parent misread
``query_mix`` (change wins 1/10 where the exported pair read 5/10).

Usage:
  python tools/interleaved_ab.py --a /root/r13head --b /root/repo \
      --rounds 4 --out /root/repo/plans/r15/ab_start \
      [--label-a r13 --label-b r15] [--sf-dir /root/testdata/sf0.1]
  git archive PARENT | tar -x -C ../ab/parent    # two sibling exports
  git archive HEAD | tar -x -C ../ab/change
  python tools/interleaved_ab.py --a ../ab/parent --b ../ab/change \
      --perfbench etl_wide --rounds 10 --first-seed 11 --out /tmp/ab_etl
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path


def run_bench(root: Path, sf_dir: str, env_extra: dict[str, str]) -> dict:
    env = dict(os.environ)
    env.update(env_extra)
    env["SPARK_GRAFT_SF_DIR"] = sf_dir
    env.setdefault("SPARK_GRAFT_CPUS", "32")
    env["SPARK_GRAFT_BENCH_RUNS"] = "1"
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=root,
        env=env,
        capture_output=True,
        text=True,
    )
    wall = time.time() - t0
    if proc.returncode != 0:
        raise RuntimeError(
            f"bench in {root} rc={proc.returncode}\n{proc.stderr[-2000:]}"
        )
    detail = json.loads((root / "BENCH_DETAIL.json").read_text())
    detail["_invocation_wall_s"] = round(wall, 1)
    return detail


def aggregate(runs: list[dict]) -> dict:
    """Cross-run per-query medians in BENCH_DETAIL shape (so
    bench_compare.py --series median reads it directly)."""
    names = set()
    for r in runs:
        names.update(r.get("queries", {}))
    med = {}
    for n in sorted(names):
        vals = [r["queries"][n] for r in runs if n in r.get("queries", {})]
        if vals:
            med[n] = round(statistics.median(vals), 3)
    probes = [r["cpu_probe"]["procs32_s"] for r in runs if r.get("cpu_probe")]
    singles = [r["cpu_probe"]["single_s"] for r in runs if r.get("cpu_probe")]
    return {
        "metric": "battery_total_wall",
        "unit": "sec",
        "sf": runs[0].get("sf"),
        "action": runs[0].get("action"),
        "aggregation": f"per-query median across {len(runs)} interleaved solo runs",
        "queries": med,
        "queries_median": med,
        "median_total": round(sum(med.values()), 3),
        "value": round(sum(med.values()), 3),
        "cpu_probe": {
            "single_s": round(statistics.median(singles), 3) if singles else None,
            "procs32_s": round(statistics.median(probes), 3) if probes else None,
            "all_procs32_s": probes,
        },
        "per_run_totals": [
            round(sum(r.get("queries", {}).values()), 3) for r in runs
        ],
        "per_run_walls": [r.get("_invocation_wall_s") for r in runs],
        "errors": {
            f"run{i}:{k}": v
            for i, r in enumerate(runs)
            for k, v in (r.get("errors") or {}).items()
        },
    }


def run_perfbench(root: Path, workload: str, seed: int) -> dict:
    """One untraced perfbench run in ``root``: its result line, or an
    incorrect run without metrics when it printed none."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "5", "--trace", "0"],
        cwd=root, capture_output=True, text=True,
    )
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        result = {"correct": False, "attempted": 0, "failed": 0, "metrics": {},
                  "stderr_tail": proc.stderr[-2000:]}
    result["seed"] = seed
    return result


def _spread(vals: list[float]) -> dict[str, float]:
    q1 = q3 = vals[0]
    if len(vals) > 1:
        q1, _, q3 = statistics.quantiles(vals, n=4, method="inclusive")
    return {"median": statistics.median(vals), "q1": q1, "q3": q3}


def summarize_perfbench(pairs: list[tuple[dict, dict]],
                        better: dict[str, str]) -> dict:
    """Per end-to-end metric (``better`` maps its name to "lower" or
    "higher"): each side's median and quartiles over the pairs where both
    runs report it, the share of those pairs B wins (a tie is no win), and
    whether B's median is better than A's by more than A's interquartile
    range. Also each side's incorrect runs and failed share of
    operations."""
    out: dict = {"pairs": len(pairs), "metrics": {}}
    for name, direction in better.items():
        both = [(a["metrics"][name]["value"], b["metrics"][name]["value"])
                for a, b in pairs
                if name in a.get("metrics", {}) and name in b.get("metrics", {})]
        if not both:
            continue
        sides = {"a": _spread([x for x, _ in both]),
                 "b": _spread([y for _, y in both])}
        sign = 1 if direction == "lower" else -1
        wins = sum(1 for x, y in both if sign * (x - y) > 0)
        gain = sign * (sides["a"]["median"] - sides["b"]["median"])
        out["metrics"][name] = {
            "better": direction,
            "n": len(both),
            **sides,
            "b_wins": wins,
            "b_win_frac": wins / len(both),
            "b_better_beyond_a_iqr": gain > sides["a"]["q3"] - sides["a"]["q1"],
        }
    for side, idx in (("a", 0), ("b", 1)):
        runs = [pair[idx] for pair in pairs]
        attempted = sum(r.get("attempted", 0) for r in runs)
        out[side] = {
            "incorrect_runs": sum(1 for r in runs if not r.get("correct")),
            "failed_frac": (sum(r.get("failed", 0) for r in runs) / attempted
                            if attempted else None),
        }
    return out


def refuse_working_trees(roots: dict[str, Path]) -> None:
    """Exit unless every checkout is an export (no ``.git`` entry)."""
    for label, root in roots.items():
        if (root / ".git").exists():
            sys.exit(
                f"[interleaved_ab] {label} ({root}) is a git working tree; "
                "export each side into a sibling directory instead, e.g. "
                "git archive HEAD | tar -x -C <dir>"
            )


def perfbench_ab(args, roots: dict[str, Path], out: Path) -> None:
    refuse_working_trees(roots)
    label_a, label_b = roots
    spec = json.loads((roots[label_b] / "BENCHMARK.json").read_text())
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}
    pairs = []
    for i in range(args.rounds):
        seed = args.first_seed + i
        order = [label_a, label_b] if i % 2 == 0 else [label_b, label_a]
        res = {}
        for label in order:
            res[label] = run_perfbench(roots[label], args.perfbench, seed)
            (out / f"{label}_{args.perfbench}_seed{seed}.json").write_text(
                json.dumps(res[label], indent=1) + "\n"
            )
            vals = {k: round(v["value"], 3)
                    for k, v in res[label].get("metrics", {}).items()}
            print(f"[interleaved_ab] pair {i + 1}/{args.rounds} seed {seed} "
                  f"{label}: correct={res[label].get('correct')} {vals}",
                  flush=True)
        pairs.append((res[label_a], res[label_b]))
    summary = summarize_perfbench(pairs, better)
    summary["workload"] = args.perfbench
    summary["labels"] = {"a": label_a, "b": label_b}
    (out / "perfbench_summary.json").write_text(
        json.dumps(summary, indent=1) + "\n"
    )
    for name, m in summary["metrics"].items():
        a, b = m["a"], m["b"]
        print(f"[interleaved_ab] {args.perfbench} {name} ({m['better']} is "
              f"better): {label_a} {a['median']:.3f} [{a['q1']:.3f}, "
              f"{a['q3']:.3f}]  {label_b} {b['median']:.3f} [{b['q1']:.3f}, "
              f"{b['q3']:.3f}]  {label_b} wins {m['b_wins']}/{m['n']}; "
              f"better beyond {label_a}'s IQR: {m['b_better_beyond_a_iqr']}",
              flush=True)
    for side, label in (("a", label_a), ("b", label_b)):
        print(f"[interleaved_ab] {label}: incorrect runs "
              f"{summary[side]['incorrect_runs']}, failed share "
              f"{summary[side]['failed_frac']}", flush=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--a", required=True, help="checkout A (old/baseline)")
    ap.add_argument("--b", required=True, help="checkout B (new)")
    ap.add_argument("--label-a", default="A")
    ap.add_argument("--label-b", default="B")
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--out", required=True)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--perfbench", metavar="WORKLOAD",
                    help="alternate perfbench runs of WORKLOAD instead of bench.py")
    ap.add_argument("--first-seed", type=int, default=1,
                    help="perfbench seed of the first pair; pair i uses +i")
    args = ap.parse_args()

    out = Path(args.out)
    out.mkdir(parents=True, exist_ok=True)
    roots = {args.label_a: Path(args.a), args.label_b: Path(args.b)}
    if args.perfbench:
        perfbench_ab(args, roots, out)
        return
    runs: dict[str, list[dict]] = {args.label_a: [], args.label_b: []}

    for i in range(args.rounds):
        for label, root in roots.items():
            print(f"[interleaved_ab] round {i + 1}/{args.rounds} {label} "
                  f"({root})", flush=True)
            d = run_bench(root, args.sf_dir, {})
            (out / f"{label}_{i + 1}.json").write_text(
                json.dumps(d, indent=1) + "\n"
            )
            runs[label].append(d)
            tot = round(sum(d["queries"].values()), 2)
            probe = d.get("cpu_probe", {})
            print(f"[interleaved_ab]   total {tot}s  probe "
                  f"{probe.get('single_s')}/{probe.get('procs32_s')}  "
                  f"wall {d['_invocation_wall_s']}s", flush=True)

    agg_paths = {}
    for label, rs in runs.items():
        agg = aggregate(rs)
        p = out / f"{label}_median.json"
        p.write_text(json.dumps(agg, indent=1) + "\n")
        agg_paths[label] = p
        print(f"[interleaved_ab] {label}: median_total {agg['median_total']}s "
              f"(per-run totals {agg['per_run_totals']})", flush=True)
        if agg["errors"]:
            print(f"[interleaved_ab] {label} ERRORS: {agg['errors']}",
                  flush=True)

    cmp_out = out / "compare.json"
    subprocess.run(
        [sys.executable, str(Path(__file__).parent / "bench_compare.py"),
         str(agg_paths[args.label_a]), str(agg_paths[args.label_b]),
         "--series", "median", "--json", str(cmp_out)],
        check=False,
    )


if __name__ == "__main__":
    main()
