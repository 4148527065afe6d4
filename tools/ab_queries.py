"""Per-query interleaved A/B between two checkouts (round 15).

The battery-wide protocol is ``tools/interleaved_ab.py`` (full bench,
~8 min per invocation); this is its cheap per-change sibling: for a
HANDFUL of named queries it alternates solo ``tools/profile_queries.py``
subprocess runs between checkout A (baseline, usually a git worktree
pinned at the pre-change commit) and checkout B (the working tree),
switching which checkout runs first from round to round, then
reports per-query medians of ``total_s`` (build + noop-sink exec) plus
the deterministic plan/job counters, which are box-independent evidence.

Usage:
  python tools/ab_queries.py --a /root/prev --b /root/repo --rounds 3 \
      [--sf-dir /root/testdata/sf0.1] q49_embedding_dup_pairs [q...]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path


def run_profile(root: Path, sf_dir: str, names: list[str]) -> dict:
    out = Path(tempfile.mkstemp(suffix=".json")[1])
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", "32")
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, "tools/profile_queries.py", "--json", str(out),
         sf_dir, *names],
        cwd=root, env=env, capture_output=True, text=True,
    )
    wall = time.time() - t0
    if proc.returncode != 0:
        raise RuntimeError(
            f"profile in {root} rc={proc.returncode}\n{proc.stderr[-3000:]}"
        )
    d = json.loads(out.read_text())
    out.unlink()
    d["_wall"] = round(wall, 1)
    return d


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--a", required=True)
    ap.add_argument("--b", required=True)
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--json", dest="out_json")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    runs: dict[str, list[dict]] = {"a": [], "b": []}
    roots = {"a": Path(args.a), "b": Path(args.b)}
    for i in range(args.rounds):
        # alternate which checkout runs first, so an order effect (and the
        # session's cold first run) does not always land on A
        for label in ("a", "b") if i % 2 == 0 else ("b", "a"):
            root = roots[label]
            d = run_profile(root, args.sf_dir, args.names)
            runs[label].append(d)
            tot = {n: d[n]["total_s"] for n in args.names if n in d}
            print(f"[ab_queries] round {i+1} {label} ({root}): {tot} "
                  f"wall={d['_wall']}s", flush=True)

    report = {}
    for n in args.names:
        med = {}
        for label in ("a", "b"):
            vals = [r[n]["total_s"] for r in runs[label] if n in r]
            med[label] = round(statistics.median(vals), 3) if vals else None
        row = {
            "a_median_total_s": med["a"],
            "b_median_total_s": med["b"],
            "ratio_b_over_a": (
                round(med["b"] / med["a"], 3) if med["a"] and med["b"] else None
            ),
        }
        # deterministic counters from the LAST run of each side
        for key in ("n_jobs", "n_stages", "n_tasks", "exchanges",
                    "plan_chars", "smj", "bhj", "shj", "python_eval"):
            row[f"a_{key}"] = runs["a"][-1].get(n, {}).get(key)
            row[f"b_{key}"] = runs["b"][-1].get(n, {}).get(key)
        report[n] = row
        print(f"[ab_queries] {n}: A {med['a']}s -> B {med['b']}s "
              f"(ratio {row['ratio_b_over_a']}), jobs "
              f"{row['a_n_jobs']}->{row['b_n_jobs']}, exchanges "
              f"{row['a_exchanges']}->{row['b_exchanges']}, tasks "
              f"{row['a_n_tasks']}->{row['b_n_tasks']}", flush=True)
    if args.out_json:
        Path(args.out_json).write_text(json.dumps(report, indent=1) + "\n")


if __name__ == "__main__":
    main()
