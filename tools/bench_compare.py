"""Probe-normalized cross-round bench comparison (round 13, r12 VERDICT
#4): four same-code solo runs spanned 0.70x-1.19x of baseline in ONE day
(BASELINE.md round-12 adjudication), so raw cross-round wall ratios carry
a box-generation band that consumed a prose re-adjudication every round.
BENCH_DETAIL.json records a fixed-work ``cpu_probe`` since r12; this tool
is the thing that USES it — every per-query and total ratio is divided by
the probe ratio of the two recordings, so a 1.15x raw ratio on a box the
probe says is 1.15x slower normalizes to 1.00x and stops being a finding.

Normalization: probe seconds measure fixed work, so higher = slower box.
    norm_ratio = (t_B / t_A) / (probe_B / probe_A)
The 32-process leg (``procs32_s``) is the default denominator — bench
queries run on local[32], so multi-core throughput (which sees hypervisor
caps/steal that the single leg can miss) is the relevant box speed.

Accepted file shapes (auto-detected):
  - BENCH_DETAIL.json style: {queries, queries_median, cpu_probe, ...}
  - BENCH_r{N}.json driver wrapper: {parsed: {queries, ...}} (no probe —
    ratios print raw, flagged UNNORMALIZED)
  - BENCH_SF1_r{N}.json: {queries: {name: {"sf0.1_sec": .., "sf1_sec": ..,
    "ratio": ..}}, cpu_probe?} — compared on the chosen --sf1-leg.

Usage:
  python tools/bench_compare.py OLD.json NEW.json
      [--series median|single] [--sf1-leg sf1|sf0.1]
      [--band 1.25] [--json OUT.json]

Exit status is always 0 — the tool adjudicates, it does not gate.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path


def _load(path: str) -> dict:
    d = json.loads(Path(path).read_text())
    if "parsed" in d and isinstance(d["parsed"], dict):
        inner = dict(d["parsed"])
        inner.setdefault("cpu_probe", d.get("cpu_probe"))
        return inner
    return d


def _series(d: dict, series: str, sf1_leg: str) -> tuple[dict[str, float], str]:
    """Return (per-query seconds, label of what was ACTUALLY used) — the
    label is printed so an adjudication records which leg it compared
    (round-14 review: a silent fallback could mislabel a load-bearing
    BASELINE.md row)."""
    qs = d.get("queries") or {}
    if qs and isinstance(next(iter(qs.values())), dict):
        # BENCH_SF1 shape: per-query dicts with sf0.1_sec / sf1_sec
        key = "sf1_sec" if sf1_leg == "sf1" else "sf0.1_sec"
        return {n: v[key] for n, v in qs.items() if key in v}, f"sf1-leg:{key}"
    if series == "median":
        got = d.get("queries_median")
        return (got, "median") if got else (qs, "single (no median recorded)")
    return qs, "single"


def _probe(d: dict) -> "float | None":
    p = d.get("cpu_probe")
    if isinstance(p, dict) and p.get("procs32_s"):
        return float(p["procs32_s"])
    return None


def main() -> None:
    argv = sys.argv[1:]
    series, sf1_leg, band, out_json = "median", "sf1", 1.25, None
    paths = []
    i = 0
    while i < len(argv):
        a = argv[i]
        if a == "--series":
            series = argv[i + 1]; i += 2
        elif a == "--sf1-leg":
            sf1_leg = argv[i + 1]; i += 2
        elif a == "--band":
            band = float(argv[i + 1]); i += 2
        elif a == "--json":
            out_json = argv[i + 1]; i += 2
        else:
            paths.append(a); i += 1
    if series not in ("median", "single"):
        sys.exit(f"unknown --series {series!r}: expected median|single")
    if sf1_leg not in ("sf1", "sf0.1"):
        sys.exit(f"unknown --sf1-leg {sf1_leg!r}: expected sf1|sf0.1")
    if len(paths) != 2:
        sys.exit(__doc__)
    a, b = _load(paths[0]), _load(paths[1])
    (qa, used_a), (qb, used_b) = (
        _series(a, series, sf1_leg), _series(b, series, sf1_leg)
    )
    pa, pb = _probe(a), _probe(b)
    probe_ratio = (pb / pa) if (pa and pb) else None

    common = sorted(set(qa) & set(qb))
    rows = []
    for name in common:
        ta, tb = qa[name], qb[name]
        raw = tb / ta if ta else float("inf")
        norm = raw / probe_ratio if probe_ratio else None
        rows.append({
            "query": name,
            "old_sec": round(ta, 3),
            "new_sec": round(tb, 3),
            "raw_ratio": round(raw, 3),
            "norm_ratio": round(norm, 3) if norm is not None else None,
        })
    tot_a = sum(qa[n] for n in common)
    tot_b = sum(qb[n] for n in common)
    raw_total = tot_b / tot_a if tot_a else float("inf")
    norm_total = raw_total / probe_ratio if probe_ratio else None

    eff = "norm_ratio" if probe_ratio else "raw_ratio"
    movers = sorted(
        (r for r in rows if (r[eff] or r["raw_ratio"]) > band),
        key=lambda r: -(r[eff] or r["raw_ratio"]),
    )
    summary = {
        "series": series,
        "series_used_old": used_a,
        "series_used_new": used_b,
        "n_common": len(common),
        "only_old": sorted(set(qa) - set(qb)),
        "only_new": sorted(set(qb) - set(qa)),
        "probe_old_procs32_s": pa,
        "probe_new_procs32_s": pb,
        "probe_ratio": round(probe_ratio, 3) if probe_ratio else None,
        "normalized": probe_ratio is not None,
        "total_old_sec": round(tot_a, 2),
        "total_new_sec": round(tot_b, 2),
        "total_raw_ratio": round(raw_total, 3),
        "total_norm_ratio": round(norm_total, 3) if norm_total else None,
        "band": band,
        "movers_beyond_band": movers,
    }
    if out_json:
        Path(out_json).write_text(
            json.dumps({"summary": summary, "queries": rows}, indent=1) + "\n"
        )

    tag = "" if probe_ratio else "  [UNNORMALIZED — probe missing in ≥1 file]"
    used = used_a if used_a == used_b else f"old={used_a} new={used_b}"
    print(f"common queries: {len(common)}  series used: {used}{tag}")
    if probe_ratio:
        print(f"probe: {pa:.3f}s -> {pb:.3f}s  (box ratio {probe_ratio:.3f}x; "
              "ratios below are divided by it)")
    print(f"total: {tot_a:.2f}s -> {tot_b:.2f}s  raw {raw_total:.3f}x"
          + (f"  normalized {norm_total:.3f}x" if norm_total else ""))
    if summary["only_old"]:
        print(f"only in old: {', '.join(summary['only_old'])}")
    if summary["only_new"]:
        print(f"only in new: {', '.join(summary['only_new'])}")
    if movers:
        print(f"movers beyond {band}x ({eff}):")
        for r in movers[:20]:
            n = (f"  norm {r['norm_ratio']}x" if r["norm_ratio"] is not None
                 else "")
            print(f"  {r['query']}: {r['old_sec']}s -> {r['new_sec']}s  "
                  f"raw {r['raw_ratio']}x{n}")
    else:
        print(f"no movers beyond {band}x — nothing to adjudicate")


if __name__ == "__main__":
    main()
