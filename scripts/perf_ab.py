"""Interleaved A/B of two checkouts on the repository's benchmark.

    python3 scripts/perf_ab.py BASE_DIR CHANGE_DIR --workload raster --seeds 31-40
    python3 scripts/perf_ab.py BASE_DIR CHANGE_DIR --workload ingest --seeds 31-35 \
        --trace 1 --metrics plans.partitioning.adaptive_prefix_column_s

For each seed, runs ``perfbench/run.py --workload W --seed S --seconds 10
--trace T`` in both checkouts back to back; even seeds run BASE first, odd
seeds CHANGE first, so a drift of the host's load does not favour one side.
Exits non-zero on a run whose result is not ``correct``. Prints one line per
run, then per compared metric each side's median and q1/q3, the number of
pairs the change won and a verdict (``verdict``). An untraced run reports the
end-to-end metrics of BENCHMARK.json and a traced one its per-layer metrics,
so ``--trace 0`` compares the former and ``--trace 1`` the per-layer metrics
named in ``--metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def run(checkout: str, workload: str, seed: int, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", "10", "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if proc.returncode == 0 and lines else {}
    if not result.get("correct"):
        sys.exit(f"{checkout} seed {seed}: not correct\n{proc.stderr[-2000:]}")
    return {k: m["value"] for k, m in result["metrics"].items()}


def pairs_won(base: list[float], change: list[float], better: str) -> int:
    """Pairs in which the change is strictly better than the base."""
    sign = 1 if better == "lower" else -1
    return sum(sign * (c - b) < 0 for b, c in zip(base, change))


def verdict(base: list[float], change: list[float], better: str,
            bound: float | None = None) -> str:
    """``gain`` if the change wins at least 9 in 10 pairs and its median
    is better than the base's by more than the base's interquartile range;
    ``worse`` if its median is worse than the base's by more than ``bound``
    (a fraction of the base median; per-layer metrics have none);
    otherwise ``unresolved`` if the medians differ by more than that range
    or the range itself is wider than ``bound``, else ``same``."""
    sign = 1 if better == "lower" else -1
    q1, base_med, q3 = statistics.quantiles(base, n=4, method="inclusive")
    shift = sign * (statistics.median(change) - base_med)  # > 0: worse
    spread = q3 - q1
    if pairs_won(base, change, better) >= 0.9 * len(base) and -shift > spread:
        return "gain"
    limit = float("inf") if bound is None else bound * abs(base_med)
    if shift > limit:
        return "worse"
    return "unresolved" if abs(shift) > spread or spread > limit else "same"


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 31-40")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--metrics", default="",
                    help="comma-separated per-layer metrics (with --trace 1)")
    args = ap.parse_args()
    first, last = map(int, args.seeds.split("-"))
    with open(os.path.join(args.change, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    per_layer = {m["name"]: m for m in spec["per_layer"]}
    names = [n for n in args.metrics.split(",") if n]
    unknown = [n for n in names if n not in per_layer]
    if unknown:
        ap.error(f"not a per-layer metric of BENCHMARK.json: {unknown}")
    if bool(args.trace) != bool(names):
        ap.error("--metrics names the per-layer metrics a --trace 1 run "
                 "reports; an untraced run reports end-to-end ones only")
    metrics = ([per_layer[n] for n in names] if args.trace
               else spec["end_to_end"])
    sides = {"base": [], "change": []}
    for seed in range(first, last + 1):
        order = ("base", "change") if seed % 2 == 0 else ("change", "base")
        for side in order:
            sides[side].append(
                run(getattr(args, side), args.workload, seed, args.trace))
            shown = {m["name"]: round(sides[side][-1][m["name"]], 3)
                     for m in metrics}
            print(f"seed {seed} {side}: {json.dumps(shown)}", flush=True)
    for m in metrics:
        name = m["name"]
        base = [r[name] for r in sides["base"]]
        change = [r[name] for r in sides["change"]]
        summary = []
        for side, vals in (("base", base), ("change", change)):
            q1, med, q3 = statistics.quantiles(vals, n=4, method="inclusive")
            summary.append(f"{side} {med:.4g} (q1 {q1:.4g}, q3 {q3:.4g})")
        won = pairs_won(base, change, m["better"])
        base_med = statistics.median(base)
        pct = (f"{(statistics.median(change) / base_med - 1) * 100:+.1f}%"
               if base_med else "base median 0")
        print(f"{args.workload} {name}: {'; '.join(summary)}; "
              f"change won {won}/{len(base)} pairs ({pct}): "
              f"{verdict(base, change, m['better'], m.get('bound'))}")


if __name__ == "__main__":
    main()
