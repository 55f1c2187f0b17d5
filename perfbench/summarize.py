"""Summarise benchmark runs: per workload and metric, the median, the
quartiles and the interquartile spread as a share of the median, over all
result files of untraced full-size runs in a results directory (default
perfbench/.work/results). Every run is reported; none is dropped. For each
run, the host steal share is shown as an annotation.

A gated metric is marked OVER when its spread exceeds a third of its
bound. With ``--against DIR`` (another set of runs of the same commit),
each metric's median is also compared with that set's median, and a gated
metric is marked DRIFT when it reads worse by more than its bound.

    python3 perfbench/summarize.py [--results DIR] [--against DIR] [workload ...]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULTS = os.path.join(HERE, ".work", "results")


def load(results: str, workloads: list[str]) -> dict[str, list[dict]]:
    runs: dict[str, list[dict]] = {}
    for path in glob.glob(os.path.join(results, "*.json")):
        with open(path) as f:
            r = json.load(f)
        if (r["trace"] == 0 and r.get("size") == "full"
                and (not workloads or r["workload"] in workloads)):
            runs.setdefault(r["workload"], []).append(r)
    return runs


def stats(rs: list[dict], name: str) -> tuple[float, float, float]:
    xs = [r["report"][name][0] for r in rs if name in r["report"]]
    med = statistics.median(xs)
    q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) >= 2 else (
        med, med, med)
    return med, q1, q3


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--results", default=RESULTS)
    ap.add_argument("--against")
    ap.add_argument("workloads", nargs="*")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    gated = {m["name"]: m for m in spec["end_to_end"]}
    runs = load(args.results, args.workloads)
    other = load(args.against, args.workloads) if args.against else {}
    for w, rs in sorted(runs.items()):
        rs.sort(key=lambda r: r["seed"])
        print(f"{w}: {len(rs)} runs, seeds {[r['seed'] for r in rs]}")
        print("  steal " + " ".join(
            f"{r['notes']['host_steal_share']:.3f}" for r in rs)
            + "  wall " + " ".join(f"{r['run_wall_s']:.0f}" for r in rs))
        for n in rs[0]["report"]:
            med, q1, q3 = stats(rs, n)
            spread = (q3 - q1) / med if med else float("nan")
            line = (f"  {n:28s} median {med:12.5g}  q1 {q1:12.5g}  "
                    f"q3 {q3:12.5g}  spread {spread:6.3f}")
            g = gated.get(n)
            if g:
                line += f" bound {g['bound']}"
                line += " OVER" if spread > g["bound"] / 3 else " ok"
            if other.get(w):
                ref = stats(other[w], n)[0]
                worse = (med - ref) / ref if ref else 0.0
                if g and g["better"] == "higher":
                    worse = -worse
                line += f"  vs other set {worse:+.3f}"
                if g and worse > g["bound"]:
                    line += " DRIFT"
            print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
