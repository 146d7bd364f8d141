#!/usr/bin/env python3
"""Compare two sets of syncbench results.

    python3 syncbench/compare.py BASE NEW

BASE and NEW are directories of result files as run.py writes them
(.bench_build/results/<workload>_s<seed>_c<cpus>_t<trace>.json), or single
files. Runs are grouped by workload, cpus, trace mode and measured seconds,
so runs made with different settings are never pooled. For each metric the
tool prints both sides' medians and quartiles and, for end-to-end metrics,
a verdict under the bound BENCHMARK.json fixes for it:

  regressed   NEW's median is worse than BASE's by more than the bound, or
              the spread is wider than the bound and every NEW run is worse
              than every BASE run
  improved    NEW's median is better by more than BASE's own quartile
              spread and NEW wins at least 9 in 10 of all (BASE, NEW) pairs,
              or the spread is wider than the bound and every NEW run is
              better than every BASE run
  unresolved  the spread on either side is wider than the bound, or a side
              has fewer than 3 runs
  unchanged   otherwise

Per-layer metrics have no bound and get no verdict. Exit status is 1 when any
metric regressed.
"""
import argparse
import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent


def load(path):
    files = sorted(Path(path).glob("*.json")) if Path(path).is_dir() else [Path(path)]
    runs = defaultdict(list)
    for f in files:
        rec = json.loads(f.read_text())
        if "result" not in rec:
            continue
        runs[(rec["workload"], rec["cpus"], rec["trace"], rec["seconds"])].append(rec["result"])
    return runs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(base, new, bound, lower_better):
    if min(len(base), len(new)) < 3:
        return "unresolved"
    b1, bm, b3 = quartiles(base)
    n1, nm, n3 = quartiles(new)
    if bm == 0:
        return "unresolved"
    sign = 1 if lower_better else -1
    worse = sign * (nm - bm) / bm
    spread = max((b3 - b1) / abs(bm), (n3 - n1) / abs(nm) if nm else 0)
    beats = sum(1 for b in base for n in new if sign * (n - b) < 0)
    loses = sum(1 for b in base for n in new if sign * (n - b) > 0)
    if spread > bound:
        if loses == len(base) * len(new):
            return "regressed"
        if beats == len(base) * len(new):
            return "improved"
        return "unresolved"
    if worse > bound:
        return "regressed"
    if -worse > (b3 - b1) / abs(bm) and beats >= 0.9 * (beats + loses) and beats > 0:
        return "improved"
    return "unchanged"


def main():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("base")
    p.add_argument("new")
    p.add_argument("--bench", default=str(HERE.parent / "BENCHMARK.json"))
    a = p.parse_args()
    bench = json.loads(Path(a.bench).read_text())
    spec = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    base, new = load(a.base), load(a.new)
    regressed = False
    for key in sorted(set(base) | set(new)):
        workload, cpus, trace, seconds = key
        b_runs, n_runs = base.get(key, []), new.get(key, [])
        print(f"\n{workload}  cpus={cpus}  trace={trace}  seconds={seconds:g}  "
              f"runs: base {len(b_runs)}, new {len(n_runs)}")
        print(f"  {'metric':34} {'unit':6} {'base q1 / median / q3':>36} {'new q1 / median / q3':>36}  verdict")
        names = [n for n in spec if any(n in r["metrics"] for r in b_runs + n_runs)]
        for name in names:
            bv = [r["metrics"][name]["value"] for r in b_runs if name in r["metrics"]]
            nv = [r["metrics"][name]["value"] for r in n_runs if name in r["metrics"]]
            m = spec[name]

            def show(xs):
                return " / ".join(f"{v:.4g}" for v in quartiles(xs)) if xs else "-"
            v = ""
            if "bound" in m and bv and nv:
                v = verdict(bv, nv, m["bound"], m["better"] == "lower")
                regressed |= v == "regressed"
            print(f"  {name:34} {m['unit']:6} {show(bv):>36} {show(nv):>36}  {v}")
    return 1 if regressed else 0


if __name__ == "__main__":
    sys.exit(main())
