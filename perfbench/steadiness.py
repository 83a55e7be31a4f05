#!/usr/bin/env python3
"""Summarizes sets of benchmark runs into perfbench/steadiness.json.

    python3 perfbench/steadiness.py --set A 101-110 --set B 201-210

Each set is a seed range whose untraced runs perfbench/run.py left in
perfbench/results/. For every workload and end-to-end metric of
BENCHMARK.json it records each set's values, median, quartiles
(statistics.quantiles, n=4) and spread (interquartile distance over the
median), and every later set's median change against the first set's,
in the metric's worse direction, next to the metric's bound.
"""
import argparse
import glob
import json
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))


def load(workload, seeds):
    values = {}
    for s in seeds:
        files = sorted(glob.glob(os.path.join(
            HERE, "results", f"{workload}_seed{s}_trace0_*.json")), key=os.path.getmtime)
        if not files:
            raise SystemExit(f"no result for {workload} seed {s}")
        with open(files[-1]) as fh:
            run = json.load(fh)
        if not run["result"]["correct"]:
            raise SystemExit(f"{files[-1]} is not correct")
        for name, m in run["result"]["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    return values


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--set", nargs=2, action="append", required=True,
                    metavar=("NAME", "FIRST-LAST"))
    a = ap.parse_args()
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    out = {"sets": {n: r for n, r in a.set}, "workloads": {}}
    for w in (x["name"] for x in bench["workloads"]):
        per = {}
        for name, rng in a.set:
            lo, hi = map(int, rng.split("-"))
            per[name] = load(w, range(lo, hi + 1))
        out["workloads"][w] = {}
        for m in bench["end_to_end"]:
            n, sign = m["name"], 1 if m["better"] == "lower" else -1
            entry = {"unit": m["unit"], "bound": m["bound"]}
            first = None
            for name, _ in a.set:
                v = per[name][n]
                q1, _, q3 = statistics.quantiles(v, n=4)
                median = statistics.median(v)
                entry[name] = {"values": v, "median": median, "q1": q1, "q3": q3,
                               "spread": (q3 - q1) / median}
                if first is None:
                    first = median
                else:
                    entry[name]["worse_than_first"] = sign * (median - first) / first
            out["workloads"][w][n] = entry
    with open(os.path.join(HERE, "steadiness.json"), "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")
    for w, ms in out["workloads"].items():
        for n, e in ms.items():
            cells = [f"{s}: med {e[s]['median']:.4g} spread {e[s]['spread']:.3f}"
                     + (f" worse {e[s]['worse_than_first']:+.3f}" if "worse_than_first" in e[s] else "")
                     for s, _ in a.set]
            print(f"{w:12} {n:11} bound {e['bound']:.2f} | " + " | ".join(cells))


if __name__ == "__main__":
    main()
