#!/usr/bin/env python3
"""Summarize benchmark run outputs: median and quartiles per metric per workload.

    python3 perfbench/summarize.py RUN_OUTPUT... [--bounds BENCHMARK.json]

Each RUN_OUTPUT is the captured stdout of one `perfbench/run.py` run, in a
file whose name contains its workload (e.g. `search_pruned-7.out`); names
are matched longest first, so `search_pruned` is not read as `search`. For
every (workload, metric) it prints the sample
count, the median, the first and third quartiles (Python's
statistics.quantiles, n=4) and the spread (Q3 - Q1) / median, flagged when
the spread exceeds the metric's bound in BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))


def load_result(path):
    with open(path) as fh:
        lines = [l for l in fh.read().splitlines() if l.strip()]
    if not lines:
        raise SystemExit(f"{path}: no result line")
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("outputs", nargs="+")
    ap.add_argument("--bounds", default=os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    a = ap.parse_args()

    spec = json.load(open(a.bounds))
    names = sorted(["search"] + [w["name"] for w in spec["workloads"]], key=len, reverse=True)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    values = defaultdict(lambda: defaultdict(list))
    units = {}
    bad = []
    for path in a.outputs:
        res = load_result(path)
        base = os.path.basename(path)
        workload = next((n for n in names if n in base), "?")
        if not res["correct"] or res["failed"]:
            bad.append(f"{base}: correct={res['correct']} failed={res['failed']}")
        for name, m in res["metrics"].items():
            values[workload][name].append(m["value"])
            units[name] = m["unit"]

    print(f"{'workload':14} {'metric':36} {'n':>3} {'median':>14} {'q1':>14} {'q3':>14} "
          f"{'spread':>7} bound")
    for w in sorted(values):
        for name, vs in values[w].items():
            med = statistics.median(vs)
            q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0], 0, vs[0])
            spread = (q3 - q1) / med if med else 0.0
            b = bounds.get(name)
            flag = " OVER" if b is not None and name != "setup_s" and spread > b else ""
            print(f"{w:14} {name + ' [' + units[name] + ']':36} {len(vs):3d} {med:14.6g} "
                  f"{q1:14.6g} {q3:14.6g} {spread:7.3f} {'' if b is None else b}{flag}")
    for b in bad:
        print("INCORRECT", b)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
