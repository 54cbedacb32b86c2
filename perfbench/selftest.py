#!/usr/bin/env python3
"""Self-test of the benchmark at a tiny corpus.

    python3 perfbench/selftest.py [--docs 2000]

Checks, each on its own runs of perfbench/run.py:
  1. every metric BENCHMARK.json names is printed, with its unit, for every
     workload it lists (end-to-end metrics with --trace 0, per-layer metrics
     with --trace 1), and the answers are correct;
  2. the correctness gate flags a deliberately corrupted answer, injected
     into the benchmark's comparator (never into the engine), on a read
     workload and on ingest;
  3. search_pruned takes the pruned paths: more Spark jobs per bm25_or and
     per nears query than search (same seed, so the same queries), and no
     Spark job escapes the trace.
Exits non-zero when any check fails.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 5


def run(workload, trace, docs, inject=False):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), "--docs", str(docs),
           "--inject-wrong", "1" if inject else "0"]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    if p.returncode != 0:
        raise SystemExit(f"selftest: {' '.join(cmd[1:])} exited with {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--docs", type=int, default=2000)
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    failures = []

    def check(ok, what):
        print(("ok    " if ok else "FAIL  ") + what)
        if not ok:
            failures.append(what)

    traced = {}
    for w in [x["name"] for x in spec["workloads"]]:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            res = run(w, trace, a.docs)
            if trace:
                traced[w] = res
            got = res["metrics"]
            for m in spec[kind]:
                check(m["name"] in got and got[m["name"]]["unit"] == m["unit"],
                      f"{w} --trace {trace}: prints {m['name']} [{m['unit']}]")
            check(set(got) == {m["name"] for m in spec[kind]},
                  f"{w} --trace {trace}: prints no metric outside BENCHMARK.json")
            check(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                  f"{w} --trace {trace}: answers correct ({res['attempted']} attempted)")
            if kind == "end_to_end":
                check(all(got[m["name"]]["value"] > 0 for m in spec[kind]),
                      f"{w} --trace 0: every end-to-end metric is non-zero")

    for w in ("search", "ingest"):
        res = run(w, 0, a.docs, inject=True)
        check(not res["correct"] and res["failed"] >= 1,
              f"{w}: the gate flags corrupted answers ({res['failed']} of "
              f"{res['attempted']} flagged)")

    if "search" not in traced:
        traced["search"] = run("search", 1, a.docs)
    s, p = traced["search"]["metrics"], traced["search_pruned"]["metrics"]
    for f in ("bm25_or", "nears"):
        k = f"q.{f}.jobs"
        check(p[k]["value"] > s[k]["value"],
              f"search_pruned {k} = {p[k]['value']} > search {k} = {s[k]['value']}")
    for w, res in traced.items():
        check(res["metrics"]["spark.unattributed_jobs"]["value"] == 0,
              f"{w}: spark.unattributed_jobs = 0")

    print(f"{len(failures)} check(s) failed" if failures else "all checks passed")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
