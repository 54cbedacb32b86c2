#!/usr/bin/env python3
"""Run one workload of the repository benchmark.

    python3 perfbench/run.py --workload <ingest|search|search_pruned> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark program from source when needed
(perfbench/build.py), runs perfbench.Main in one JVM with a local[<cores>]
Spark session, and prints its JSON result as the last line of stdout.
Everything the run writes stays under the build directory and is removed
afterwards.

Self-test options (not used by measured runs): --docs <n> shrinks the corpus,
--inject-wrong 1 corrupts one answer per family inside the comparator.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["ingest", "search", "search_pruned"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    ap.add_argument("--docs", type=int)
    ap.add_argument("--inject-wrong", choices=["0", "1"], default="0")
    a = ap.parse_args()

    out = build.default_out()
    os.makedirs(out, exist_ok=True)
    jars = build.build(out)
    # set-up time counts from here: a one-time build in a fresh checkout is
    # not part of any run's set-up
    started_ms = int(time.time() * 1000)
    work = os.path.join(out, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--started-ms", str(started_ms),
            "--inject-wrong", a.inject_wrong]
    if a.docs is not None:
        args += ["--docs", str(a.docs)]
    cds = "-XX:SharedArchiveFile=" + os.path.join(out, "perfbench.jsa")
    cmd = build.java_command(out, jars, work, cds, args)

    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        stdout, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"perfbench: {a.workload} did not finish within {TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in stdout.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if proc.returncode != 0 or not lines:
        sys.exit(f"perfbench: {a.workload} failed with exit code {proc.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit("perfbench: malformed result line")
    print(lines[-1])


if __name__ == "__main__":
    main()
