#!/bin/bash
# N vs 4N scaling pair: interleaved legs of one `graft.Measure scale` kind at
# N and 4N cores (4N = every core of the host) over the same input, best of REPS legs per core count (the
# host is shared and intermittently throttled; best-of filters neighbour
# noise), then efficiency = (T_N / T_4N) / 4 on the timed step.
#
# Each leg is its own JVM, run from a snapshot of the compiled classes (so the
# tree can be rebuilt while legs run), with index tables and shuffle on tmpfs
# (GRAFT_SCALE_TMP, default /dev/shm) and one corpus table shared by all legs
# (GRAFT_CORPUS_DIR; a temporary one, removed at exit, when unset). Every leg
# line carries that leg's tmpfs probe (pre_mbps/post_mbps): discard pairs
# whose probes disagree. Below ~3.2M docs the legs are dominated by fixed
# per-job overhead, so that is the default size.
#
# usage: tools/run_scaling.sh [build|trigram|refresh] [docs] [reps] [log] [newDocs]
#   defaults: build 3200000 3 /tmp/scaling_runs.log; newDocs is required by
#   (and only by) refresh. Leg lines are appended to the log; the last line
#   printed is the best pair and its efficiency.
# Driver heap: SPARK_DRIVER_MEM (default 48g).
set -eu
cd "$(dirname "$0")/.."
LEG=${1:-build}
DOCS=${2:-3200000}
REPS=${3:-3}
LOG=${4:-/tmp/scaling_runs.log}
NEW=${5:-}
N=$(( $(nproc) / 4 )); [ "$N" -ge 1 ] || N=1

sbt -batch compile >/dev/null
SNAP=$(mktemp -d)
RUNS=$SNAP/runs.jsonl
cp -r target/scala-2.13/classes "$SNAP/classes"
export GRAFT_SCALE_TMP=${GRAFT_SCALE_TMP:-/dev/shm}
OWN_CORPUS=""
if [ -z "${GRAFT_CORPUS_DIR:-}" ]; then
  OWN_CORPUS=$(mktemp -d -p "$GRAFT_SCALE_TMP" graft_scale_corpus.XXXXXX)
  export GRAFT_CORPUS_DIR=$OWN_CORPUS
fi
trap 'rm -rf "$SNAP" ${OWN_CORPUS:+"$OWN_CORPUS"}' EXIT
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done

for i in $(seq 1 "$REPS"); do
  for c in "$N" $((4 * N)); do
    # shellcheck disable=SC2086
    java $ADD_OPENS "-Xmx${SPARK_DRIVER_MEM:-48g}" -cp "$SNAP/classes:/opt/spark/jars/*" \
        graft.Measure scale "$LEG" "$c" "$DOCS" $NEW 2>/dev/null \
      | grep -E '^\{"leg"' | tee -a "$LOG" "$RUNS"
    # a leg removes its own index dir; this catches one killed mid-leg
    rm -rf "$GRAFT_SCALE_TMP"/scale_"${LEG}"_"${c}"_*
  done
done

python3 - "$RUNS" "$N" <<'PY'
import json, sys
runs = [json.loads(l) for l in open(sys.argv[1])]
n = int(sys.argv[2])
best = {}
for r in runs:
    c = r["cores"]
    if c not in best or r["build_sec"] < best[c]["build_sec"]:
        best[c] = r
if n not in best or 4 * n not in best:
    sys.exit(f"missing legs: have cores {sorted(best)}")
lo, hi = best[n], best[4 * n]
eff = lo["build_sec"] / hi["build_sec"] / 4
print(json.dumps({"leg": lo["leg"], "docs": lo["docs"], "best": [lo, hi],
                  "efficiency": round(eff, 3)}))
PY
