#!/usr/bin/env bash
# Run graft.Bench N times and log each run to /tmp/bench_<tag>_<i>.log.
# Usage: bench_sweep.sh <tag> <n_runs> [sf_dir]
# Each log holds the run's full Bench JSON line; scripts/gen_floors.py
# reads the logs as they are and writes BENCH_FLOORS.json from them
# (per-key minima are the capability number on this noisy host).
set -u
TAG="${1:?tag}"
N="${2:?n_runs}"
SF="${3:-/root/testdata/sf0.1}"
cd "$(dirname "$0")/.."
for i in $(seq 1 "$N"); do
  SPARK_GRAFT_SF_DIR="$SF" sbt "runMain graft.Bench" \
    > "/tmp/bench_${TAG}_${i}.log" 2>&1
  # build.sbt suppresses [success] since r12; the completion marker is
  # the totals JSON line itself.
  tail -c 2000 "/tmp/bench_${TAG}_${i}.log" | grep -q '"metric":"total"' \
    || echo "WARN: run $i may have failed (no totals JSON tail)" >&2
done
echo "sweep ${TAG} done: $N runs"
