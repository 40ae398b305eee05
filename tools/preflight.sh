#!/usr/bin/env bash
# Green-tree guard: run as the LAST action before any end-of-round
# snapshot or commit of the working tree. A non-compiling tree must
# never be snapshotted (round 5 shipped 14 compile errors as HEAD and
# forfeited every gate); an unfinished feature belongs behind a
# revert/stash, not in the final tree.
#
#   tools/preflight.sh          # compile + full test suite (the bar)
#   tools/preflight.sh --fast   # compile only (~40s, the minimum)
#
# Runs the tier-1 verify command of ROADMAP.md: offline sbt, and the
# test JVM sized from this machine's cores and memory.
#
# Exit 0 = safe to snapshot. Anything else: fix or revert first.
set -euo pipefail
cd "$(dirname "$0")/.."

export COURSIER_MODE=offline
export SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=$HOME/.sbt/repositories -Dsbt.offline=true -Xmx4g}"
sbt_batch() { timeout -k 10 2670 sbt --batch -Dsbt.log.noformat=true "$@"; }

sbt_batch Test/compile
if [[ "${1:-}" != "--fast" ]]; then
  export SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)"
  export SPARK_DRIVER_MEM="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)"
  export SPARK_LOCAL_DIRS=/tmp/spark-local
  sbt_batch "testOnly *"
fi
echo "preflight: tree is green — safe to snapshot"
