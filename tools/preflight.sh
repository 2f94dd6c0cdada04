#!/usr/bin/env bash
# Preflight gate: refuse to snapshot a tree that does not compile and pass
# its test suite. Run before ANY end-of-round (or milestone) commit:
#
#   tools/preflight.sh            # compile + full test suite
#   tools/preflight.sh --fast     # compile main + tests only (WIP commits)
#
# Exit code 0 = safe to commit. Anything else = DO NOT COMMIT.
#
# Rationale (VERDICT round 4): the round-4 snapshot commit shipped a tree
# that failed `sbt compile` (one missing import), zeroing the round's
# driver gates. This script makes that class of failure impossible when
# honored; wire it into the round checklist before `git commit`.
#
# The gate is ROADMAP's tier-1 command: the same offline resolution
# settings and Spark defaults, so a tree that passes here passes there.
set -euo pipefail
cd "$(dirname "$0")/.."

export COURSIER_MODE=offline
export SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=/root/.sbt/repositories -Dsbt.offline=true -Xmx4g}"
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}"
export SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)}"
export SPARK_LOCAL_DIRS="${SPARK_LOCAL_DIRS:-/tmp/spark-local}"

if [[ "${1:-}" == "--fast" ]]; then
  sbt --batch -Dsbt.log.noformat=true Test/compile
else
  sbt --batch -Dsbt.log.noformat=true Test/compile "testOnly *"
fi
echo "PREFLIGHT OK — tree compiles$([[ "${1:-}" == "--fast" ]] || echo ' and the test suite passes'); safe to commit."
