#!/usr/bin/env bash
# Documented bench entry point: runs graft.Bench with the driver contract
# unchanged ($SPARK_GRAFT_SF_DIR data dir, $SPARK_GRAFT_CPUS core count /
# local[$SPARK_GRAFT_CPUS] master, $SPARK_GRAFT_REPS reps,
# $SPARK_GRAFT_SHUFFLE_PARTITIONS width override) and GUARANTEES that
# Bench's compact headline (metric, value, first_value, errors, reps, n,
# commit, and per-query seconds when they fit in 2,000 characters) is the
# LAST line on stdout — a bench reader captures only the final stdout
# line, and sbt's "[success] Total time..." epilogue made BENCH_r12..r15
# unparseable (parsed: null).
#
# Uses the compiled classes directly (scripts/run_main.sh — no sbt noise,
# no build-server lock); compiles first only if classes are missing.
# The full record is $SPARK_GRAFT_BENCH_OUT (default bench-out.json).
set -uo pipefail
cd "$(dirname "$0")/.."
if [ ! -d target/scala-2.13/classes/graft ]; then
  sbt compile 1>&2 || exit 1
fi
out="${SPARK_GRAFT_BENCH_OUT:-bench-out.json}"
# A crashed run must not leave an earlier run's file behind as its result.
rm -f "$out"
headline=$(scripts/run_main.sh graft.Bench | tail -n 1)
rc=$?
[ "$rc" -eq 0 ] && [ -f "$out" ] && printf '%s\n' "$headline"
exit $rc
