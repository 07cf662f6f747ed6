#!/usr/bin/env bash
# Documented bench entry point: runs graft.Bench with the driver contract
# unchanged ($SPARK_GRAFT_SF_DIR data dir, $SPARK_GRAFT_CPUS core count /
# local[$SPARK_GRAFT_CPUS] master, $SPARK_GRAFT_REPS reps,
# $SPARK_GRAFT_SHUFFLE_PARTITIONS width override) and GUARANTEES the
# one-line result JSON is the LAST line on stdout — the driver's capture
# ends on the final stdout line, and sbt's "[success] Total time..."
# epilogue made BENCH_r12..r15 unparseable (parsed: null).
#
# Uses the compiled classes directly (scripts/run_main.sh — no sbt noise,
# no build-server lock); compiles first only if classes are missing.
# The authoritative artifact is still $SPARK_GRAFT_BENCH_OUT
# (default bench-out.json), re-emitted here as the final stdout line.
set -uo pipefail
cd "$(dirname "$0")/.."
if [ ! -d target/scala-2.13/classes/graft ]; then
  sbt compile 1>&2 || exit 1
fi
out="${SPARK_GRAFT_BENCH_OUT:-bench-out.json}"
# Bench's own stdout (the same JSON) is routed to stderr so the file's
# content is printed exactly once on stdout, as the last line.
# A crashed run must not re-emit an earlier run's file as its result.
rm -f "$out"
scripts/run_main.sh graft.Bench 1>&2
rc=$?
[ "$rc" -eq 0 ] && [ -f "$out" ] && cat "$out"
exit $rc
