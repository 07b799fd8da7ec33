#!/usr/bin/env bash
# Loaded-box bench leg (r4 spinner methodology, scripted per r11
# verdict #3): saturate ~75% of the box's cores with busy-spin
# processes, run the given graft main class under the SAME plain-java
# flags the driver uses (build.sbt's add-opens / UTC / 8g), then kill
# the spinners. This classifies driver-run spikes: a query whose
# loaded/quiet ratio stays <= ~2x here is box weather; one that blows
# up 5-11x is contention-fragile and needs restructuring (r11 found
# text_repetition_filter 11x and ts_outlier_sampled 5x this way).
#
# Usage:
#   tools/contention_bench.sh [-n NSPIN] <main-class> [args...]
#   tools/contention_bench.sh graft.Bench
#   tools/contention_bench.sh -n 12 graft.Bench
#   NSPIN=0 runs the identical java invocation quiet (the A/B control).
#
# Env passthrough: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
# SPARK_GRAFT_SHUFFLE, SPARK_GRAFT_ONLY, SPARK_DRIVER_MEM.
set -euo pipefail
NSPIN="${NSPIN:-24}" # env override works as the header documents
if [[ "${1:-}" == "-n" ]]; then NSPIN="$2"; shift 2; fi
REPO="$(cd "$(dirname "$0")/.." && pwd)"
CLASSES="$REPO/target/scala-2.13/classes"
[[ -d "$CLASSES" ]] || { echo "no $CLASSES — run 'sbt compile' first" >&2; exit 1; }
[[ $# -ge 1 ]] || { echo "usage: $0 [-n NSPIN] <main-class> [args...]" >&2; exit 1; }

# build.sbt jdk17AddOpens, verbatim
ADD_OPENS=()
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS+=(--add-opens "java.base/$p=ALL-UNNAMED")
done

SPIN_PIDS=()
cleanup() {
  if [[ ${#SPIN_PIDS[@]} -gt 0 ]]; then
    kill "${SPIN_PIDS[@]}" 2>/dev/null || true
    wait "${SPIN_PIDS[@]}" 2>/dev/null || true
  fi
}
trap cleanup EXIT INT TERM

for _ in $(seq 1 "$NSPIN" 2>/dev/null || true); do
  bash -c 'while :; do :; done' &
  SPIN_PIDS+=($!)
done
[[ $NSPIN -gt 0 ]] && echo "[contention] $NSPIN busy-spinners up" >&2

exec_status=0
java "${ADD_OPENS[@]}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  "-Xmx${SPARK_DRIVER_MEM:-8g}" \
  -cp "$CLASSES:/opt/spark/jars/*" "$@" || exec_status=$?
exit "$exec_status"
