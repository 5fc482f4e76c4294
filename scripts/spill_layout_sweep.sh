#!/usr/bin/env bash
# Spill × hostile-layout composition: SPARK_GRAFT_SPILL=1 (every
# spillable path forced — see spill_sweep.sh) COMPOSED with the
# config-invariance sweep's degenerate layout (ONE shuffle partition,
# AQE off, odd parallelism). One shuffle partition maximizes per-task
# input volume, hence the deepest forced-merge fan-in any gate can
# produce: every aggregate's sort-fallback, every window/SMJ external
# buffer, and every sorter force-spill runs over the WHOLE dataset's
# rows in a single task instead of 1/32nd of them. chaos×spill is
# already composed (r19); this is the other orthogonal pair.
#
# Fired-guards: spill=forced AND shuffle=1 AND aqe=false must all echo
# in VERIFY_CONF (the lib asserts all three from the env list), and
# nonzero bytes must actually have spilled (spill_fired_guard).
#
# Usage: scripts/spill_layout_sweep.sh [sfdir]   (default sf0.01;
#        DELIBERATELY slow — sort-based aggregation on one partition)
set -u
cd "$(dirname "$0")/.."
. scripts/lib_verify_gate.sh
sfdir="${1:-/root/testdata/sf0.01}"
overall=0
# same resource arithmetic as spill_sweep.sh (32g heap + direct
# headroom for simultaneous spill-reader buffers), and MORE load-
# bearing here: the single reduce task owns every spill file at once
run_verify_gate spill_layout "$sfdir" \
  "SPARK_GRAFT_SPILL=1" \
  "SPARK_GRAFT_CPUS=5" \
  "SPARK_GRAFT_SHUFFLE_PARTITIONS=1" \
  "SPARK_GRAFT_AQE=false" \
  "SPARK_DRIVER_MEM=${SPARK_DRIVER_MEM:-32g}" \
  "SPARK_GRAFT_EXTRA_JVM_OPTS=-XX:MaxDirectMemorySize=24g"
spill_fired_guard spill_layout
exit $overall
