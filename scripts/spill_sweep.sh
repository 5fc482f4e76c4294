#!/usr/bin/env bash
# Forced-spill sweep: the full Verify + DuckDB compare while every
# spillable operator actually SPILLS. Every other gate runs sf<=0.1 in
# a 128 GiB sandbox, so hash-aggregate sort-fallback, external-sort
# merge, and shuffle-spill paths never execute — yet at 100 TB
# spilling is steady-state, and spill/merge code is exactly where
# order- and precision-dependent bugs hide (a float fold that
# survives one in-memory partition order can diverge when partial
# buffers spill and merge in sorted-key order; a sketch whose
# serialize/merge round-trip loses state only shows it when the
# ObjectHashAggregate falls back). SPARK_GRAFT_SPILL=1 (GraftSession's
# SpillConf, all public Spark confs, whose scaladoc gives the reasons
# for each number) forces: TungstenAggregate sort-fallback
# (testFallbackStartsAt=64,8192), ObjectHashAggregate fallback after 2
# groups, window/SMJ/session-window/cartesian buffers external at 16
# rows and file-spilling at 262144, and UnsafeExternalSorter
# force-spill every 262144 elements. Hash-exact under all that =
# results are functions of the data, not of whether partial state
# stayed in memory.
#
# The fired-guard is metric-based: Verify's session sums
# memory/diskBytesSpilled across all tasks and prints
# `VERIFY_SPILL mem=<B> disk=<B>`; a run where both are zero never
# entered a spill path — a plain re-dump masquerading as a spill
# pass — and the sweep FAILS (spill_fired_guard, lib_verify_gate.sh).
#
# Usage: scripts/spill_sweep.sh [sfdir] [query...]
#        (default sf0.01, ~10 min for the whole registry — sort-based
#        aggregation is deliberately slower). Query names run and
#        compare only those queries, e.g. the ones a change touches.
set -u
cd "$(dirname "$0")/.."
. scripts/lib_verify_gate.sh
sfdir="${1:-/root/testdata/sf0.01}"
overall=0
# spilling is not free on the JVM either: every spill FILE costs >=
# 1 MiB of (direct) buffer while its reader is open, and the merge
# opens ALL of a sorter's spill readers simultaneously — the forced
# regime multiplied spill counts enough to OOM an 8g heap (attempt 1,
# ContextCleaner), then a 16g heap's direct-memory budget (attempt 2,
# spill-reader NIO buffers). 32g heap + explicit direct headroom holds
# the whole registry; the knob arithmetic lives in GraftSession's
# SpillConf scaladoc
run_verify_gate spill "$sfdir" "SPARK_GRAFT_SPILL=1" \
  "SPARK_DRIVER_MEM=${SPARK_DRIVER_MEM:-32g}" \
  "SPARK_GRAFT_EXTRA_JVM_OPTS=-XX:MaxDirectMemorySize=24g" -- "${@:2}"
# the knob took effect (spill=forced, checked by run_verify_gate) and
# the spills FIRED
spill_fired_guard spill
exit $overall
