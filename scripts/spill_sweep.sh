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
# spill conf, all public Spark confs) forces: TungstenAggregate
# sort-fallback after 5 keys, ObjectHashAggregate fallback after 2
# groups, window/SMJ/session-window/cartesian buffers external+spill
# at 16 rows, and UnsafeExternalSorter force-spill every 2000
# elements. Hash-exact under all that = results are functions of the
# data, not of whether partial state stayed in memory.
#
# The fired-guard is metric-based: Verify's session sums
# memory/diskBytesSpilled across all tasks and prints
# `VERIFY_SPILL mem=<B> disk=<B>`; a run where both are zero never
# entered a spill path — a plain re-dump masquerading as a spill
# pass — and the sweep FAILS.
#
# Usage: scripts/spill_sweep.sh [sfdir]   (default sf0.01, ~10 min —
#        sort-based aggregation is deliberately slower)
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
  "SPARK_GRAFT_EXTRA_JVM_OPTS=-XX:MaxDirectMemorySize=24g"
# the knobs must have TAKEN EFFECT (conf-level guard)...
if ! grep -q "^\(\[info\] \)*VERIFY_CONF .*\bspill=forced\b" \
    /tmp/verify_spill.log; then
  echo "FAIL  spill: VERIFY_CONF does not show spill=forced — the knob" \
    "did not take effect"
  overall=1
fi
# ...and the spills must have FIRED (metric-level guard): the sweep is
# vacuous only when BOTH counters are zero — a hypothetical disk-only
# run (mem=0, disk>0) still exercised the spill/merge paths and passes
spill_line=$(grep -o "VERIFY_SPILL mem=[0-9]* disk=[0-9]*" \
  /tmp/verify_spill.log | tail -1)
if [ -z "$spill_line" ]; then
  echo "FAIL  spill: no VERIFY_SPILL line (Verify crashed before stop?)"
  overall=1
elif echo "$spill_line" | grep -q "mem=0 disk=0$"; then
  echo "FAIL  spill: zero bytes spilled — the sweep ran a plain re-dump" \
    "($spill_line)"
  overall=1
else
  echo "$spill_line"
fi
# per-query attribution (round 20): the session-wide total alone can
# stay green on OTHER queries' bytes after a plan change routes one
# operator around its spill fallback — the coverage split and top
# spillers make per-query firing visible in the sweep log
grep -o "VERIFY_SPILL_COVERAGE.*" /tmp/verify_spill.log | tail -1
grep -o "VERIFY_SPILL_QUERY.*" /tmp/verify_spill.log | head -10
exit $overall
