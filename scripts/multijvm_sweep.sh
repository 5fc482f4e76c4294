#!/usr/bin/env bash
# Multi-JVM sweep — the SEVENTH execution axis: the full Verify +
# DuckDB compare under `local-cluster[2,2,4096]`, Spark's
# standalone-in-miniature master that forks REAL executor JVMs
# (CoarseGrainedExecutorBackend processes) with network shuffle and
# serialized task dispatch. Every other axis runs driver and executors
# in ONE JVM: local[N] serializes shuffle data and closures, but task
# code still shares the driver's statics, companion objects, and
# broadcast object identity — the canonical cluster-only bug class (a
# companion-object field read inside a task sees the driver's value
# locally but a fresh executor's on a real cluster). Hash-exact here =
# every result is a function of the data crossing a real process
# boundary, not of driver-JVM state.
#
# Mechanics: SPARK_GRAFT_MASTER flips GraftSession's master; the
# in-process Master+Workers fork executors from a SPARK_HOME dist. A
# shim home in /tmp (jars symlinked to /opt/spark/jars, a local work/
# dir) keeps executor logs and worker scratch out of the read-mostly
# dist. GraftSession wires executor memory/classpath/--add-opens and blocks
# the first job until both executors registered.
#
# Fired-guards: (conf) VERIFY_CONF must echo master=local-cluster…;
# (process) VERIFY_EXECUTORS ok=true requires >=2 DISTINCT executor
# PIDs, none equal to the driver's — a cluster that silently degraded
# to in-process execution or granted one executor fails loudly — AND
# static_isolated=true, the positive control: a companion-object
# field the driver sets to 42 post-classload must read 0 inside
# tasks, proving the axis can actually SEE driver-state leaks.
#
# Usage: scripts/multijvm_sweep.sh [sfdir]   (default sf0.01)
set -u
cd "$(dirname "$0")/.."
. scripts/lib_verify_gate.sh
sfdir="${1:-/root/testdata/sf0.01}"
# worker/executor memory in MB — 4096 suffices at sf0.01; sf0.1 wants
# 8192 (the single-JVM gates run one 8g heap; two workers split it)
lcmem="${SPARK_GRAFT_LC_MEM:-4096}"
shim=$(mktemp -d /tmp/graft-sparkhome.XXXXXX)
ln -s /opt/spark/jars "$shim/jars"
mkdir -p "$shim/conf" "$shim/work"
overall=0
# SPARK_SCALA_VERSION: normally exported by bin/load-spark-env.sh,
# which an IN-PROCESS Worker never runs — without it the launcher's
# AbstractCommandBuilder.getScalaVersion aborts executor launch with
# "Cannot find any build directories"
run_verify_gate multijvm "$sfdir" \
  "SPARK_GRAFT_MASTER=local-cluster[2,2,$lcmem]" \
  "SPARK_HOME=$shim" \
  "SPARK_SCALA_VERSION=2.13" \
  "SPARK_DRIVER_MEM=${SPARK_DRIVER_MEM:-8g}"
# the master knob must have TAKEN EFFECT (conf-level guard)
if ! grep -q "^\(\[info\] \)*VERIFY_CONF master=local-cluster" \
    /tmp/verify_multijvm.log; then
  echo "FAIL  multijvm: VERIFY_CONF does not show master=local-cluster —" \
    "the knob did not take effect"
  overall=1
fi
# ...and the executors must really be SEPARATE JVMs (process-level
# guard): Verify's probe job collected (executorId, pid) inside tasks
exec_line=$(grep -o "VERIFY_EXECUTORS.*" /tmp/verify_multijvm.log | tail -1)
if [ -z "$exec_line" ]; then
  echo "FAIL  multijvm: no VERIFY_EXECUTORS line (probe never ran?)"
  overall=1
elif ! echo "$exec_line" | grep -q "ok=true"; then
  echo "FAIL  multijvm: executor probe not ok — fewer than 2 distinct" \
    "executor PIDs, a task ran in the driver JVM, or the static canary" \
    "leaked across the process boundary ($exec_line)"
  overall=1
else
  echo "$exec_line"
fi
rm -rf "$shim"
exit $overall
