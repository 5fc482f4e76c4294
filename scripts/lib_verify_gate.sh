# Shared run-Verify-and-compare block for the standing sweeps
# (cross_sf_sweep.sh varies the DATA, config_invariance.sh varies the
# LAYOUT). One definition of the run/compare/count/zero-coverage logic
# so a fix to the counting or guard never has to land twice — the two
# gates cannot silently diverge.
#
# Usage:  run_verify_gate <tag> <sfdir> [ENV=VAL ...] [-- query ...]
#         (query names after `--` are the only queries run and compared;
#         none means the whole registry)
# Writes: /tmp/verify_<tag>.log, /tmp/oracle_<tag>.log,
#         /tmp/verify_out_<tag>/ (parquet dumps)
# Sets:   overall=1 on any failure (caller initializes overall=0).
# Knobs whose effect is checked against Verify's VERIFY_CONF line:
#   SPARK_GRAFT_SHUFFLE_PARTITIONS=n -> shuffle=n, SPARK_GRAFT_AQE=b ->
#   aqe=b, SPARK_GRAFT_SPILL=1 -> spill=forced.
run_verify_gate() {
  local tag="$1" sfdir="$2"; shift 2
  local envs=() queries=""
  while [ $# -gt 0 ]; do
    [ "$1" = "--" ] && { shift; queries="$*"; break; }
    envs+=("$1"); shift
  done
  set -- "${envs[@]}"
  local out="/tmp/verify_out_$tag"
  rm -rf "$out"
  echo "== $tag ($sfdir${*:+; $*}${queries:+; only $queries}): Spark Verify =="
  env "$@" sbt -batch "runMain graft.Verify $sfdir $out${queries:+ $queries}" \
    >"/tmp/verify_$tag.log" 2>&1
  if [ $? -ne 0 ]; then
    echo "FAIL  $tag: Verify main crashed (see /tmp/verify_$tag.log)"
    overall=1
    return
  fi
  # the knobs must have TAKEN EFFECT: Verify echoes the live session's
  # config; a renamed env var silently re-running the canonical config
  # is the vacuous-pass failure class this guard exists for
  local want
  for kv in "$@"; do
    case "$kv" in
      SPARK_GRAFT_SHUFFLE_PARTITIONS=*) want="shuffle=${kv#*=}" ;;
      SPARK_GRAFT_AQE=*) want="aqe=${kv#*=}" ;;
      SPARK_GRAFT_SPILL=1) want="spill=forced" ;;
      *) continue ;;
    esac
    # anchored, allowing sbt's "[info] " prefix on forked-run stdout —
    # a fully un-anchored match could be satisfied by any later log
    # line QUOTING the requested value (an error message, a
    # requested-vs-effective echo), silently re-opening the vacuous
    # pass this guard exists to prevent
    if ! grep -q "^\(\[info\] \)*VERIFY_CONF .*\b$want\b" \
        "/tmp/verify_$tag.log"; then
      echo "FAIL  $tag: requested $kv but VERIFY_CONF does not show" \
        "'$want' — the knob did not take effect"
      overall=1
      return
    fi
  done
  echo "== $tag: DuckDB oracle compare =="
  python3 scripts/verify_local.py "$sfdir" "$out" \
    >"/tmp/oracle_$tag.log" 2>&1
  local rc=$?
  local ok total
  ok=$(grep -c '^OK' "/tmp/oracle_$tag.log")
  total=$(grep -c '^\(OK\|FAIL\)' "/tmp/oracle_$tag.log")
  echo "$tag: $ok/$total hash-exact"
  # a zero-coverage compare (empty/truncated oracle_sql.json → the
  # loop ran zero iterations and exited 0) must not pass the gate —
  # silent truncation reading as "covered everything" is the exact
  # failure class these scripts exist to prevent
  if [ "$total" -eq 0 ]; then
    echo "FAIL  $tag: oracle compare ran ZERO queries"
    overall=1
  fi
  if [ $rc -ne 0 ]; then
    grep '^FAIL' "/tmp/oracle_$tag.log" | head -20
    overall=1
  fi
}

# The forced-spill sweeps' fired-guard (spill_sweep.sh,
# spill_layout_sweep.sh), after `run_verify_gate <tag> ...
# SPARK_GRAFT_SPILL=1` has checked spill=forced took effect: the spills
# must also have FIRED (metric-level). The sweep is vacuous only when
# BOTH counters are zero — a disk-only run (mem=0, disk>0) still
# exercised the spill/merge paths and passes. Then the per-query
# attribution (round 20): the session-wide total alone can stay green
# on OTHER queries' bytes after a plan change routes one operator
# around its spill fallback, so the coverage split and the top
# spillers make per-query firing visible in the sweep log.
# Usage:  spill_fired_guard <tag>
# Sets:   overall=1 on failure.
spill_fired_guard() {
  local tag="$1" log="/tmp/verify_$1.log" spill_line
  spill_line=$(grep -o "VERIFY_SPILL mem=[0-9]* disk=[0-9]*" "$log" | tail -1)
  if [ -z "$spill_line" ]; then
    echo "FAIL  $tag: no VERIFY_SPILL line (Verify crashed before stop?)"
    overall=1
  elif echo "$spill_line" | grep -q "mem=0 disk=0$"; then
    echo "FAIL  $tag: zero bytes spilled — the sweep ran a plain re-dump" \
      "($spill_line)"
    overall=1
  else
    echo "$spill_line"
  fi
  grep -o "VERIFY_SPILL_COVERAGE.*" "$log" | tail -1
  grep -o "VERIFY_SPILL_QUERY.*" "$log" | head -10
}
