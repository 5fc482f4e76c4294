#!/usr/bin/env python3
"""Sentinel-normalized comparison of two bench artifacts. Usage:
    python3 scripts/bench_diff.py OLD.json NEW.json [--threshold 1.3]

Bench timings mix plan cost with machine/regime drift: two consecutive
judges burned isolated re-timing passes adjudicating "regressions" that
were really a slower machine or a changed measurement procedure. The
artifact now carries the means to separate the two:

  * `regime`  — names the timing methodology. Artifacts from different
    regimes are NOT comparable raw; this tool refuses them (exit 2)
    unless --force is given, and even then only prints the
    sentinel-normalized view.
  * `sf` — the scale-factor dir the run measured. Artifacts at different
    scale factors (or one with no `sf`) are refused the same way (exit 2
    unless --force): their ratios compare data sizes, not plans.
  * `sentinel_s` — a fixed trivial query timed min-of-5 at the end of
    the run. Its plan never changes, so NEW.sentinel / OLD.sentinel
    estimates pure environment drift; dividing each per-query ratio by
    it leaves plan drift.

Reported per shared query: raw ratio, normalized ratio. Queries whose
NORMALIZED ratio exceeds the threshold are listed as suspects worth an
isolated re-timing (SPARK_GRAFT_ONLY=q SPARK_GRAFT_PASSES=5); everything
else is attributed to drift. Exit 1 if suspects exist, else 0.
"""
import argparse
import json
import re
import sys

ap = argparse.ArgumentParser(
    description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
ap.add_argument("old")
ap.add_argument("new")
ap.add_argument("--threshold", type=float, default=1.3)
ap.add_argument("--force", action="store_true")
ns = ap.parse_args()
args = [ns.old, ns.new]
force = ns.force
threshold = ns.threshold


def tail_queries(t):
    """Per-query seconds from the flat `"queries":{...}` object of a tail
    fragment, anchored on that marker the way Bench.loadBaseline anchors
    its parse: the first '}' after it closes the object. Every other
    query-keyed object in the artifact (`isolated_pending`,
    `isolated_cleaned_n`, `construct_s`, ...) carries counts or
    sub-timings, not the query's seconds. None when the fragment holds
    no complete `"queries"` object."""
    marker = '"queries":{'
    start = t.find(marker)
    end = t.find("}", start) if start >= 0 else -1
    if end < 0:
        return None
    return {m.group(1): float(m.group(2)) for m in
            re.finditer(r'"(q_[A-Za-z0-9_]+)":(-?[0-9.eE+-]+)',
                        t[start + len(marker):end])}


def load(path):
    """Accept either the raw Bench JSON line (has "queries") or the
    driver's BENCH_r*.json wrapper, whose "tail" holds only the LAST
    2000 chars of run output — recover the query timings only when the
    fragment still holds the whole `"queries"` object, and say so."""
    d = json.load(open(path))
    if "queries" in d:
        return d
    t = d.get("tail", "") or ""
    qs = tail_queries(t)
    if qs is None:
        print(f"note: {path} is a tail fragment with no complete "
              '"queries" object — no query timings recovered')
        qs = {}
    else:
        print(f"note: {path} is a tail fragment — "
              f"{len(qs)} queries recovered")
    out = {"queries": qs}
    m = re.search(r'"regime":"([^"]+)"', t)
    if m:
        out["regime"] = m.group(1)
    m = re.search(r'"sentinel_s":(-?[0-9.]+)', t)
    if m:
        out["sentinel_s"] = float(m.group(1))
    m = re.search(r'"sf":"([^"]*)"', t)
    if m:
        out["sf"] = m.group(1)
    return out


old, new = (load(p) for p in args)

o_reg, n_reg = old.get("regime"), new.get("regime")
if o_reg != n_reg and not force:
    print(f"REFUSING: regimes differ ({o_reg} vs {n_reg}) — raw ratios "
          "compare methodologies, not plans. Re-run with --force for the "
          "sentinel-normalized view only.")
    sys.exit(2)

o_sf, n_sf = old.get("sf"), new.get("sf")
if (o_sf is None or o_sf != n_sf) and not force:
    print(f"REFUSING: scale factors differ ({o_sf} vs {n_sf}) — raw ratios "
          "compare data sizes, not plans, and the sentinel ratio would read "
          "the size change as machine drift. Re-run with --force to compare "
          "anyway.")
    sys.exit(2)

o_sent, n_sent = old.get("sentinel_s"), new.get("sentinel_s")
# -1 marks a failed sentinel pass (see Bench.scala); treat like absent
drift = None
if o_sent and n_sent and o_sent > 0 and n_sent > 0:
    drift = n_sent / o_sent
    print(f"sentinel: {o_sent:.3f}s -> {n_sent:.3f}s  "
          f"(environment drift x{drift:.2f})")
else:
    print("sentinel missing or failed in one artifact — raw ratios only "
          "(pre-v3 artifact?)")

# suspect selection is legitimate only when the ratios actually compare
# plans: same regime (raw is meaningful), or a sentinel in both (the
# normalized view exists). Cross-regime WITHOUT a sentinel has neither —
# flagging suspects there would re-litigate exactly the
# machine/methodology false regressions this tool exists to end.
can_judge = (o_reg == n_reg) or (drift is not None)

if not old["queries"] or not new["queries"]:
    print("one artifact has no query timings — nothing to compare")
    sys.exit(0)

shared = sorted(set(old["queries"]) & set(new["queries"]))
only_old = sorted(set(old["queries"]) - set(new["queries"]))
only_new = sorted(set(new["queries"]) - set(old["queries"]))
suspects = []
o_tot = n_tot = 0.0
for q in shared:
    a, b = old["queries"][q], new["queries"][q]
    if a <= 0 or b <= 0:  # -1 = crashed run; no ratio to take
        print(f"  {q}: FAILED in {'old' if a <= 0 else 'new'} artifact")
        continue
    o_tot += a
    n_tot += b
    raw = b / a
    norm = raw / drift if drift else raw
    if can_judge and norm > threshold:
        suspects.append((q, a, b, raw, norm))

if o_tot > 0:
    print(f"{len(shared)} shared queries: {o_tot:.1f}s -> {n_tot:.1f}s "
          f"(raw x{n_tot / o_tot:.2f}"
          + (f", normalized x{n_tot / o_tot / drift:.2f}" if drift else "")
          + ")")
else:
    print(f"{len(shared)} shared queries with valid timings in both: none "
          "— nothing to compare")
if only_old:
    print(f"dropped queries: {', '.join(only_old)}")
if only_new:
    print(f"new queries (no baseline): {', '.join(only_new)}")

if suspects:
    print(f"\nsuspects (normalized ratio > x{threshold} — worth an "
          "isolated re-timing, NOT yet a verdict):")
    for q, a, b, raw, norm in sorted(suspects, key=lambda s: -s[4]):
        print(f"  x{norm:5.2f} (raw x{raw:5.2f}, {a:.2f}s -> {b:.2f}s)  {q}")
    sys.exit(1)
if not can_judge:
    print("cross-regime artifacts with no shared sentinel: totals above "
          "are methodology-confounded — no suspect judgment possible")
else:
    print("no plan-drift suspects — differences attributable to environment")
