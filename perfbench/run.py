"""The repository benchmark. Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It builds the engine from source (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py, untimed), runs one
client in a closed loop for ``--seconds``, checks every output against
the generator's exact answer or the DuckDB oracle, and prints one JSON
line last: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json;
``--trace 1`` is a separate traced run that gives the per-layer ones.
perfbench/spec.json holds the workload inputs, the pinned configuration
and which end-to-end metric each per-layer metric should move.
Everything is written under the repository root: build output in
``$CARGO_TARGET_DIR`` (default ``.bench_build``), inputs and scratch in
``.bench_work``.
"""

import argparse
import calendar
import collections
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

# JDK 17 module opens Spark 4 needs outside spark-submit, as in build.sbt
ADD_OPENS = [a for p in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
] for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
# A pinned heap limit, as users give it, and no -Xms or pre-touch, so G1
# sizes the heap and peak RSS follows the heap the engine touches. No
# perf-data file under /tmp, so nothing is written outside the checkout.
JVM_FLAGS = ["-Xmx2g", "-XX:-UsePerfData"]
CHILD_TIMEOUT_S = 160
_running = set()


def _stop_children(signum, _frame):
    for p in list(_running):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
    sys.exit(128 + signum)

# workload inputs, registry queries and the pinned configuration
with open(os.path.join(HERE, "spec.json")) as _fh:
    SPEC = json.load(_fh)["workloads"]


def generate(workload, out, seed):
    """Write the workload's input under ``out``; return the exact answer."""
    g = dict(SPEC[workload]["generator"])
    kind = g.pop("kind")
    if kind == "events":
        return gen.events(out, seed, **g)
    return gen.records(os.path.join(out, "records.parquet"), seed, **g)


Run = collections.namedtuple("Run", "wall rc out err rss_mb cpu_s")


def jvm(cp, tmp, args, env=None):
    """Run one JVM to completion: wall seconds from launch to exit, exit
    code, stdout, stderr, peak RSS in MB and CPU seconds (user + system).
    An argument ``{launch_ns}`` becomes the launch time in epoch ns."""
    os.makedirs(tmp, exist_ok=True)
    launch_ns = time.time_ns()
    t0 = time.perf_counter()
    proc = subprocess.Popen(
        ["java"] + JVM_FLAGS + ADD_OPENS + [f"-Djava.io.tmpdir={tmp}", "-cp", cp]
        + [a.replace("{launch_ns}", str(launch_ns)) for a in args],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, env=env,
        start_new_session=True)
    _running.add(proc)
    bufs = {}
    readers = [threading.Thread(target=lambda n=n, s=s: bufs.__setitem__(n, s.read()))
               for n, s in (("out", proc.stdout), ("err", proc.stderr))]
    for t in readers:
        t.start()
    killer = threading.Timer(CHILD_TIMEOUT_S, lambda: os.killpg(proc.pid, signal.SIGKILL))
    killer.start()
    try:
        _, status, ru = os.wait4(proc.pid, 0)
    finally:
        killer.cancel()
        _running.discard(proc)
    wall = time.perf_counter() - t0
    for t in readers:
        t.join()
    return Run(wall, os.waitstatus_to_exitcode(status), bufs["out"].decode(),
               bufs["err"].decode(), ru.ru_maxrss / 1024.0, ru.ru_utime + ru.ru_stime)


def harness(cp, work, args):
    """Run the in-process harness; return its JSON and the child's peak RSS."""
    out = os.path.join(work, "harness.json")
    r = jvm(cp, os.path.join(work, "tmp"), ["perfbench.Harness"] + args + [out])
    if r.rc != 0:
        sys.stderr.write(r.err[-4000:])
        raise SystemExit(f"harness exited with {r.rc}")
    with open(out) as fh:
        return json.load(fh), r.rss_mb


def kind_geomean(ops, key="s"):
    """Geometric mean, over operation kinds, of each kind's median time."""
    kinds = {}
    for o in ops:
        kinds.setdefault(o["kind"], []).append(o[key])
    return statistics.geometric_mean([statistics.median(v) for v in kinds.values()])


def end_to_end(setup_s, ops):
    # Wall time and peak RSS are not among them: on a 4-vCPU VM losing
    # 10-36% of its CPU to steal, wall time per operation spread 23-51%
    # run to run, and peak RSS, with G1 sizing the heap, 10-35%; CPU
    # seconds spread 6-15%. The traced run reports both as per-layer
    # metrics, op_wall_s and peak_rss_mb.
    return {"setup_s": setup_s, "op_cpu_s": kind_geomean(ops, "cpu_s")}


# ---- output checks --------------------------------------------------------

def diff_result(got, want):
    """Names of the fields where a TopicAnalyzer result differs."""
    bad = [k for k in ("summary", "alive_keys") if got.get(k) != want.get(k)]
    if got["partitions"] != want["partitions"]:
        bad.append("partitions")
    return bad


def iso_us(s):
    """Epoch micros from java.time.Instant.toString (UTC, 'Z')."""
    m = re.fullmatch(r"(\d{4})-(\d\d)-(\d\d)T(\d\d):(\d\d)(?::(\d\d)(?:\.(\d+))?)?Z", s)
    y, mo, d, h, mi, sec, frac = m.groups()
    whole = calendar.timegm((int(y), int(mo), int(d), int(h), int(mi), int(sec or 0)))
    return whole * 1_000_000 + int(((frac or "") + "000000")[:6])


REPORT_COLS = ["partition", "start_offset", "end_offset", "total", "alive",
               "tombstones", "dirty_ratio", "key_null", "key_non_null",
               "p_bytes", "key_bytes", "value_bytes", "avg_key_size",
               "avg_value_size", "avg_msg_size"]


def parse_report(text):
    """The TopicAnalyzer.Result fields a rendered CLI report shows."""
    lines = text.splitlines()

    def field(label):
        for ln in lines:
            if ln.startswith(label + ": "):
                return ln[len(label) + 2:].removesuffix(" bytes")
        return None

    rows = []
    for ln in lines:
        cells = [c.strip() for c in ln.strip().strip("|").split("|")]
        if ln.startswith("| ") and cells[0].isdigit():
            rows.append({k: (v if k == "dirty_ratio" else int(v))
                         for k, v in zip(REPORT_COLS, cells)})
    alive = field("Alive keys")
    return {
        "summary": {
            "overall_count": int(field("Scanned messages")),
            "overall_bytes": int(field("Overall size")),
            "smallest_msg": int(field("Smallest message")),
            "largest_msg": int(field("Largest message")),
            "earliest_us": iso_us(field("Earliest message")),
            "latest_us": iso_us(field("Latest message")),
        },
        "alive_keys": None if alive is None else int(alive),
        "partitions": rows,
    }


def check_report(text, want):
    try:
        return diff_result(parse_report(text), want)
    except (TypeError, ValueError, AttributeError) as e:
        return [f"unparsable report: {e}"]


def oracle_failures(events_dir, results_dir, oracle_sql):
    """Queries whose Spark output differs from DuckDB running the oracle
    SQL, compared column-name-sorted and row-sorted, types included."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{events_dir}/events.parquet'")

    def norm(rel):
        cols = rel.columns
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        types = [str(rel.types[i]) for i in order]
        rows = sorted(tuple(repr(round(r[i], 9) if isinstance(r[i], float) else r[i])
                            for i in order) for r in rel.fetchall())
        return [cols[i] for i in order], types, rows

    bad = []
    for name, sql in sorted(oracle_sql.items()):
        try:
            got = norm(con.sql(f"SELECT * FROM '{results_dir}/{name}/*.parquet'"))
            want = norm(con.sql(sql))
        except duckdb.Error as e:
            bad.append((name, str(e)[:200]))
            continue
        if got != want:
            bad.append((name, f"{len(got[2])} rows vs {len(want[2])} expected"))
    con.close()
    return bad


# ---- workloads ------------------------------------------------------------

def run_cli_cold(cp, work, seed, seconds, trace):
    data = os.path.join(work, "input")
    want = generate("cli_cold", data, seed)
    tmp = os.path.join(work, "tmp")
    # without these the CLI runs its own defaults: local[*] and 32 shuffle
    # partitions
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k != "SPARK_MASTER"}
    cli = ["graft.cli.Main", "--parquet", data, "-c"]
    # set-up a CLI user pays before any Spark work: JVM start and the
    # CLI's argument check, which exits 1 with a usage line
    setups = []
    for _ in range(5):
        r = jvm(cp, tmp, ["graft.cli.Main"], env)
        if r.rc != 1:
            raise SystemExit(f"CLI usage check exited with {r.rc}")
        setups.append(r.wall)
    ops, failures = [], []
    t0 = time.perf_counter()
    while not ops or (not trace and time.perf_counter() - t0 < seconds):
        r = jvm(cp, tmp, cli, env)
        bad = [f"exit {r.rc}"] if r.rc != 0 else check_report(r.out, want)
        if bad:
            failures.append(bad)
            sys.stderr.write(r.err[-2000:])
        ops.append({"kind": "cli", "s": r.wall, "cpu_s": r.cpu_s, "rss": r.rss_mb})
    result = {"attempted": len(ops), "failed": len(failures), "failures": failures}
    if not trace:
        result["metrics"] = end_to_end(statistics.median(setups), ops)
        return result
    out = os.path.join(work, "trace.json")
    r = jvm(cp, tmp, ["perfbench.Harness", "clitrace", data, "{launch_ns}", out])
    if r.rc != 0:
        sys.stderr.write(r.err[-4000:])
        raise SystemExit(f"traced CLI replay exited with {r.rc}")
    with open(out) as fh:
        tr = json.load(fh)
    result["attempted"] += 1
    bad = diff_result(tr["result"], want)
    if bad:
        result["failed"] += 1
        result["failures"].append(bad)
    layers = layer_metrics([tr["spans"]], tr["jvm"])
    layers["cli.jvm_start_s"] = tr["jvm_start_s"]
    layers["op_wall_s"] = kind_geomean(ops)
    layers["peak_rss_mb"] = ops[0]["rss"]
    layers["trace.overhead_s"] = tr["overhead_s"]
    result["metrics"] = layers
    return result


def run_topic(cp, work, seed, seconds, trace):
    want = generate("topic_large", os.path.join(work, "input"), seed)
    path = os.path.join(work, "input", "records.parquet")
    wants = {"report": dict(want, alive_keys=None), "report_alive": want}
    res, rss = harness(cp, work, ["topic", path, str(seconds), "1" if trace else "0"])
    checked = res["warmup"] + res["ops"] + res.get("untraced_ops", [])
    failures = [bad for bad in (diff_result(o["result"], wants[o["kind"]])
                                for o in checked) if bad]
    result = {"attempted": len(checked), "failed": len(failures), "failures": failures}
    if not trace:
        result["metrics"] = end_to_end(res["setup_s"], res["ops"])
    else:
        spans = group_ops(res["spans"])
        layers = layer_metrics(spans, res["jvm"])
        layers["op_wall_s"] = kind_geomean(res["untraced_ops"])
        layers["peak_rss_mb"] = rss
        layers["trace.overhead_s"] = (kind_geomean(res["ops"])
                                      - layers["op_wall_s"])
        result["metrics"] = layers
    return result


def run_registry(cp, work, seed, seconds, trace):
    data = os.path.join(work, "input")
    generate("registry_mix", data, seed)
    results_dir = os.path.join(work, "results")
    res, rss = harness(cp, work, ["registry", data,
                                  ",".join(SPEC["registry_mix"]["queries"]),
                                  str(seed), str(seconds), "1" if trace else "0",
                                  results_dir])
    passes = res["passes"] + res.get("untraced_passes", [])
    bad = oracle_failures(data, results_dir, res["oracle_sql"])
    bad_names = {n for n, _ in bad}
    ops = [o for p in passes for o in p]
    result = {"attempted": len(ops),
              "failed": sum(o["kind"] in bad_names for o in ops),
              "failures": bad}
    if not trace:
        result["metrics"] = end_to_end(
            res["setup_s"], [o for p in res["passes"] for o in p])
        return result

    def pass_s(ps):
        return statistics.median(sum(o["s"] for o in p) for p in ps)
    layers = layer_metrics(group_ops(res["spans"]), res["jvm"])
    layers["registry.pass_s"] = pass_s(res["passes"])
    layers["op_wall_s"] = kind_geomean([o for p in res["untraced_passes"] for o in p])
    layers["peak_rss_mb"] = rss
    layers["trace.overhead_s"] = pass_s(res["passes"]) - pass_s(res["untraced_passes"])
    result["metrics"] = layers
    return result


# ---- per-layer metrics from spans -----------------------------------------

def group_ops(spans):
    """Split a traced run's spans into one list per top-level span."""
    by_id = {s["id"]: s for s in spans}
    groups = {}

    def root(s):
        while s["parent"] >= 0:
            s = by_id[s["parent"]]
        return s["id"]

    for s in spans:
        groups.setdefault(root(s), []).append(s)
    return list(groups.values())


def inclusive(spans, s, key):
    """A counter summed over a span and every span under it."""
    kids = [c for c in spans if c["parent"] == s["id"]]
    return s["counters"].get(key, 0.0) + sum(inclusive(spans, c, key) for c in kids)


def layer_metrics(groups, jvm_counters):
    """Per-layer metrics: for each named span, the median over operations
    (one group of spans each) of its duration and inclusive counters."""
    samples = {}

    def put(name, value):
        samples.setdefault(name, []).append(value)

    for spans in groups:
        for s in spans:
            n, dur = s["name"], s["end"] - s["start"]
            c = lambda k: inclusive(spans, s, k)  # noqa: E731
            if n == "cli":
                put("cli.jobs", c("jobs"))
            elif n in ("cli.session_build", "cli.guard", "cli.stop"):
                put(n + "_s", dur)
            elif n == "sources.construct":
                put("sources.construct_s", dur)
            elif n == "sources.scan":
                put("sources.scan_s", dur)
                put("sources.shuffle_write_bytes", c("shuffle_write_bytes"))
            elif n == "topic_metrics":
                put("topic_metrics.partition_stats_s", dur)
                for k in ("jobs", "input_records", "shuffle_write_bytes"):
                    put(f"topic_metrics.{k}", c(k))
            elif n == "alive_keys":
                put("alive_keys.exact_s", dur)
                for k in ("shuffle_write_bytes", "spill_bytes", "busy_s"):
                    put(f"alive_keys.{k}", c(k))
                if c("partial_agg_in"):
                    put("alive_keys.partial_agg_ratio",
                        c("partial_agg_out") / c("partial_agg_in"))
            elif n == "report.render":
                put("report.render_s", dur)
            elif n.startswith("registry.q_"):
                q = n[len("registry."):]
                kids = {k["name"]: k for k in spans if k["parent"] == s["id"]}
                construct = kids["registry.construct"]
                write = kids["registry.write"]
                # planning of the noop write only, from its own tracker
                plan = write["counters"].get("plan_s", 0.0)
                parts = {
                    "construct_s": construct["end"] - construct["start"],
                    "plan_s": plan,
                    "exec_s": write["end"] - write["start"] - plan,
                    "jobs": c("jobs"),
                    "shuffle_write_bytes": c("shuffle_write_bytes"),
                }
                for k, v in parts.items():
                    put(f"registry.{q}.{k}", v)
    m = {k: statistics.median(v) for k, v in samples.items()}
    # registry totals: one pass is one of each query
    for k in ("construct_s", "plan_s", "exec_s", "jobs", "shuffle_write_bytes"):
        qs = [v for name, v in m.items()
              if name.startswith("registry.q_") and name.endswith("." + k)]
        if qs:
            m[f"registry.{k}"] = sum(qs)
    m.update(jvm_counters)
    return m


# ---- main -----------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["cli_cold", "topic_large", "registry_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _stop_children)

    root = os.getcwd()
    cp = build.build(root)
    work = os.path.join(root, ".bench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    trace = a.trace == 1
    if a.workload == "cli_cold":
        r = run_cli_cold(cp, work, a.seed, a.seconds, trace)
    elif a.workload == "registry_mix":
        r = run_registry(cp, work, a.seed, a.seconds, trace)
    else:
        r = run_topic(cp, work, a.seed, a.seconds, trace)
    shutil.rmtree(work, ignore_errors=True)

    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    spec = bench["per_layer" if trace else "end_to_end"]
    for f in r["failures"]:
        sys.stderr.write(f"output check failed: {f}\n")
    # a layer the workload does not run reports 0; every end-to-end
    # metric must have been measured
    missing = [m["name"] for m in spec if m["name"] not in r["metrics"]]
    if missing and not trace:
        raise SystemExit(f"unmeasured end-to-end metrics: {missing}")
    print(json.dumps({
        "correct": r["failed"] == 0,
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": {m["name"]: {"value": r["metrics"].get(m["name"], 0.0),
                                "unit": m["unit"]} for m in spec},
    }))


if __name__ == "__main__":
    main()
