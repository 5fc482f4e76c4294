"""Self-test of the benchmark's generators and output checks, on tiny inputs.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The generators' answers are computed with numpy; here DuckDB recomputes
them from the written parquet files with SQL, so the two must agree.
"""

import os
import sys
import tempfile
import unittest

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import run  # noqa: E402

# the EventsAsRecords mapping, as SQL
EVENTS_AS_RECORDS = """
    SELECT CAST(user_id % 8 AS INTEGER) AS p,
           ROW_NUMBER() OVER (PARTITION BY user_id % 8 ORDER BY event_id) - 1 AS o,
           ts,
           CASE WHEN user_id % 19 = 0 THEN NULL ELSE CAST(user_id AS VARCHAR) END AS k,
           CASE WHEN event_id % 13 = 0 THEN NULL ELSE props END AS v
    FROM '{path}'"""

RECORDS = """SELECT "partition" AS p, "offset" AS o, "timestamp" AS ts,
                    "key" AS k, "value" AS v FROM '{path}'"""


def duckdb_answer(source):
    """The report and alive-key count of a (p, o, ts, k, v) relation."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW r AS {source}")
    rows = []
    for (p, lo, hi, total, alive, kn, kb, vb) in con.sql("""
            SELECT p, MIN(o), MAX(o) + 1, COUNT(*), COUNT(v), COUNT(k),
                   COALESCE(SUM(octet_length(CAST(k AS BLOB))), 0),
                   COALESCE(SUM(octet_length(CAST(v AS BLOB))), 0)
            FROM r GROUP BY p ORDER BY p""").fetchall():
        tomb = total - alive
        pb = kb + vb
        avg = lambda b: b // alive if alive and b else 0  # noqa: E731
        rows.append({
            "partition": p, "start_offset": lo, "end_offset": hi, "total": total,
            "alive": alive, "tombstones": tomb,
            "dirty_ratio": gen.java_4f(tomb * 100.0 / total if tomb else 0.0),
            "key_null": total - kn, "key_non_null": kn, "p_bytes": pb,
            "key_bytes": kb, "value_bytes": vb, "avg_key_size": avg(kb),
            "avg_value_size": avg(vb), "avg_msg_size": avg(pb)})
    (n, size, small, large, early, late) = con.sql("""
        SELECT COUNT(*),
               SUM(COALESCE(octet_length(CAST(k AS BLOB)), 0)
                   + COALESCE(octet_length(CAST(v AS BLOB)), 0)),
               MIN(COALESCE(octet_length(CAST(k AS BLOB)), 0)
                   + octet_length(CAST(v AS BLOB))),
               MAX(COALESCE(octet_length(CAST(k AS BLOB)), 0)
                   + octet_length(CAST(v AS BLOB))),
               epoch_us(MIN(ts)), epoch_us(MAX(ts))
        FROM r""").fetchone()
    (alive_keys,) = con.sql("""
        SELECT COUNT(*) FROM (
          SELECT v, ROW_NUMBER() OVER (PARTITION BY k ORDER BY p DESC, o DESC) AS rn
          FROM r WHERE k IS NOT NULL) WHERE rn = 1 AND v IS NOT NULL""").fetchone()
    con.close()
    return {"partitions": rows,
            "summary": {"overall_count": n, "overall_bytes": int(size),
                        "smallest_msg": small, "largest_msg": large,
                        "earliest_us": early, "latest_us": late},
            "alive_keys": alive_keys}


def render(ans):
    """The lines of graft.report.Report.render that the CLI check reads."""
    import datetime

    def iso(us):
        t = datetime.datetime.fromtimestamp(us // 1_000_000, datetime.timezone.utc)
        return t.strftime("%Y-%m-%dT%H:%M:%S") + (f".{us % 1_000_000:06d}".rstrip("0")
                                                 if us % 1_000_000 else "") + "Z"
    s = ans["summary"]
    lines = ["=" * 120, "Topic: t", f"Scanned messages: {s['overall_count']}",
             f"Overall size: {s['overall_bytes']} bytes",
             f"Smallest message: {s['smallest_msg']} bytes",
             f"Largest message: {s['largest_msg']} bytes",
             f"Earliest message: {iso(s['earliest_us'])}",
             f"Latest message: {iso(s['latest_us'])}", "Estimated Msg/s: 1",
             f"Alive keys: {ans['alive_keys']}", "=" * 120, "+---+", "| P | < OS |",
             "+---+"]
    lines += ["| " + " | ".join(str(r[c]) for c in run.REPORT_COLS) + " |"
              for r in ans["partitions"]]
    return "\n".join(lines + ["+---+", "Legend: P=Partition"]) + "\n"


class GeneratorTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.dir = self.tmp.name

    def tearDown(self):
        self.tmp.cleanup()

    def test_events_answer_matches_duckdb(self):
        path = os.path.join(self.dir, "events.parquet")
        for hot_props in (None, (60, 600)):
            want = gen.events(self.dir, 5, n_rows=3000, n_users=300,
                              hot_props=hot_props)
            self.assertEqual(want, duckdb_answer(EVENTS_AS_RECORDS.format(path=path)))
            self.assertEqual(len(want["partitions"]), 8)
            self.assertGreater(want["alive_keys"], 0)

    def test_events_fixture_shape(self):
        gen.events(self.dir, 5, n_rows=20000, n_users=300)
        con = duckdb.connect()
        (users, props, lo, hi, span_days, mean_value) = con.sql(f"""
            SELECT COUNT(DISTINCT user_id), COUNT(DISTINCT props),
                   MIN(length(props)), MAX(length(props)),
                   (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) / 86400e6, AVG(value)
            FROM '{self.dir}/events.parquet'""").fetchone()
        con.close()
        self.assertEqual((users, props, lo, hi), (300, 100, 8, 9))
        self.assertAlmostEqual(span_days, 30, delta=1)
        self.assertAlmostEqual(mean_value, 50, delta=2)

    def test_records_answer_matches_duckdb(self):
        path = os.path.join(self.dir, "records.parquet")
        want = gen.records(path, 5, n_rows=4000)
        self.assertEqual(want, duckdb_answer(RECORDS.format(path=path)))
        self.assertEqual(len(want["partitions"]), 16)
        # keys drawn from 2n ids: about 79% of n distinct, 90% of them alive
        self.assertGreater(want["alive_keys"], 0.65 * 4000)

    def test_same_seed_same_input(self):
        a = gen.records(os.path.join(self.dir, "a.parquet"), 9, n_rows=500)
        b = gen.records(os.path.join(self.dir, "b.parquet"), 9, n_rows=500)
        c = gen.records(os.path.join(self.dir, "c.parquet"), 10, n_rows=500)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)
        con = duckdb.connect()
        diff = con.sql(f"""SELECT COUNT(*) FROM (
            SELECT * FROM '{self.dir}/a.parquet'
            EXCEPT ALL SELECT * FROM '{self.dir}/b.parquet')""").fetchone()[0]
        self.assertEqual(diff, 0)

    def test_dirty_ratio_rounds_like_java(self):
        # 2600 tombstones of 25600: exactly 10.15625, where Java rounds up
        self.assertEqual(gen.java_4f(2600 * 100.0 / 25600), "10.1563")
        self.assertEqual(gen.java_4f(0.0), "0.0000")
        self.assertEqual(gen.java_4f(7.68380520949), "7.6838")

    def test_report_check_accepts_the_answer_and_rejects_a_corrupted_one(self):
        ans = gen.events(self.dir, 3, n_rows=2000, n_users=200)
        text = render(ans)
        self.assertEqual(run.check_report(text, ans), [])
        for corrupt in (
                dict(ans, alive_keys=ans["alive_keys"] + 1),
                dict(ans, summary=dict(ans["summary"], latest_us=ans["summary"]["latest_us"] - 1)),
                dict(ans, partitions=[dict(ans["partitions"][0], key_bytes=0)]
                     + ans["partitions"][1:])):
            self.assertNotEqual(run.check_report(text, corrupt), [])
        self.assertNotEqual(run.check_report("no report", ans), [])


if __name__ == "__main__":
    unittest.main()
