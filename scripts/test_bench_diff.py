"""Tail-fragment parsing of scripts/bench_diff.py. Run from the
repository root:

    python3 -m unittest discover -s scripts -p 'test_*.py'

A BENCH_r*.json wrapper keeps only the last 2000 chars of the run's
output in its "tail". After the "queries" object the Bench line
carries more query-keyed objects (isolated_pending, isolated_cleaned_n,
...) whose values are counts, so only the "queries" object may be read
as timings.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

SCRIPT = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                      "bench_diff.py")
REGIME = "pass-major-rotate-v5"
SF = "/data/sf0.1"


def bench_line(queries, extra=""):
    """A Bench artifact line with the given per-query seconds."""
    qs = ",".join(f'"{k}":{v}' for k, v in queries.items())
    return (f'{{"metric":"total","value":1.0,"queries":{{{qs}}},'
            f'"sf":"{SF}","regime":"{REGIME}","sentinel_s":0.1{extra}}}')


class TailFragmentTest(unittest.TestCase):

    def run_diff(self, old, new):
        with tempfile.TemporaryDirectory() as d:
            paths = []
            for name, obj in (("old.json", old), ("new.json", new)):
                p = os.path.join(d, name)
                with open(p, "w") as fh:
                    json.dump(obj, fh)
                paths.append(p)
            r = subprocess.run([sys.executable, SCRIPT] + paths,
                               capture_output=True, text=True)
        return r.returncode, r.stdout

    def baseline(self):
        return json.loads(bench_line({"q_a": 0.5, "q_b": 0.25}))

    def test_counts_after_the_queries_object_are_not_timings(self):
        # the same names reappear with isolated_pending counts in the
        # thousands; read as seconds they make q_a a 4000x suspect
        line = bench_line(
            {"q_a": 0.5, "q_b": 0.26},
            ',"isolated_s":{"q_a":0.49},"isolated_pending":{"q_a":2234,'
            '"q_b":17},"isolated_cleaned_n":{"q_a":900}')
        rc, out = self.run_diff(self.baseline(), {"tail": "[info] " + line})
        self.assertEqual(rc, 0, out)
        self.assertIn("2 queries recovered", out)
        self.assertIn("2 shared queries: 0.8s -> 0.8s", out)
        self.assertIn("no plan-drift suspects", out)

    def test_a_fragment_without_the_queries_object_recovers_none(self):
        # the wrapper's 2000-char window began after "queries" closed:
        # only the isolated_* tail and the summary line survive
        line = bench_line({"q_a": 0.5, "q_b": 0.25},
                          ',"isolated_pending":{"q_a":2234,"q_b":17}')
        tail = line[line.index('"isolated_pending"'):] + "\n" + (
            f'{{"metric":"total","sf":"{SF}","regime":"{REGIME}",'
            '"sentinel_s":0.1,"summary":true}')
        rc, out = self.run_diff(self.baseline(), {"tail": tail})
        self.assertEqual(rc, 0, out)
        self.assertIn("no query timings recovered", out)
        self.assertNotIn("shared queries:", out)
        self.assertNotIn("suspects (normalized", out)


if __name__ == "__main__":
    unittest.main()
