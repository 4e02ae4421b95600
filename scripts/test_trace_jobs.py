"""Tests of scripts/trace_jobs.py's census on a canned trace; they start no
JVM. Run from the root of a checkout:

    python3 -m unittest scripts/test_trace_jobs.py
"""
import json
import os
import sys
import tempfile
import unittest
from contextlib import redirect_stdout
from io import StringIO

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import trace_jobs  # noqa: E402


def span(id_, parent, name, start_ms, end_ms, jobs=None, tasks=0, shuffle=0):
    s = {"id": id_, "parent": parent, "name": name, "req": 0, "thread": 1,
         "start_ns": int(start_ms * 1e6), "end_ns": int(end_ms * 1e6)}
    if jobs is not None:  # spans that launched no Spark work carry no counts
        s.update(jobs=jobs, tasks=tasks, shuffle_write_bytes=shuffle, spill_bytes=0)
    return s


# Set-up: a build (parent 0) with a nested step. Window 7 is not in the
# file: its spans are two entries, one of them run twice, and a nested one.
TRACE = [
    span(1, 0, "index.build", 0, 1000, jobs=10, tasks=40, shuffle=4096),
    span(2, 1, "index.step", 100, 600, jobs=4, tasks=8, shuffle=1024),
    span(8, 7, "ops.entry.a", 1000, 1300, jobs=3, tasks=3),
    span(9, 7, "ops.entry.b", 1300, 1400, jobs=1, tasks=2, shuffle=2048),
    span(10, 7, "ops.entry.a", 1400, 1600, jobs=2, tasks=2),
    span(11, 9, "query.term", 1310, 1320),
]


class CensusTest(unittest.TestCase):
    def test_rows_grouped_by_name_and_sorted_by_wall(self):
        c = trace_jobs.census(TRACE)
        names = [(r["phase"], r["name"]) for r in c["rows"]]
        self.assertEqual(names, [("setup", "index.build"), ("setup", "index.step"),
                                 ("window", "ops.entry.a"), ("window", "ops.entry.b"),
                                 ("window", "query.term")])
        a = c["rows"][2]
        self.assertEqual((a["spans"], a["jobs"], a["tasks"]), (2, 5, 5))
        self.assertAlmostEqual(a["wall_ms"], 500.0)
        term = c["rows"][4]
        self.assertEqual((term["jobs"], term["tasks"], term["shuffle_write_bytes"]), (0, 0, 0))

    def test_totals_split_setup_and_window_without_double_counting(self):
        t = trace_jobs.census(TRACE)["totals"]
        # jobs add over every span (each job lands on exactly one); wall
        # time only over outermost spans
        self.assertEqual(t["setup"]["jobs"], 14)
        self.assertEqual(t["setup"]["shuffle_write_bytes"], 5120)
        self.assertAlmostEqual(t["setup"]["wall_ms"], 1000.0)
        self.assertEqual(t["window"]["jobs"], 6)
        self.assertEqual(t["window"]["spans"], 4)
        self.assertAlmostEqual(t["window"]["wall_ms"], 600.0)

    def test_main_prints_rows_and_totals(self):
        with tempfile.NamedTemporaryFile("w", suffix=".jsonl", delete=False) as f:
            f.write("\n".join(json.dumps(s) for s in TRACE) + "\n")
        try:
            out = StringIO()
            with redirect_stdout(out):
                trace_jobs.main([f.name, "--top", "1"])
        finally:
            os.unlink(f.name)
        lines = out.getvalue().splitlines()
        self.assertEqual(len(lines), 1 + 1 + 2)
        self.assertIn("index.build", lines[1])
        self.assertTrue(lines[2].split()[:4] == ["total", "setup", "2", "14"], lines[2])
        self.assertTrue(lines[3].split()[:4] == ["total", "window", "4", "6"], lines[3])


if __name__ == "__main__":
    unittest.main()
