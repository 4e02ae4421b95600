"""Tests of scripts/ab_pairs.py's summary on canned result lines; they start
no JVM. Run from the root of a checkout:

    python3 -m unittest scripts/test_ab_pairs.py
"""
import json
import os
import sys
import tempfile
import unittest
from contextlib import redirect_stdout
from io import StringIO

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import ab_pairs  # noqa: E402

SPEC = {"end_to_end": [
    {"name": "ops_s", "unit": "1/s", "better": "higher", "bound": 0.25},
    {"name": "op_p99_ms", "unit": "ms", "better": "lower", "bound": 0.25}]}


def row(side, seed, ops, p99, correct=True, failed=0, workload="serve"):
    return {"workload": workload, "side": side, "seed": seed,
            "result": {"correct": correct, "attempted": 100, "failed": failed,
                       "metrics": {"ops_s": {"value": ops, "unit": "1/s"},
                                   "op_p99_ms": {"value": p99, "unit": "ms"}}}}


class SummaryTest(unittest.TestCase):
    def test_quartiles_wins_and_bound(self):
        rows = [row("base", None, 1.0, 999.0), row("change", None, 1.0, 999.0)]
        for seed, (b, c) in enumerate([(100, 110), (200, 190), (300, 330), (400, 440)], 1):
            rows += [row("base", seed, b, 10.0), row("change", seed, c, 20.0)]
        s = ab_pairs.summarize(SPEC, rows)
        self.assertEqual(s["pairs"], 4)
        ops, p99 = s["metrics"]
        # statistics.quantiles(n=4), exclusive method: [100, 200, 300, 400]
        self.assertEqual(ops["base"], (125.0, 250.0, 375.0))
        self.assertEqual(ops["wins"], 3)
        self.assertAlmostEqual(ops["worse_by"], (250 - 260) / 250)
        self.assertTrue(ops["within"])
        # p99 doubles: worse by 100%, outside the 0.25 bound, no wins
        self.assertEqual(p99["wins"], 0)
        self.assertAlmostEqual(p99["worse_by"], 1.0)
        self.assertFalse(p99["within"])
        self.assertEqual(s["bad_runs"], [])

    def test_unpaired_seeds_are_left_out(self):
        rows = [row("base", 1, 100, 10), row("change", 1, 100, 10), row("base", 2, 1, 10)]
        s = ab_pairs.summarize(SPEC, rows)
        self.assertEqual(s["pairs"], 1)
        self.assertEqual(s["metrics"][0]["base"], (100, 100, 100))

    def test_bad_runs_are_listed(self):
        rows = [row("base", 1, 100, 10), row("change", 1, 100, 10, correct=False, failed=2),
                row("base", 2, 100, 10, failed=1),
                {"workload": "serve", "side": "change", "seed": 2, "error": "rc=1: boom"},
                {"workload": "serve", "side": "base", "seed": None, "error": "rc=1: no jar"}]
        bad = ab_pairs.summarize(SPEC, rows)["bad_runs"]
        self.assertEqual(len(bad), 4)
        self.assertIn("change seed 1: correct=False failed=2/100", bad)
        self.assertIn("base seed 2: correct=True failed=1/100", bad)
        self.assertTrue(any(b.startswith("change seed 2: no report") for b in bad))
        self.assertTrue(any(b.startswith("base warm-up: no report") for b in bad))

    def test_summarize_file_reads_bounds_and_renders(self):
        with tempfile.TemporaryDirectory() as d:
            with open(os.path.join(d, "BENCHMARK.json"), "w") as fh:
                json.dump(SPEC, fh)
            lines = os.path.join(d, "pairs.jsonl")
            with open(lines, "w") as fh:
                for seed in (1, 2):
                    for side, p99 in (("base", 10.0), ("change", 11.0)):
                        fh.write(json.dumps(row(side, seed, 100.0, p99, workload="batch")) + "\n")
            out = StringIO()
            sys.argv = ["ab_pairs.py", "--summarize", lines, "--base", d]
            with redirect_stdout(out):
                ab_pairs.main()
            text = out.getvalue()
        self.assertIn("### batch: 2 pairs", text)
        self.assertIn("| op_p99_ms (ms) | 10 [10, 10] | 11 [11, 11] | 0/2 | +0.100 | 0.25 | yes |", text)
        self.assertIn("Runs not correct or with failures: none", text)


def traced_row(side, seed, phrase_ms, alloc_kb, workload="serve"):
    return {"workload": workload, "side": side, "seed": seed, "traced": True,
            "result": {"correct": True, "attempted": 100, "failed": 0,
                       "metrics": {"query.phrase_p50_ms": {"value": phrase_ms, "unit": "ms"},
                                   "query.alloc_kb_per_query": {"value": alloc_kb,
                                                                "unit": "KiB"}}}}


class TracedTest(unittest.TestCase):
    def test_traced_lines_stay_out_of_the_end_to_end_table(self):
        rows = [row("base", 1, 100, 10), row("change", 1, 200, 5),
                traced_row("base", 1, 120.0, 2600), traced_row("change", 1, 1.2, 300)]
        s = ab_pairs.summarize(SPEC, rows)
        self.assertEqual(s["pairs"], 1)
        self.assertEqual(s["metrics"][0]["base"], (100, 100, 100))
        self.assertEqual(s["bad_runs"], [])

    def test_failed_traced_runs_are_listed(self):
        rows = [row("base", 1, 100, 10), row("change", 1, 100, 10),
                {"workload": "serve", "side": "change", "seed": 1, "traced": True,
                 "error": "rc=1: boom"}]
        self.assertEqual(ab_pairs.summarize(SPEC, rows)["bad_runs"],
                         ["change traced seed 1: no report (rc=1: boom)"])

    def test_layer_medians_per_side(self):
        rows = [row("base", 1, 100, 10),
                traced_row("base", 1, 120.0, 2600), traced_row("base", 2, 100.0, 2400),
                traced_row("base", 3, 140.0, 2500), traced_row("change", 1, 1.0, 300),
                traced_row("change", 2, 2.0, 280)]
        m = ab_pairs.layer_medians(rows, ["query.phrase_p50_ms", "query.missing"])
        self.assertEqual(m["query.phrase_p50_ms"], {"base": (120.0, 3), "change": (1.5, 2)})
        self.assertEqual(m["query.missing"], {"base": (None, 0), "change": (None, 0)})
        self.assertEqual(sorted(ab_pairs.layer_medians(rows)),
                         ["query.alloc_kb_per_query", "query.phrase_p50_ms"])

    def test_traced_runs_alternate_and_are_tagged(self):
        calls = []

        def fake_run(checkout, workload, seed, seconds, trace=False):
            calls.append((os.path.basename(checkout), seed, trace))
            if trace:
                return {"result": traced_row("x", seed, 1.0, 1.0)["result"]}
            return {"result": row("x", seed, 100.0, 10.0)["result"]}

        with tempfile.TemporaryDirectory() as d:
            for side in ("base", "change"):
                os.makedirs(os.path.join(d, side))
                with open(os.path.join(d, side, "BENCHMARK.json"), "w") as fh:
                    json.dump(SPEC, fh)
            out_file = os.path.join(d, "pairs.jsonl")
            sys.argv = ["ab_pairs.py", "--base", os.path.join(d, "base"),
                        "--change", os.path.join(d, "change"), "--workload", "serve",
                        "--seeds", "1-2", "--out", out_file, "--traced", "2",
                        "--layers", "query.phrase_p50_ms"]
            real, ab_pairs.run_once = ab_pairs.run_once, fake_run
            try:
                with redirect_stdout(StringIO()) as out:
                    ab_pairs.main()
            finally:
                ab_pairs.run_once = real
            with open(out_file) as fh:
                written = [json.loads(l) for l in fh]
        traced = [(c[0], c[1]) for c in calls if c[2]]
        self.assertEqual(traced, [("base", 1), ("change", 1), ("change", 2), ("base", 2)])
        self.assertEqual(sum(1 for r in written if r.get("traced")), 4)
        # traced lines carry the traced run's (per-layer) metrics
        self.assertTrue(all(bool(r.get("traced")) ==
                            ("query.phrase_p50_ms" in r["result"]["metrics"])
                            for r in written))
        text = out.getvalue()
        self.assertIn("### serve: 2 pairs", text)
        self.assertIn("| query.phrase_p50_ms | 1 (n=2) | 1 (n=2) |", text)

    def test_summarize_prints_layers_of_traced_lines(self):
        with tempfile.TemporaryDirectory() as d:
            with open(os.path.join(d, "BENCHMARK.json"), "w") as fh:
                json.dump(SPEC, fh)
            lines = os.path.join(d, "pairs.jsonl")
            with open(lines, "w") as fh:
                for r in (row("base", 1, 100.0, 10.0), row("change", 1, 100.0, 5.0),
                          traced_row("base", 1, 120.0, 2600), traced_row("change", 1, 1.25, 294)):
                    fh.write(json.dumps(r) + "\n")
            out = StringIO()
            sys.argv = ["ab_pairs.py", "--summarize", lines, "--base", d,
                        "--layers", "query.alloc_kb_per_query"]
            with redirect_stdout(out):
                ab_pairs.main()
            text = out.getvalue()
        self.assertIn("### serve: 1 pairs", text)
        self.assertIn("| op_p99_ms (ms) | 10 [10, 10] | 5 [5, 5] | 1/1 |", text)
        self.assertIn("| query.alloc_kb_per_query | 2600 (n=1) | 294 (n=1) |", text)
        self.assertNotIn("query.phrase_p50_ms", text)


if __name__ == "__main__":
    unittest.main()
