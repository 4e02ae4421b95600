"""The benchmark's own tests. Run from the root of a checkout:

    python3 -m unittest perfbench/test_perfbench.py

They build the program (perfbench/build.py) for the JVM-side self test.
"""
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


class SpecTest(unittest.TestCase):
    spec = run.load_spec(ROOT)

    def test_shape(self):
        s = self.spec
        self.assertEqual(set(s), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertTrue(2 <= len(s["workloads"]) <= 8)
        self.assertTrue(1 <= len(s["end_to_end"]) <= 16)
        self.assertTrue(1 <= len(s["per_layer"]) <= 128)
        names = [m["name"] for m in s["workloads"] + s["end_to_end"] + s["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for m in s["end_to_end"] + s["per_layer"]:
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
        for m in s["end_to_end"]:
            self.assertTrue(0 < m["bound"] <= 0.25)
        setup = [m for m in s["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup, [{"name": "setup_s", "unit": "s", "better": "lower",
                                  "bound": max(m["bound"] for m in s["end_to_end"])}])


class MetricSelectionTest(unittest.TestCase):
    spec = run.load_spec(ROOT)

    def report(self, e2e):
        return {"e2e": e2e, "layer": {}}

    def full(self):
        return {m["name"]: {"value": 1.5, "unit": m["unit"]} for m in self.spec["end_to_end"]}

    def test_every_end_to_end_metric_with_its_unit(self):
        metrics, _ = run.select_metrics(self.spec, self.report(self.full()), 0)
        self.assertEqual(set(metrics), {m["name"] for m in self.spec["end_to_end"]})

    def test_undeclared_metric_is_refused(self):
        e2e = self.full()
        e2e["made_up_ms"] = {"value": 1.0, "unit": "ms"}
        with self.assertRaises(SystemExit):
            run.select_metrics(self.spec, self.report(e2e), 0)

    def test_wrong_unit_is_refused(self):
        e2e = self.full()
        e2e["setup_s"] = {"value": 1.0, "unit": "ms"}
        with self.assertRaises(SystemExit):
            run.select_metrics(self.spec, self.report(e2e), 0)

    def test_missing_end_to_end_metric_is_refused(self):
        e2e = self.full()
        del e2e["setup_s"]
        with self.assertRaises(SystemExit):
            run.select_metrics(self.spec, self.report(e2e), 0)

    def test_idle_layer_reads_zero(self):
        metrics, idle = run.select_metrics(self.spec, {"e2e": {}, "layer": {}}, 1)
        self.assertEqual(len(metrics), len(self.spec["per_layer"]))
        self.assertEqual(set(idle), set(metrics))


class ScanCheckerTest(unittest.TestCase):
    def test_wrong_count_is_counted(self):
        import duckdb
        with tempfile.TemporaryDirectory() as d:
            table = os.path.join(d, "pages")
            os.makedirs(table)
            duckdb.sql("SELECT * FROM (VALUES ('a foo b'), ('foo'), ('bar')) t(text)").write_parquet(
                os.path.join(table, "part-0.parquet"))
            sql = "count(*) FILTER (WHERE contains(text, 'foo'))"
            rep = {"checks": {"scan_table": table, "scan_sql": f"literal.hot={sql}",
                              "scan_counts": "literal.hot=2"}}
            self.assertEqual(run.check_scans(rep), [])
            rep["checks"]["scan_counts"] = "literal.hot=3"
            self.assertEqual(len(run.check_scans(rep)), 1)
            rep["checks"]["scan_counts"] = ""
            self.assertEqual(len(run.check_scans(rep)), 1)
            # raised in the run, so counted there
            rep["checks"]["failed_ops"] = "krep.scan.literal"
            self.assertEqual(run.check_scans(rep), [])


class EntryOracleTest(unittest.TestCase):
    def result(self, d, rows, threw=()):
        import duckdb
        import oracle
        with open(os.path.join(d, "oracle_sql.json"), "w") as fh:
            json.dump({"tiny": "SELECT 1 AS a, 'x' AS b UNION ALL SELECT 2, 'y'"}, fh)
        out = os.path.join(d, "tiny")
        shutil.rmtree(out, ignore_errors=True)
        if rows is not None:
            os.makedirs(out)
            values = ", ".join(f"({a}, '{b}')" for a, b in rows)
            duckdb.sql(f"SELECT * FROM (VALUES {values}) t(a, b)").write_parquet(
                os.path.join(out, "part-0.parquet"))
        return oracle.check(ROOT, d, os.path.join(ROOT, run.DATA_DIR), threw)

    def test_wrong_rows_are_counted(self):
        with tempfile.TemporaryDirectory() as d:
            self.assertEqual(self.result(d, [(2, "y"), (1, "x")]), (1, 1, []))
            n, passed, bad = self.result(d, [(1, "x"), (2, "z")])
            self.assertEqual((n, passed, len(bad)), (1, 0, 1))

    def test_missing_result_is_counted_once(self):
        with tempfile.TemporaryDirectory() as d:
            self.assertEqual(len(self.result(d, None)[2]), 1)
            # raised in the run, so counted there
            self.assertEqual(self.result(d, None, threw={"tiny"}), (1, 0, []))


class JvmSelfTest(unittest.TestCase):
    def test_seeded_inputs_and_wrong_answer_accounting(self):
        jar = build.build(ROOT)
        cp = jar + os.pathsep + os.path.join(build.spark_jars(), "*")
        res = subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp, "graft.perfbench.SelfTest"],
                             stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        self.assertEqual(res.returncode, 0, res.stdout[-2000:])
        self.assertIn("selftest ok", res.stdout)


if __name__ == "__main__":
    unittest.main()
