"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench/tests -v

The generator and BENCHMARK.json tests take a second; the end-to-end
tests start the harness JVM (building it first if needed) and take a
minute or two each.
"""
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import gen  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def tree_digest(d):
    h = hashlib.sha256()
    for dp, dn, fn in sorted(os.walk(d)):
        dn.sort()
        for f in sorted(fn):
            p = os.path.join(dp, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_bench(*args):
    """Run the benchmark; (exit code, last stdout line, stderr)."""
    r = subprocess.run([sys.executable, os.path.join(BENCH, "run.py")]
                       + list(args), cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True, timeout=900)
    lines = r.stdout.strip().splitlines()
    return r.returncode, (lines[-1] if lines else ""), r.stderr


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def test_same_seed_gives_identical_bytes(self):
        for kind in ("excel", "direct"):
            out = os.path.join(self.tmp, kind)
            gen.generate(kind, 5, out, n_dist=12)
            first = tree_digest(out)
            gen.generate(kind, 5, out, n_dist=12)
            self.assertEqual(first, tree_digest(out), kind)
            gen.generate(kind, 6, out, n_dist=12)
            self.assertNotEqual(first, tree_digest(out), kind)

    def test_every_fault_class_has_one_distribution(self):
        for kind, classes in (("excel", gen.FAULTS_EXCEL),
                              ("direct", gen.FAULTS_DIRECT)):
            truth = gen.generate(kind, 1, os.path.join(self.tmp, kind),
                                 n_dist=10, every_fault=True)
            faults = sorted(t["fault"] for t in truth if t["fault"])
            self.assertEqual(faults, sorted(classes))
            for t in truth:
                self.assertEqual(t["status"],
                                 classes[t["fault"]] if t["fault"] else "OK")

    def test_about_five_percent_faulty(self):
        truth = gen.generate("excel", 3, os.path.join(self.tmp, "x"),
                             n_dist=40)
        self.assertEqual(sum(1 for t in truth if t["fault"]), 2)


class BenchmarkJsonTest(unittest.TestCase):
    def test_metric_names_and_units(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        names += [w["name"] for w in spec["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for m in spec["end_to_end"] + spec["per_layer"]:
            self.assertRegex(m["name"], NAME)
            self.assertRegex(m["unit"], UNIT)
        self.assertIn("setup_s", [m["name"] for m in spec["end_to_end"]])


class EndToEndTest(unittest.TestCase):
    """Each case is one short run of the real harness."""

    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.spec = json.load(f)

    def check_result(self, line, trace):
        result = json.loads(line)  # the last stdout line parses as JSON
        self.assertEqual(sorted(result),
                         ["attempted", "correct", "failed", "metrics"])
        want = self.spec["per_layer" if trace else "end_to_end"]
        self.assertEqual(sorted(result["metrics"]),
                         sorted(m["name"] for m in want))
        for m in want:
            self.assertEqual(result["metrics"][m["name"]]["unit"], m["unit"])
        return result

    def test_each_fault_class_gets_its_status(self):
        for workload in ("etl_excel", "etl_direct"):
            code, line, err = run_bench(
                "--workload", workload, "--seed", "3", "--seconds", "1",
                "--trace", "0", "--distributions", "8", "--every-fault")
            self.assertEqual(code, 0, err[-2000:])
            r = self.check_result(line, trace=False)
            self.assertTrue(r["correct"], err[-2000:])
            self.assertEqual(r["failed"], 0)

    def test_wrong_row_is_counted(self):
        code, line, err = run_bench(
            "--workload", "etl_excel", "--seed", "4", "--seconds", "1",
            "--trace", "0", "--distributions", "6", "--inject-wrong-row")
        self.assertEqual(code, 0, err[-2000:])
        r = self.check_result(line, trace=False)
        self.assertFalse(r["correct"])
        self.assertGreaterEqual(r["failed"], 1)

    def test_traced_run_reports_every_layer(self):
        code, line, err = run_bench(
            "--workload", "etl_direct", "--seed", "5", "--seconds", "1",
            "--trace", "1", "--distributions", "6")
        self.assertEqual(code, 0, err[-2000:])
        r = self.check_result(line, trace=True)
        self.assertTrue(r["correct"], err[-2000:])
        self.assertGreater(r["metrics"]["sinks.csv_jobs"]["value"], 0)
        self.assertEqual(r["metrics"]["sources.scrape_jobs"]["value"], 0)

    @unittest.expectedFailure
    def test_empty_cells_are_not_frequency_gaps(self):
        """Known defect of the program, kept visible here: the excel batch
        path (graft.Pipeline.process) checks frequency per series over
        the scraped long form, where an empty cell leaves no row, so a
        clean table with a few empty cells is reported as WARNING
        "frequency gap(s)". The reference checks the distribution's time
        index (SURVEY T3), and the direct path agrees. Remove the marker
        when the program is fixed."""
        code, line, err = run_bench(
            "--workload", "etl_excel", "--seed", "6", "--seconds", "1",
            "--trace", "0", "--distributions", "6", "--sparse")
        self.assertEqual(code, 0, err[-2000:])
        self.assertTrue(self.check_result(line, trace=False)["correct"])

    def test_refuses_to_run_without_the_program(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns(
                                "target", ".work", "data"))
            r = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload",
                 "query_mix", "--seed", "1", "--seconds", "1", "--trace",
                 "0"], cwd=d, stdout=subprocess.PIPE,
                stderr=subprocess.PIPE, text=True, timeout=60)
            self.assertNotEqual(r.returncode, 0)
            self.assertEqual(r.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
