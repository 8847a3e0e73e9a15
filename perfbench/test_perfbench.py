"""The benchmark's own tests: the declared metrics match what a run prints,
broken inputs are counted as failures instead of reading as fast passes, and
a tiny run completes. Each test starts the JVM, so the file takes a few
minutes:

    python3 -m unittest perfbench/test_perfbench.py
"""

import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work", "tests")
TINY = ["--draws", "3", "--prizes", "40", "--seconds", "1"]


def run_bench(workload, trace, *extra):
    """Run the benchmark; return (detail, result) parsed from its last two
    lines of standard output."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
         "--trace", str(trace), *TINY, *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise AssertionError(f"run failed ({proc.returncode}): {proc.stderr[-3000:]}")
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


class DeclaredMetrics(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            cls.spec = json.load(fh)
        os.makedirs(WORK, exist_ok=True)

    def assert_metrics(self, result, declared):
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        want = {m["name"]: m["unit"] for m in declared}
        self.assertEqual(got, want)
        for m in result["metrics"].values():
            self.assertIsInstance(m["value"], (int, float))

    def test_declarations_are_complete(self):
        e2e = self.spec["end_to_end"]
        self.assertIn("setup_s", [m["name"] for m in e2e])
        for m in e2e:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertIn(m["better"], ("lower", "higher"))
            self.assertTrue(0 < m["bound"] <= 0.25)
        for m in self.spec["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
            self.assertIn(m["better"], ("lower", "higher"))

    def test_tiny_weekly_run_prints_every_metric(self):
        detail, result = run_bench("weekly", 0)
        self.assertTrue(result["correct"], detail["problems"])
        self.assertEqual(result["failed"], 0)
        self.assert_metrics(result, self.spec["end_to_end"])
        detail, result = run_bench("weekly", 1)
        self.assertTrue(result["correct"], detail["problems"])
        self.assert_metrics(result, self.spec["per_layer"])
        self.assertGreater(result["metrics"]["gold.phase_s"]["value"], 0)
        self.assertGreater(result["metrics"]["parse.files_scanned"]["value"], 0)

    def test_bogus_corpus_is_a_failure_not_a_fast_pass(self):
        bogus = os.path.join(WORK, "no-such-corpus")
        _, result = run_bench("analyst", 0, "--corpus", bogus)
        self.assertFalse(result["correct"])
        self.assertGreater(result["failed"], 0)
        self.assertLess(result["metrics"]["success_ratio"]["value"], 1.0)

    def test_wrong_fingerprint_is_a_failure(self):
        with open(os.path.join(HERE, "fingerprints.json")) as fh:
            prints = json.load(fh)
        name = sorted(prints)[0]
        prints[name]["hash"] = "0" if prints[name]["hash"] != "0" else "1"
        wrong = os.path.join(WORK, "wrong-fingerprints.json")
        with open(wrong, "w") as fh:
            json.dump(prints, fh)
        detail, result = run_bench("analyst", 1, "--fingerprints", wrong)
        self.assertFalse(result["correct"])
        self.assertGreater(result["failed"], 0)
        self.assertTrue(any(name in p for p in detail["problems"]), detail["problems"])
        self.assert_metrics(result, self.spec["per_layer"])
        self.assertGreater(result["metrics"]["textops.warm_s"]["value"], 0)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
