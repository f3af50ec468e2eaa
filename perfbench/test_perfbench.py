"""Tests of the benchmark itself. From the repository root:

    python3 -m unittest perfbench/test_perfbench.py

The self-test cases build the benchmark program and run it (a few minutes).
"""
import json
import pathlib
import re
import subprocess
import sys
import unittest

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import run  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


class BenchmarkJson(unittest.TestCase):
    def test_shape(self):
        self.assertEqual(set(SPEC), {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"})
        self.assertTrue(2 <= len(SPEC["workloads"]) <= 8)
        self.assertTrue(1 <= SPEC["run_seconds"] <= 60)
        for w in SPEC["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
        for m in SPEC["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        for m in SPEC["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        self.assertLessEqual(len(SPEC["per_layer"]), 128)

    def test_names_and_units(self):
        names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in SPEC[k]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for m in SPEC["end_to_end"] + SPEC["per_layer"]:
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))

    def test_setup_metric(self):
        setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(len(setup), 1)
        self.assertEqual((setup[0]["unit"], setup[0]["better"]), ("s", "lower"))
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in SPEC["end_to_end"]))

    def test_runner_rejects_a_result_with_other_metrics(self):
        good = {"correct": True, "attempted": 1, "failed": 0,
                "metrics": {m["name"]: {"value": 1.0, "unit": m["unit"]} for m in SPEC["end_to_end"]}}
        run.check_result(good, SPEC, trace=False)
        renamed = json.loads(json.dumps(good))
        renamed["metrics"]["renamed"] = renamed["metrics"].pop("setup_s")
        with self.assertRaises(SystemExit):
            run.check_result(renamed, SPEC, trace=False)
        with self.assertRaises(SystemExit):
            run.check_result(good, SPEC, trace=True)


class ProgramSelfTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        proc = subprocess.run([sys.executable, str(HERE / "run.py"), "--selftest"], cwd=ROOT,
                              stdout=subprocess.PIPE, text=True, timeout=900)
        cls.code = proc.returncode
        cls.lines = proc.stdout.splitlines()

    def test_every_case_passes(self):
        failed = [l for l in self.lines if l.startswith("FAIL")]
        self.assertEqual(failed, [])
        self.assertEqual(self.code, 0)

    def test_sequences_are_functions_of_the_seed(self):
        cases = [l for l in self.lines if l.startswith("PASS") and "function of the seed" in l]
        self.assertEqual(len(cases), 3)

    def test_each_check_fails_on_a_perturbed_reference(self):
        cases = [l for l in self.lines if l.startswith("PASS") and "perturbed reference" in l]
        self.assertEqual(len(cases), 15)

    def test_printed_metrics_match_benchmark_json(self):
        for kind in ("end_to_end", "per_layer"):
            printed = [tuple(l.split()[2:4]) for l in self.lines if l.startswith(f"catalog {kind} ")]
            listed = [(m["name"], m["unit"]) for m in SPEC[kind]]
            self.assertEqual(sorted(printed), sorted(listed))


if __name__ == "__main__":
    unittest.main()
