#!/usr/bin/env python3
"""Tests of the benchmark itself.

    python3 perfbench/test_bench.py

Each test runs the benchmark (a few JVM runs, several minutes in all) and
checks that it measures real work and that its correctness checks fail
when they should.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402


def bench(*args):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        *args], cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        raise AssertionError(f"run.py {args} exited {p.returncode}:\n"
                             f"{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


class ContractTest(unittest.TestCase):
    def test_benchmark_json_lists_what_run_prints(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([w["name"] for w in spec["workloads"]],
                         list(run.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         run.PER_LAYER)
        bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
        self.assertEqual(max(bounds.values()), bounds["setup_s"])
        self.assertTrue(all(0 < b <= 0.25 for b in bounds.values()))


class FaultTest(unittest.TestCase):
    def test_wrong_answer_counts_as_failed(self):
        r = bench("--workload", "convert", "--seed", "1", "--seconds", "2",
                  "--trace", "0", "--inject", "wrong_answer")
        self.assertFalse(r["correct"])
        self.assertEqual(r["failed"], 1)

    def test_corrupt_page_counts_as_failed(self):
        r = bench("--workload", "convert", "--seed", "1", "--seconds", "2",
                  "--trace", "0", "--inject", "corrupt_page")
        self.assertFalse(r["correct"])
        self.assertGreaterEqual(r["failed"], 1)

    def test_clean_run_is_correct(self):
        r = bench("--workload", "convert", "--seed", "1", "--seconds", "2",
                  "--trace", "0")
        self.assertTrue(r["correct"])
        self.assertEqual(r["failed"], 0)


class MaterializationTest(unittest.TestCase):
    def test_count_skips_the_l13_kernel(self):
        # count() lets column pruning drop the fingerprint kernel; the
        # timed action writes every column, which is many times slower
        r = bench("--workload", "llm_text", "--seed", "1", "--seconds", "2",
                  "--trace", "1")
        m = r["metrics"]
        self.assertTrue(r["correct"])
        self.assertEqual(m["bench.failed_op_share"]["value"], 0.0)
        self.assertGreater(m["text.l13_s"]["value"],
                           3 * m["text.l13_count_only_s"]["value"])


class LayoutTest(unittest.TestCase):
    def test_refuses_without_program_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns(
                                ".work", ".build", "target", "__pycache__",
                                "project/project"))
            p = subprocess.run([sys.executable, "perfbench/run.py",
                                "--workload", "convert", "--seed", "1",
                                "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True,
                               timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
