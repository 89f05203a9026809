"""Self-test of the benchmark's correctness checks.

Runs every workload at toy size and expects a pass, then damages one
answer per check and expects the run to fail:
  - trace_batch with one Stage-0 panel row dropped (the DuckDB oracle
    comparison must catch it);
  - lake_read and lake_write with one deleted row resurrected in a read
    (the in-memory table model must catch it);
  - lake_write with one row of a partition no read-back reads deleted
    behind the model's back before a compaction (the whole-table
    comparison after each maintenance pass must catch it).
Also checks that the benchmark refuses to run without the program.

    python3 perfbench/tests/test_checks.py
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)


def run(*args, cwd=ROOT):
    p = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"),
                        "--seed", "5", "--seconds", "2", "--size", "tiny", *args],
                       cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    return p.returncode, result, p.stdout


class Checks(unittest.TestCase):

    def test_tiny_workloads_pass(self):
        for w in ("trace_batch", "lake_read", "lake_write"):
            code, res, out = run("--workload", w)
            self.assertEqual(code, 0, out)
            self.assertTrue(res["correct"], out)
            self.assertEqual(res["failed"], 0, out)

    def test_dropped_panel_row_is_caught(self):
        code, res, out = run("--workload", "trace_batch", "--corrupt", "panel_drop")
        self.assertNotEqual(code, 0, out)
        self.assertFalse(res["correct"], out)
        self.assertIn("oracle: tp_full_panel", out)

    def test_resurrected_lake_row_is_caught(self):
        for w in ("lake_read", "lake_write"):
            code, res, out = run("--workload", w, "--corrupt", "lake_resurrect")
            self.assertNotEqual(code, 0, out)
            self.assertFalse(res["correct"], out)
            self.assertGreaterEqual(res["failed"], 1, out)

    def test_row_dropped_outside_the_read_back_partition_is_caught(self):
        code, res, out = run("--workload", "lake_write", "--corrupt", "lake_drop")
        self.assertNotEqual(code, 0, out)
        self.assertFalse(res["correct"], out)
        self.assertIn("maint_ms: whole table", out)

    def test_refuses_to_run_without_the_program(self):
        bare = os.path.join(ROOT, ".bench_build", "bare")
        shutil.rmtree(bare, ignore_errors=True)
        shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("target", "project/project"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        try:
            code, res, out = run("--workload", "lake_read", cwd=bare)
            self.assertNotEqual(code, 0, out)
            self.assertIsNone(res, out)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main(verbosity=2)
