#!/usr/bin/env python3
"""The benchmark's own tests: a negative control, a smoke run of every
workload at smoke size, the traced run, and a checkout without graft.

    python3 graftbench/test_run.py            # all, about four minutes
    python3 graftbench/test_run.py -k control # one
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def bench(*args, cwd=ROOT, script=os.path.join(HERE, "run.py")):
    proc = subprocess.run([sys.executable, script, *args], cwd=cwd, capture_output=True,
                          text=True, timeout=1200)
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return proc, result


class NegativeControl(unittest.TestCase):
    def test_control_dropped_part_file_trips_the_checks(self):
        proc, result = bench("--workload", "copy", "--seed", "7", "--seconds", "1",
                             "--trace", "0", "--tiny", "--corrupt")
        self.assertNotEqual(proc.returncode, 0)
        self.assertFalse(result["correct"])
        self.assertGreater(result["failed"], 0)
        self.assertLess(result["metrics"]["ok_frac"]["value"], 1.0)  # failed share above 0
        self.assertIn("verify task: checksum MISMATCH", proc.stderr)


class Smoke(unittest.TestCase):
    def check_units(self, result, specs):
        got = result["metrics"]
        for m in specs:
            self.assertIn(m["name"], got)
            self.assertEqual(got[m["name"]]["unit"], m["unit"], m["name"])
            self.assertIsInstance(got[m["name"]]["value"], (int, float), m["name"])

    def smoke(self, workload):
        proc, result = bench("--workload", workload, "--seed", "7", "--seconds", "1",
                             "--trace", "0", "--tiny")
        self.assertEqual(proc.returncode, 0, proc.stderr[-3000:])
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.check_units(result, SPEC["end_to_end"])
        for m in SPEC["end_to_end"]:
            self.assertGreater(result["metrics"][m["name"]]["value"], 0, m["name"])

    def test_smoke_copy(self):
        self.smoke("copy")

    def test_smoke_curate(self):
        self.smoke("curate")

    def test_smoke_queries(self):
        self.smoke("queries")

    def test_smoke_ingest(self):
        self.smoke("ingest")

    def test_traced_run_reports_every_layer_and_the_overhead(self):
        proc, result = bench("--workload", "copy", "--seed", "7", "--seconds", "1",
                             "--trace", "1", "--tiny")
        self.assertEqual(proc.returncode, 0, proc.stderr[-3000:])
        self.check_units(result, SPEC["per_layer"])
        with open(os.path.join(HERE, "out", "trace-copy-seed7.json")) as fh:
            side = json.load(fh)
        self.assertIsNotNone(side["tracing_overhead_s"])
        ops = side["passes"][0]["operations"]
        self.assertTrue(all("self_ms" in op for op in ops))
        layers = {s["layer"] for s in side["passes"][0]["spans"]}
        self.assertTrue({"run", "direction", "runner", "streaming", "spark"} <= layers, layers)


class BareDirectory(unittest.TestCase):
    def test_without_graft_sources_it_fails_without_a_result(self):
        bare = os.path.join(HERE, "work", f"bare-{os.getpid()}")
        shutil.rmtree(bare, ignore_errors=True)
        shutil.copytree(HERE, os.path.join(bare, "graftbench"),
                        ignore=shutil.ignore_patterns("work", "out", "target", "project"))
        shutil.copytree(os.path.join(HERE, "harness", "project"),
                        os.path.join(bare, "graftbench", "harness", "project"),
                        ignore=shutil.ignore_patterns("target", "project"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        try:
            proc, result = bench("--workload", "copy", "--seed", "1", "--seconds", "1",
                                 "--trace", "0", cwd=bare,
                                 script=os.path.join(bare, "graftbench", "run.py"))
            self.assertNotEqual(proc.returncode, 0)
            self.assertIsNone(result)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
