"""Tests of the layerbench benchmark itself.

Each workload runs at the tiny scale: once clean, where every check must
pass, and once with an injected fault, where a check must fail. Further
tests pin the output contract against BENCHMARK.json, the loud failure on
an unusable GRAFT_SCRATCH_DIR, and the failure without the program's
sources. Run from the repository root:

    python3 -m unittest layerbench/test_layerbench.py
"""
import json
import os
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(workload, trace="0", inject="none", env=None, cwd=ROOT):
    cmd = [sys.executable, str(cwd / "layerbench" / "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", trace, "--scale", "tiny",
           "--inject", inject]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600,
                       env={**os.environ, **(env or {})})
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    return p, result


class Workloads(unittest.TestCase):
    def check_clean(self, workload):
        p, r = run(workload)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(r["correct"], p.stdout)
        self.assertEqual(r["failed"], 0)
        self.assertGreaterEqual(r["attempted"], 1)
        want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
        self.assertEqual({k: v["unit"] for k, v in r["metrics"].items()}, want)
        for k, v in r["metrics"].items():
            self.assertGreater(v["value"], 0, k)

    def check_fault(self, workload, fault):
        p, r = run(workload, inject=fault)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        self.assertFalse(r["correct"], f"{fault} was not detected")
        self.assertGreaterEqual(r["failed"], 1)

    def test_live_tail(self):
        self.check_clean("live_tail")

    def test_live_tail_dropped_sample_is_caught(self):
        self.check_fault("live_tail", "drop_sample")

    def test_record_analyze(self):
        self.check_clean("record_analyze")

    def test_record_analyze_corrupt_value_is_caught(self):
        self.check_fault("record_analyze", "corrupt_value")

    def test_index_lifecycle(self):
        self.check_clean("index_lifecycle")

    def test_index_lifecycle_served_deleted_id_is_caught(self):
        self.check_fault("index_lifecycle", "skip_delete")

    def test_traced_run_reports_every_per_layer_metric(self):
        p, r = run("index_lifecycle", trace="1")
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
        self.assertEqual({k: v["unit"] for k, v in r["metrics"].items()}, want)
        self.assertGreater(r["metrics"]["ann.build_s"]["value"], 0)
        self.assertEqual(r["metrics"]["core.read_calls"]["value"], 0)
        self.assertEqual(r["metrics"]["ingest.calls"]["value"], 0)


class Environment(unittest.TestCase):
    def test_unusable_scratch_dir_fails_loudly(self):
        p, r = run("live_tail", env={"GRAFT_SCRATCH_DIR": str(ROOT / ".bench_build" / "no-such-dir")})
        self.assertNotEqual(p.returncode, 0)
        self.assertIn("GRAFT_SCRATCH_DIR", p.stderr)
        self.assertIsNone(r)

    def test_fails_without_program_sources(self):
        bare = ROOT / ".bench_build" / "bare-checkout"
        shutil.rmtree(bare, ignore_errors=True)
        bare.mkdir(parents=True)
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        shutil.copytree(HERE, bare / "layerbench",
                        ignore=shutil.ignore_patterns("__pycache__"))
        try:
            p, r = run("live_tail", cwd=bare)
            self.assertNotEqual(p.returncode, 0)
            self.assertFalse(p.stdout.strip().startswith('{"correct"'))
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
