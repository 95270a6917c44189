"""The benchmark's own tests. Run from the root of a checkout:

    python3 -m unittest discover -s perfbench -p 'test_*.py'

They build the benchmark on first use (as any run does) and take a few
minutes: every workload runs once untraced and once traced at tiny scale.
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in BENCH["workloads"]]
SCRATCH = ROOT / ".bench_build" / "test-tmp"


def run(*args, cwd=ROOT):
    cmd = BENCH["command"] + list(args)
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=900)


def digest(directory):
    h = hashlib.sha256()
    for p in sorted(Path(directory).rglob("*")):
        if p.is_file():
            h.update(str(p.relative_to(directory)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def result(proc):
    """The JSON object on the last line of standard output."""
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]) if lines else None


class PerfbenchTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        SCRATCH.mkdir(parents=True, exist_ok=True)
        cls.tmp = Path(tempfile.mkdtemp(dir=SCRATCH))

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp, ignore_errors=True)

    def generate(self, workload, seed, name):
        out = self.tmp / name
        p = run("--workload", workload, "--seed", str(seed),
                "--generate-only", str(out))
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        return digest(out)

    def test_same_seed_gives_identical_inputs(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                a = self.generate(w, 7, f"{w}-7a")
                self.assertEqual(a, self.generate(w, 7, f"{w}-7b"))
                self.assertNotEqual(a, self.generate(w, 8, f"{w}-8"))

    def check_run(self, workload, trace, names):
        p = run("--workload", workload, "--seed", "3", "--seconds", "1",
                "--trace", str(trace), "--tiny")
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        r = result(p)
        self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(r["correct"])
        self.assertEqual(r["failed"], 0)
        self.assertGreaterEqual(r["attempted"], 1)
        self.assertEqual(set(r["metrics"]), names)
        units = {m["name"]: m["unit"] for m in
                 BENCH["end_to_end" if trace == 0 else "per_layer"]}
        for k, v in r["metrics"].items():
            self.assertEqual(v["unit"], units[k], k)
        return r

    def test_tiny_runs_pass_their_checks_and_print_every_metric(self):
        e2e = {m["name"] for m in BENCH["end_to_end"]}
        layers = {m["name"] for m in BENCH["per_layer"]}
        for w in WORKLOADS:
            with self.subTest(workload=w, trace=0):
                r = self.check_run(w, 0, e2e)
                for k, v in r["metrics"].items():
                    self.assertGreater(v["value"], 0, k)
            with self.subTest(workload=w, trace=1):
                self.check_run(w, 1, layers)
                self.assertTrue(
                    (ROOT / ".bench_build" / "traces" / f"{w}-seed3.json").is_file())

    def test_metrics_document_covers_every_per_layer_metric(self):
        doc = json.loads((ROOT / "perfbench" / "metrics.json").read_text())
        self.assertEqual(list(doc["per_layer"]),
                         [m["name"] for m in BENCH["per_layer"]])
        self.assertEqual(set(doc["workloads"]), set(WORKLOADS))

    def test_refuses_to_run_without_the_library(self):
        bare = self.tmp / "bare"
        shutil.copytree(ROOT / "perfbench", bare / "perfbench",
                        ignore=shutil.ignore_patterns("target", "__pycache__"))
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        p = run("--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1",
                "--trace", "0", cwd=bare)
        self.assertNotEqual(p.returncode, 0)
        self.assertIsNone(result(p))


if __name__ == "__main__":
    unittest.main()
