#!/usr/bin/env python3
"""The benchmark's own test.

    python3 perfbench/test_bench.py

Runs the checker self-test (each checker accepts the right answer and
rejects a planted wrong one), then every workload of BENCHMARK.json at a
tiny size, untraced and traced, and fails if a run is incorrect, fails
other than its retried ingest cycle, or prints metric names or units that
differ from BENCHMARK.json.
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True
import run  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
# operations a workload may fail: the retried ingest cycle fails today
# (see README), and stops failing once the prices append is idempotent
MAX_FAILED = {"ingest_cycles": 1, "corpus_dedup_search": 0}


def result(workload, trace):
    p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                        "--seed", "3", "--trace", str(trace), "--size", "tiny"],
                       capture_output=True, text=True, cwd=ROOT)
    assert p.returncode == 0, f"{workload} trace={trace} exited {p.returncode}: {p.stderr[-3000:]}"
    return json.loads(p.stdout.strip().splitlines()[-1])


class BenchTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.classpath = run.build(run.spark_jars())

    def test_checkers(self):
        p = subprocess.run(["java", "-XX:-UsePerfData", "-cp", self.classpath, "graftbench.SelfTest"],
                           capture_output=True, text=True)
        self.assertEqual(p.returncode, 0, p.stdout + p.stderr[-2000:])

    def test_workloads_print_the_declared_metrics(self):
        self.assertEqual(sorted(w["name"] for w in SPEC["workloads"]), sorted(MAX_FAILED))
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            want = {m["name"]: m["unit"] for m in SPEC[key]}
            for w in SPEC["workloads"]:
                with self.subTest(workload=w["name"], trace=trace):
                    r = result(w["name"], trace)
                    self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
                    self.assertTrue(r["correct"])
                    self.assertGreaterEqual(r["attempted"], 1)
                    self.assertLessEqual(r["failed"], MAX_FAILED[w["name"]])
                    self.assertEqual({k: v["unit"] for k, v in r["metrics"].items()}, want)
                    if trace == 0:
                        self.assertTrue(all(v["value"] > 0 for v in r["metrics"].values()))


if __name__ == "__main__":
    unittest.main()
