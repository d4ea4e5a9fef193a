"""The benchmark's own checks, at the tiny input scale.

    python3 perfbench/test_perfbench.py

For every workload: the run is correct with no failed iteration, every
end-to-end metric prints by name with its unit, and the second warm
iteration runs exactly the jobs, tasks and shuffle bytes of the first
(iterations start from identical state). A traced run prints every
per-layer metric and writes its spans. The command refuses N > nproc,
and fails without a result where graft's sources are missing.
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
RESULTS = os.path.join(ROOT, ".bench_work", "results")
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]] + ["roster_daily"]


def run(*args, cwd=ROOT):
    return subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=900)


def result_line(proc):
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check_metrics(test, res, group):
    test.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
    test.assertTrue(res["correct"])
    test.assertEqual(res["failed"], 0)
    test.assertGreaterEqual(res["attempted"], 2)
    want = {m["name"]: m["unit"] for m in SPEC[group]}
    test.assertEqual({k: v["unit"] for k, v in res["metrics"].items()}, want)
    for m in res["metrics"].values():
        test.assertIsInstance(m["value"], (int, float))


class PerfBenchTest(unittest.TestCase):

    def test_workloads_correct_and_isolated(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                res = result_line(run("--workload", w, "--seed", "1", "--seconds", "1",
                                      "--trace", "0", "--scale", "tiny", "--min-warm", "2"))
                check_metrics(self, res, "end_to_end")
                for name in ("setup_s", "run_s", "peak_rss_mb"):
                    self.assertGreater(res["metrics"][name]["value"], 0)
                with open(os.path.join(RESULTS, f"{w}-tiny-seed1-trace0.json")) as f:
                    report = json.load(f)
                self.assertEqual(report["fail_frac"], 0)
                # the cold iteration 0 may plan differently; compare warm ones
                first, second = report["result"]["iteration_counts"][1:3]
                self.assertGreater(first["jobs"], 0)
                self.assertGreater(first["tasks"], 0)
                for k in ("jobs", "tasks", "shuffle_write_bytes", "shuffle_read_bytes"):
                    self.assertEqual(first[k], second[k], f"{w}: {k} differs between iterations")

    def test_trace_run_reports_every_layer(self):
        spans = os.path.join(RESULTS, "roster_full-tiny-seed2-trace1.spans.jsonl")
        if os.path.exists(spans):
            os.remove(spans)
        res = result_line(run("--workload", "roster_full", "--seed", "2", "--seconds", "1",
                              "--trace", "1", "--scale", "tiny"))
        check_metrics(self, res, "per_layer")
        self.assertGreater(res["metrics"]["operators.Geocode.wall_s"]["value"], 0)
        self.assertGreater(res["metrics"]["operators.Geocode.provider_calls"]["value"], 0)
        with open(spans) as f:
            names = {json.loads(line)["name"] for line in f}
        self.assertTrue({"sources", "functions", "operators.Geocode", "io"} <= names)

    def test_refuses_more_cores_than_nproc(self):
        proc = run("--workload", "roster_full", "--seed", "1", "--seconds", "1",
                   "--cores", str((os.cpu_count() or 1) + 1))
        self.assertNotEqual(proc.returncode, 0)
        self.assertEqual(proc.stdout.strip(), "")

    def test_fails_without_program_sources(self):
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_work")) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            proc = run("--workload", "roster_full", "--seed", "1", "--seconds", "1",
                       "--trace", "0", cwd=d)
            self.assertNotEqual(proc.returncode, 0)
            self.assertEqual(proc.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
