#!/usr/bin/env python3
"""The benchmark's own test. From the root of a checkout:

    python3 perfbench/test_perfbench.py

It runs every workload briefly: once untraced and twice traced at one seed.
It checks that every metric BENCHMARK.json declares is printed with its unit,
that answers are right, that the exact counts repeat across the two traced
runs, that each run keeps its own record, and that the benchmark fails
without printing a result when the program's sources are absent.
Takes about eight minutes on 4 cores.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

ROOT = os.getcwd()
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
SECONDS = "2"
SEED = "7"
# counts that do not depend on timing, so they must repeat exactly
EXACT = {
    "ingest": ["block.samples_read", "shard.bytes_per_sample", "shard.bytes_written",
               "spark.jobs_per_op", "dedup.recall"],
    "dashboard": ["shard.bytes_per_sample"],
    "corpus_dedup": ["dedup.recall", "spark.jobs_per_op"],
}


def bench(workload, trace, cwd=ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", SEED,
         "--seconds", SECONDS, "--trace", trace],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=1200)


RECORD = "perfbench: run record in "
records = []


def result(r):
    assert r.returncode == 0, r.stderr[-3000:]
    records.extend(l[len(RECORD):] for l in r.stderr.splitlines() if l.startswith(RECORD))
    return json.loads(r.stdout.strip().splitlines()[-1])


class PerfbenchTest(unittest.TestCase):
    runs = {}

    @classmethod
    def setUpClass(cls):
        # corpus_dedup is runnable but not declared; it is tested too
        for name in [w["name"] for w in SPEC["workloads"]] + ["corpus_dedup"]:
            cls.runs[name] = [result(bench(name, "0")),
                              result(bench(name, "1")), result(bench(name, "1"))]

    def test_every_declared_metric_is_printed_with_its_unit(self):
        for name, (plain, traced, _) in self.runs.items():
            for kind, res in (("end_to_end", plain), ("per_layer", traced)):
                want = {m["name"]: m["unit"] for m in SPEC[kind]}
                got = {k: v["unit"] for k, v in res["metrics"].items()}
                self.assertEqual(got, want, f"{name} {kind}")
                for k, v in res["metrics"].items():
                    self.assertIsInstance(v["value"], (int, float), f"{name} {k}")

    def test_answers_are_right(self):
        for name, rs in self.runs.items():
            for res in rs:
                self.assertTrue(res["correct"], name)
                self.assertEqual(res["failed"], 0, name)
                self.assertGreaterEqual(res["attempted"], 1, name)

    def test_ingest_trace_measures_the_dedup_layer(self):
        traced = self.runs["ingest"][1]["metrics"]
        for k in ("dedup.candidates_s", "dedup.candidates", "dedup.verified_pairs",
                  "dedup.cluster_s", "dedup.recall"):
            self.assertGreater(traced[k]["value"], 0, k)

    def test_end_to_end_metrics_are_never_zero(self):
        for name, (plain, _, _) in self.runs.items():
            for k, v in plain["metrics"].items():
                self.assertGreater(v["value"], 0, f"{name} {k}")

    def test_exact_counts_repeat_at_one_seed(self):
        for name, (_, a, b) in self.runs.items():
            for k in EXACT[name]:
                va, vb = a["metrics"][k]["value"], b["metrics"][k]["value"]
                self.assertGreater(va, 0, f"{name} {k}")
                self.assertEqual(va, vb, f"{name} {k}")

    def test_each_run_keeps_its_own_record(self):
        self.assertEqual(len(records), 3 * len(self.runs))
        self.assertEqual(len(set(records)), len(records))
        for d in records:
            self.assertTrue(os.path.exists(os.path.join(d, "result.json")), d)

    def test_fails_without_program_sources(self):
        build = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
        os.makedirs(build, exist_ok=True)
        bare = tempfile.mkdtemp(dir=build)
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            for p in SPEC["paths"]:
                shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                                ignore=shutil.ignore_patterns("__pycache__"))
            r = bench("ingest", "0", cwd=bare)
            self.assertNotEqual(r.returncode, 0)
            self.assertEqual(r.stdout.strip(), "")
        finally:
            shutil.rmtree(bare)


if __name__ == "__main__":
    unittest.main(verbosity=2)
