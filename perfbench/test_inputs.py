#!/usr/bin/env python3
"""Input-generator determinism test: for every workload, the same seed
writes byte-identical input files and a different seed writes different
ones. Also checks that the metric names in BENCHMARK.json are the ones
the benchmark prints.

    python3 perfbench/test_inputs.py
"""

import filecmp
import json
import os
import shutil
import subprocess
import unittest

import build
import run

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def java(*args):
    tmp = os.path.join(build.out_dir(), "test_inputs", "tmp")
    os.makedirs(tmp, exist_ok=True)
    return ["java", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
            "-cp", os.pathsep.join([build.build(), build.spark_jars() + "/*"]),
            "graft.perfbench.Main", *args]


def generate(workload, seed, dest):
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    cmd = java("--workload", workload, "--seed", str(seed), "--generate-only", dest)
    subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL, timeout=300)
    files = {}
    for d, _, names in os.walk(dest):
        for n in names:
            p = os.path.join(d, n)
            files[os.path.relpath(p, dest)] = p
    return files


class InputDeterminism(unittest.TestCase):
    def check(self, workload):
        base = os.path.join(build.out_dir(), "test_inputs", workload)
        a = generate(workload, 1, os.path.join(base, "a"))
        b = generate(workload, 1, os.path.join(base, "b"))
        c = generate(workload, 2, os.path.join(base, "c"))
        try:
            self.assertTrue(a, "no input files written")
            self.assertEqual(sorted(a), sorted(b))
            for rel in a:
                self.assertTrue(filecmp.cmp(a[rel], b[rel], shallow=False), f"{rel} differs for one seed")
            self.assertEqual(sorted(a), sorted(c))
            self.assertTrue(any(not filecmp.cmp(a[rel], c[rel], shallow=False) for rel in a),
                            "seeds 1 and 2 wrote identical inputs")
        finally:
            shutil.rmtree(os.path.dirname(base), ignore_errors=True)

    def test_ingest(self):
        self.check("ingest")

    def test_upsert_small(self):
        self.check("upsert_small")


class MetricNames(unittest.TestCase):
    def test_benchmark_json_matches_printed_metrics(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        printed = json.loads(subprocess.run(java("--list-metrics"), check=True,
                                            stdout=subprocess.PIPE, text=True, timeout=120).stdout)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))
        for kind in ("end_to_end", "per_layer"):
            self.assertEqual([(m["name"], m["unit"]) for m in spec[kind]],
                             [(m["name"], m["unit"]) for m in printed[kind]])


if __name__ == "__main__":
    unittest.main()
