"""Seed handling of the benchmark.

    python3 -m unittest perfbench/test_seed.py      (from the repository root)

Each case starts the benchmark in --gen-only mode, which builds the program if
needed, wipes the work directory, generates one workload's inputs from the
seed and prints digests of the generated files and of the op sequence.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "work")


def generate(workload, seed):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--gen-only",
                        "--workload", workload, "--seed", str(seed)],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"gen-only run failed: {p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


class SeedTest(unittest.TestCase):

    def test_same_seed_same_inputs_and_ops(self):
        for workload in ("relational", "corpus_batch"):
            with self.subTest(workload=workload):
                a = generate(workload, 7)
                b = generate(workload, 7)
                self.assertEqual(a["inputs"], b["inputs"])
                self.assertEqual(a["ops"], b["ops"])
                self.assertEqual(a["rows"], b["rows"])

    def test_other_seed_other_inputs_and_ops(self):
        for workload in ("relational", "corpus_batch"):
            with self.subTest(workload=workload):
                a = generate(workload, 7)
                b = generate(workload, 8)
                self.assertNotEqual(a["inputs"], b["inputs"])
                self.assertNotEqual(a["ops"], b["ops"])
                self.assertEqual(a["rows"], b["rows"])

    def test_leftovers_are_removed_before_a_run(self):
        stale = os.path.join(WORK, "ann_index", "stale")
        os.makedirs(stale, exist_ok=True)
        open(os.path.join(stale, "part-0.parquet"), "w").close()
        generate("relational", 7)
        self.assertFalse(os.path.exists(stale))
        self.assertFalse(os.path.exists(os.path.join(WORK, "ann_index")))


if __name__ == "__main__":
    unittest.main()
