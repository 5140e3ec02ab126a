"""Self-tests of the benchmark. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests -v

They build the benchmark on first use (about 30 s) and run two short
workloads with a deliberately broken output check (about 2 min in all).
"""

import json
import os
import shutil
import subprocess
import sys
import unittest

ROOT = os.getcwd()
RUN = [sys.executable, os.path.join("perfbench", "run.py")]


def run(args, cwd=ROOT):
    return subprocess.run(RUN + args, cwd=cwd, capture_output=True, text=True, timeout=900)


def digests(seed):
    p = run(["--gen-digest", "--seed", str(seed), "--seconds", "10"])
    assert p.returncode == 0, p.stderr[-2000:]
    return dict(line.split() for line in p.stdout.splitlines() if line.startswith("rag_"))


class InputsTest(unittest.TestCase):
    def test_equal_seeds_give_identical_inputs(self):
        self.assertEqual(digests(7), digests(7))

    def test_different_seeds_give_different_inputs(self):
        a, b = digests(7), digests(8)
        self.assertEqual(a.keys(), b.keys())
        for workload in a:
            self.assertNotEqual(a[workload], b[workload], workload)


class BrokenCheckTest(unittest.TestCase):
    def assert_caught(self, workload, seconds):
        p = run(["--workload", workload, "--seed", "3", "--seconds", str(seconds),
                 "--trace", "0", "--inject-fault"])
        self.assertNotEqual(p.returncode, 0, p.stdout[-2000:])
        result = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertFalse(result["correct"])
        self.assertGreaterEqual(result["failed"], 1)

    def test_rag_check_failure_exits_nonzero(self):
        self.assert_caught("rag_query", 2)

    def test_suite_check_failure_exits_nonzero(self):
        self.assert_caught("analytics_suite", 10)


class BareDirectoryTest(unittest.TestCase):
    def test_fails_without_the_engine_sources(self):
        bare = os.path.join(ROOT, ".bench_build", "bare-checkout")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = run(["--workload", "rag_query", "--seed", "1", "--seconds", "10", "--trace", "0"],
                    cwd=bare)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"correct"', p.stdout)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
