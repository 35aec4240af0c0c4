"""Tests of the benchmark's input generators and of its output checks.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The tiny-size runs compile the engine on first use and start Spark, so the
suite takes about a minute.
"""
import hashlib
import json
import os
import subprocess
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402


def digest_tree(root):
    h = hashlib.sha256()
    for d, dirs, fs in sorted(os.walk(root)):
        dirs.sort()
        for f in sorted(fs):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def generate(root, seed):
    counts = {
        "bronze": gen.bronze(os.path.join(root, "bronze"), seed, 3, 500),
        "cdc": gen.cdc(os.path.join(root, "stream"), seed, 4, 50),
        "docs": gen.documents(os.path.join(root, "stream"), seed, 4, 20, 40),
    }
    return digest_tree(root), counts


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_and_counts(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            self.assertEqual(generate(a, 7), generate(b, 7))

    def test_other_seed_other_data(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            (da, ca), (db, cb) = generate(a, 7), generate(b, 8)
            self.assertNotEqual(da, db)
            self.assertNotEqual(ca["cdc"], cb["cdc"])

    def test_injected_defects_present(self):
        with tempfile.TemporaryDirectory() as a:
            hours = gen.bronze(a, 3, 2, 2000)
            for h in hours:
                self.assertGreater(h["lines"], h["distinct"] + h["malformed"])
                self.assertGreater(h["malformed"], 0)
                self.assertGreater(h["out_of_range"], 0)


class TinyRunTest(unittest.TestCase):
    def run_tiny(self, workload):
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", "5", "--seconds", "1", "--trace", "0", "--scale", "tiny"],
            cwd=os.path.dirname(HERE), stdout=subprocess.PIPE, text=True, timeout=600)
        self.assertEqual(r.returncode, 0, r.stdout[-2000:])
        result = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertTrue(result["correct"], r.stdout[-2000:])
        self.assertEqual(result["failed"], 0)
        self.assertGreater(result["attempted"], 0)

    def test_hourly_etl_tiny_passes_its_checks(self):
        self.run_tiny("hourly_etl")

    def test_stream_gates_tiny_passes_its_checks(self):
        self.run_tiny("stream_gates")


if __name__ == "__main__":
    unittest.main()
