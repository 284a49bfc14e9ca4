#!/usr/bin/env python3
"""The generator's inputs are a function of (workload, seed, scale).

    python3 perfbench/test_gen.py
"""
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402


def generate(workload, seed, out):
    subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), "--workload", workload,
                    "--seed", str(seed), "--scale", "0.05", "--out", out], check=True)
    files = {}
    for d, _, fs in os.walk(out):
        for f in fs:
            with open(os.path.join(d, f), "rb") as fh:
                files[os.path.relpath(os.path.join(d, f), out)] = fh.read()
    return files


class SeededInputs(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as tmp:
            for w in gen.WORKLOADS:
                with self.subTest(workload=w):
                    a = generate(w, 7, os.path.join(tmp, w, "a"))
                    b = generate(w, 7, os.path.join(tmp, w, "b"))
                    c = generate(w, 8, os.path.join(tmp, w, "c"))
                    self.assertTrue(a)
                    self.assertEqual(a, b)
                    self.assertEqual(sorted(a), sorted(c))
                    for name in a:
                        self.assertNotEqual(a[name], c[name], name)


if __name__ == "__main__":
    unittest.main()
