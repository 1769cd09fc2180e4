#!/usr/bin/env python3
"""The benchmark's generators are deterministic: one seed gives byte-identical
inputs, another seed gives different ones.

    python3 perfbench/test_generators.py

Runs `perfbench/run.py --selftest`, which builds the benchmark if needed and
then, for every workload's generator, writes its inputs twice with one seed
and once with the next seed and compares content digests.
"""
import json
import os
import subprocess
import sys
import unittest

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


class GeneratorsAreDeterministic(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        p = subprocess.run([sys.executable, RUN, "--selftest", "--seed", "20"],
                           capture_output=True, text=True, timeout=1200)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        res = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(sorted(res), ["etl_flow", "olap_mix", "state_mix"])
        for name, r in res.items():
            self.assertTrue(r["same_seed_identical"], f"{name}: one seed gave different bytes")
            self.assertTrue(r["other_seed_differs"], f"{name}: two seeds gave the same bytes")


if __name__ == "__main__":
    unittest.main()
