#!/usr/bin/env python3
"""The benchmark's correctness gate is not vacuous.

    python3 perfbench/test_gate.py

Runs `run.py --gate-selftest`: the gate must pass a real Checkpoint.run
and reject the same output against a copy of the truth table in which one
url's text was altered.
"""
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))


class GateTest(unittest.TestCase):
    def test_gate_rejects_altered_truth(self):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--gate-selftest"],
                           capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stdout[-3000:] + p.stderr[-3000:])
        self.assertIn("gate on the real truth: pass", p.stdout)
        self.assertIn("docs rows differ from the truth text", p.stdout)
        self.assertIn("the altered truth was rejected", p.stdout)


if __name__ == "__main__":
    unittest.main()
