"""End-to-end check that a wrong result is reported as FAIL, never a time.

    python3 -m unittest discover -s perfbench -p 'test_e2e.py'

Builds the program and runs one short crawl-full with one expected text
corrupted (about a minute on 4 cores). Run from the repository root.
"""

import json
import os
import subprocess
import sys
import unittest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


class InjectedWrongTextTest(unittest.TestCase):
    def test_every_rep_fails(self):
        r = subprocess.run(
            [sys.executable, os.path.join(BENCH_DIR, "run.py"),
             "--workload", "crawl-full", "--seed", "3", "--seconds", "1",
             "--trace", "0", "--inject-wrong-text"],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        lines = r.stdout.strip().splitlines()
        reps = [l for l in lines if l.startswith("rep ")]
        self.assertTrue(reps, r.stdout + r.stderr)
        for line in reps:
            self.assertIn("FAIL", line)
            self.assertIn("fullExpectedText", line)
            self.assertNotIn("docs/s", line)
        # no rep passed, so there is no warmup_s: no result and a non-zero exit
        self.assertNotEqual(r.returncode, 0)
        with self.assertRaises(ValueError):
            json.loads(lines[-1])


if __name__ == "__main__":
    unittest.main()
