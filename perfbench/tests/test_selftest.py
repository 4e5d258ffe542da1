"""The Spark-side self tests: generator determinism per seed, Derby inputs
equal to the parquet inputs, and the output check catching a corrupted
destination value and a dropped delta row. Builds the program on first use.

    python3 -m unittest discover -s perfbench/tests     # from the repository root
"""

import os
import subprocess
import sys
import unittest

RUN = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "run.py")


class SelfTest(unittest.TestCase):
    def test_selftest_cases_pass(self):
        p = subprocess.run([sys.executable, RUN, "--selftest"], capture_output=True,
                           text=True, timeout=900)
        lines = p.stdout.split("\n")
        for case in ("same_seed_same_bytes", "other_seed_other_bytes", "derby_matches_parquet",
                     "cycle_rows_match_generator", "check_passes_after_sync",
                     "check_catches_corrupted_value", "check_catches_dropped_delta_row"):
            self.assertIn("PASS " + case, lines, p.stdout + p.stderr[-2000:])
        self.assertEqual(p.returncode, 0)


if __name__ == "__main__":
    unittest.main()
