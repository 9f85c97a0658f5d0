"""Checks that the benchmark's input generators are deterministic in their
seed: the same seed gives byte-identical files, another seed different
ones. Run from the repository root:

    python3 perfbench/test_inputs.py
"""
import os
import subprocess
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402


class SeededInputs(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        cmd = build.java_command(build.build(), "perfbench.InputCheck",
                                 [os.path.join(build.OUT, f"check-{os.getpid()}")])
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                           timeout=300)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr[-3000:])


if __name__ == "__main__":
    unittest.main()
