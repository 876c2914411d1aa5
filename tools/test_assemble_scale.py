"""The assembler reproduces the committed scale curves from their raws.

Run: python3 -m unittest discover tools
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPT = os.path.join(ROOT, "tools", "assemble_scale.py")


class AssembleScaleTest(unittest.TestCase):
    def test_rounds_15_to_18_match_committed(self):
        for rnd in (15, 16, 17, 18):
            with self.subTest(round=rnd), tempfile.TemporaryDirectory() as tmp:
                out = os.path.join(tmp, "scale.json")
                subprocess.run([sys.executable, SCRIPT, str(rnd), out],
                               check=True, capture_output=True)
                with open(out) as f:
                    got = json.load(f)
                with open(os.path.join(ROOT, f"BENCH_r{rnd}_scale.json")) as f:
                    want = json.load(f)
                got.pop("description")
                want.pop("description")
                self.assertEqual(got, want)

    def test_missing_required_point_fails(self):
        with tempfile.TemporaryDirectory() as tmp:
            res = subprocess.run([sys.executable, SCRIPT, "999",
                                  os.path.join(tmp, "scale.json")],
                                 capture_output=True, text=True)
            self.assertNotEqual(res.returncode, 0)
            self.assertIn("required bench points missing", res.stderr)


if __name__ == "__main__":
    unittest.main()
