"""Digest rounding and order-independence, checked on a local Spark session.

Compiles the benchmark if needed (see `build.py`), then runs
`perfbench.DigestCheck`.
"""
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import build  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(HERE))


class Digest(unittest.TestCase):
    def test_digest_check(self):
        out = os.path.join(ROOT, ".bench_build")
        classes, jars = build.build(ROOT, out)
        tmp = os.path.join(out, "tmp")
        os.makedirs(tmp, exist_ok=True)
        r = subprocess.run(["java", f"-Djava.io.tmpdir={tmp}"] + build.JVM_OPTS + build.JVM_OPENS +
                           ["-cp", f"{classes}:{jars}/*", "perfbench.DigestCheck"],
                           capture_output=True, text=True, timeout=300, cwd=tmp)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr[-3000:])
        self.assertNotIn("FAIL", r.stdout)


if __name__ == "__main__":
    unittest.main()
