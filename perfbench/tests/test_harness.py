"""Runs the Scala self-test of the harness (perfbench.SelfTest): failure
counting, and the span tracer crediting stage metrics by job group and
query planning to the span named by Tracer.planFor.
Builds the program and harness first if needed (about a minute).

    python3 -m unittest discover -s perfbench/tests
"""

import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import build  # noqa: E402
import run  # noqa: E402


class HarnessSelfTest(unittest.TestCase):
    def test_scala_self_test(self):
        classes = build.ensure_built()
        os.makedirs(build.BUILD_DIR, exist_ok=True)
        scratch = tempfile.mkdtemp(prefix="selftest-", dir=build.BUILD_DIR)
        try:
            os.makedirs(os.path.join(scratch, "tmp"))
            cmd = run.jvm_command(classes, build.spark_jars(), scratch,
                                  "perfbench.SelfTest", [scratch])
            p = subprocess.run(cmd, capture_output=True, text=True, timeout=300,
                               env=run.child_env())
            self.assertEqual(p.returncode, 0, p.stdout + p.stderr[-3000:])
            self.assertIn("SELFTEST OK", p.stdout)
        finally:
            shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
