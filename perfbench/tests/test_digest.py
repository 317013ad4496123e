"""Runs the JVM-side digest and endpoint checks (perfbench.DigestCheck).

    python3 -m unittest discover -s perfbench/tests   # from a checkout root

Compiles the benchmark first if needed (about half a minute).
"""
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, ".."))
import build  # noqa: E402
import run  # noqa: E402

ROOT = os.path.abspath(os.path.join(HERE, "..", ".."))


class DigestCheck(unittest.TestCase):
    def test_jvm_digest_checks_pass(self):
        cwd = os.getcwd()
        os.chdir(ROOT)  # the build reads the checkout's sources and build.sbt
        try:
            cp = build.classpath(build.build())
        finally:
            os.chdir(cwd)
        tmp = os.path.join(ROOT, build.OUT, "tmp-test")
        os.makedirs(tmp, exist_ok=True)
        cmd = ["java", "-Xmx1g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
        for o in run.JDK17_OPENS:
            cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
        cmd += ["-cp", cp, "perfbench.DigestCheck"]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                           text=True, timeout=300)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr[-3000:])
        self.assertIn("landed observation digest equals the batch decode's", r.stdout)


if __name__ == "__main__":
    unittest.main()
