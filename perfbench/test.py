#!/usr/bin/env python3
"""Tests of the benchmark itself: the percentile rule, span self times,
the Zipfian key chooser and generator determinism (same seed, byte-identical wire log; another
seed, another one).

    python3 perfbench/test.py

Run from the root of an engine checkout; exits nonzero on any failure.
"""
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True  # keep the benchmark's directory source-only
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402


def main():
    root = os.getcwd()
    classes = build.ensure_built(root)
    work = os.path.join(root, build.BUILD_DIR, "selftest-%d" % os.getpid())
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    try:
        os.makedirs(work, exist_ok=True)
        cmd = build.java_cmd(root, classes, "graft.perfbench.SelfTest", [work], work)
        log = os.path.join(root, build.BUILD_DIR, "selftest.log")
        with open(log, "w") as err:
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, env=env,
                               timeout=170)
        sys.stdout.write(r.stdout.decode(errors="replace"))
        if r.returncode != 0:
            with open(log) as f:
                sys.stderr.write("".join(l for l in f if "FAIL" in l or "Exception" in l))
        return r.returncode
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
