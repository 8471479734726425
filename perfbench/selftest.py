#!/usr/bin/env python3
"""The benchmark's self-tests: fingerprint determinism, percentiles with
their sample counts, and listener attribution of crawl executor time.

Usage: python3 perfbench/selftest.py   (exits 0 when every check passes)
"""
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402


def main():
    try:
        classes, _ = build.ensure_classes()
        n = run.nproc()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    work = os.path.join(build.BUILD, "work", f"selftest-{os.getpid()}")
    cmd = ["java"] + run.java_flags(os.path.join(work, "tmp")) + [
        "-cp", build.classpath(classes), "perfbench.Main", "selftest", "--root", build.ROOT,
        "--work", work, "--nproc", str(n), "--workload", "selftest"]
    try:
        return subprocess.run(cmd, timeout=600).returncode
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
