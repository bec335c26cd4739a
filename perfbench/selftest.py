#!/usr/bin/env python3
"""The benchmark's own test (perfbench.SelfTest): the output checks pass
clean output, and catch one planted wrong row in an ingest sink and one
planted wrong count in the ops_inventory expectations.

Usage: python3 perfbench/selftest.py   (from the repository root)
Exits 0 when every case holds.
"""
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402


def main():
    root = os.getcwd()
    classes, jars = build.build(root)
    work = os.path.join(root, build.OUT, "work", f"selftest-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = run.java_cmd(classes, jars, work, "perfbench.SelfTest", [
        os.path.join(work, "run"), os.path.join(root, "perfbench", "expected_counts.tsv"),
        str(run.CPUS)])
    proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
                            text=True)
    try:
        _, err = proc.communicate(timeout=600)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(f"/tmp/graft_run_{proc.pid}", ignore_errors=True)
    lines = err.splitlines()
    for line in lines:
        if line.startswith("[selftest]"):
            print(line)
    if proc.returncode != 0:
        print("\n".join(lines[-40:]))
    print("PASS" if proc.returncode == 0 else "FAIL")
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
