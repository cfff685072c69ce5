#!/usr/bin/env python3
"""The benchmark's own tests. Run from the root of a checkout:

    python3 perfbench/selftest.py

Checks the failure accounting here, then runs perfbench.SelfTest in a
JVM on the bundled sf0.01 testdata: span self-time arithmetic, the seeded
replica construction, a throwing op counted as failed and not as fast,
and per-layer job, scan and exchange counts repeating across two traced
passes.
"""
import os
import shutil
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def test_count_failures():
    ops = [{"query": "a", "attempted": 3, "failed": 1},
           {"query": "b", "attempted": 3, "failed": 0}]
    assert run.count_failures(ops, {"a": None, "b": None}) == (6, 1)
    # an oracle mismatch fails every execution of that op
    assert run.count_failures(ops, {"a": None, "b": "oracle: mismatch"}) == (6, 4)


def main():
    test_count_failures()
    print("PASS  failure accounting")
    classes = run.build()
    work = os.path.join(run.STATE_DIR, f"selftest-{os.getpid()}")
    os.makedirs(work)
    log = os.path.join(work, "selftest.log")
    try:
        code = run.run_jvm(classes, "perfbench.SelfTest", [os.path.join(run.DATA_DIR, "sf0.01")],
                           work, log)
        with open(log) as f:
            lines = f.readlines()
        sys.stdout.write("".join(l for l in lines if l.startswith(("PASS", "FAIL"))))
        if code != 0:
            sys.stderr.write("".join([l for l in lines if " INFO " not in l][-40:]))
            sys.exit(1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
