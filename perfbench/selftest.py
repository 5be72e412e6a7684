#!/usr/bin/env python3
"""Self-tests of the graft benchmark.

    python3 perfbench/selftest.py

Builds the benchmark, then checks that generation is a function of the
seed, that each workload's answer check rejects an answer one pair or
one group off, and that the metric names and units the harness prints
are exactly the ones BENCHMARK.json declares. Exits non-zero on failure.
"""
import json
import os
import shutil
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import run  # noqa: E402


def main() -> int:
    try:
        cp = run.classpath()
    except build.BuildError as e:
        print(f"FAIL: build failed: {e}", file=sys.stderr)
        return 1
    run_dir = build.build_dir() / f"selftest-{os.getpid()}"
    try:
        code, lines = run.run_jvm("graftbench.SelfTest", [], cp, run_dir, 600)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if code != 0 or not lines:
        print(f"FAIL: self-test JVM exited {code}", file=sys.stderr)
        return 1
    printed = json.loads(lines[-1])
    ok = True
    for trace, key in ((False, "end_to_end"), (True, "per_layer")):
        if printed[key] != run.declared_metrics(trace):
            want = run.declared_metrics(trace)
            diff = sorted(set(printed[key].items()) ^ set(want.items()))
            print(f"FAIL: {key} metrics differ from BENCHMARK.json: {diff}", file=sys.stderr)
            ok = False
    print("self-tests passed" if ok else "self-tests failed")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
