#!/usr/bin/env python3
"""graft benchmark: one seeded workload in one local Spark JVM.

    python3 perfbench/run.py --workload overlap --seed 1 --seconds 12 --trace 0

Builds the program from source (see build.py), starts a JVM running
`graftbench.Main` at local[nproc], and prints its result as the last
stdout line: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are BENCHMARK.json's `end_to_end` set, with
--trace 1 its `per_layer` set; a metric printed under a name or unit
that BENCHMARK.json does not declare, or a declared one left out, fails
the run. Everything the run writes stays under the build directory
($CARGO_TARGET_DIR, default .bench_build); the traced run's spans land
in <build>/traces/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("overlap", "curation")
HEAP = "3g"
JVM_TIMEOUT_S = 170
# Spark 4 on JDK 17 outside spark-submit needs these opens (the same list
# spark-submit injects, org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def declared_metrics(trace: bool) -> dict:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def classpath() -> str:
    """Builds the program and the harness; returns the JVM classpath."""
    classes = build.build()
    return os.pathsep.join([str(classes)] + [str(j) for j in build.spark_jars()])


def run_jvm(main: str, args: list, cp: str, run_dir: Path, timeout_s: float):
    """Runs `main` in a fresh JVM; returns (exit code, stdout lines)."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseParallelGC", *opens,
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={ROOT / 'perfbench' / 'log4j2.properties'}",
           "-cp", cp, main, *args]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return 124, []
    return proc.returncode, out.splitlines()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        cp = classpath()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    run_dir = build.build_dir() / f"run-{os.getpid()}"
    trace_dir = build.build_dir() / "traces"
    trace_dir.mkdir(parents=True, exist_ok=True)
    launch_ns = time.time_ns()
    try:
        code, lines = run_jvm("graftbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--launch-epoch-ns", str(launch_ns), "--run-dir", str(run_dir),
            "--trace-out", str(trace_dir / f"{a.workload}-seed{a.seed}.json"),
        ], cp, run_dir, JVM_TIMEOUT_S)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    result = None
    for line in lines:
        if line.startswith("{"):
            result = line
        else:
            print(line)
    if code != 0 or result is None:
        print(f"benchmark JVM failed (exit {code})", file=sys.stderr)
        return code or 1
    res = json.loads(result)
    want = declared_metrics(a.trace == 1)
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != want:
        diff = sorted(set(got.items()) ^ set(want.items()))
        print(f"printed metrics differ from BENCHMARK.json: {diff}", file=sys.stderr)
        return 1
    print(json.dumps(res, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
