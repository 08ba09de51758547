#!/usr/bin/env python3
"""Benchmark of the graft engine: the hauser export -> warehouse loop over
daily bundles, and the hot operator queries.

    python3 perfbench/run.py --workload pipeline_daily --seed 1 \
        --seconds 12 --trace 0
    python3 perfbench/run.py --selftest

Run from anywhere inside a checkout of the repository. The first run builds
the engine and the benchmark into .bench_build/ (see build.py). The last
line of stdout is the result JSON; see perfbench/NOTES.md for the metrics.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ["pipeline_daily", "queries_hot"]
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="check that the gates fail on planted defects")
    ap.add_argument("--pin", action="store_true",
                    help="write the hot queries' results and oracle SQL to "
                         ".bench_build/pin and print their checksums")
    a = ap.parse_args()
    if not (a.selftest or a.pin) and a.workload is None:
        ap.error("--workload is required")
    if build.missing_tree():
        print(f"perfbench: not a graft checkout: "
              f"{os.path.relpath(build.missing_tree(), ROOT)} is missing",
              file=sys.stderr)
        return 2
    data = os.path.join(HERE, "data", "sf0.01")
    try:
        classes = build.build()
    except (subprocess.CalledProcessError, OSError) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 1

    workload = ("selftest" if a.selftest else "pin" if a.pin
                else a.workload)
    run_dir = os.path.join(build.BUILD, "runs", f"{workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    args = ["--workload", workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--root", run_dir, "--data", data]
    if a.pin:
        args += ["--out", os.path.join(build.BUILD, "pin")]
    if a.trace:
        traces = os.path.join(build.BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        args += ["--spans",
                 os.path.join(traces, f"{workload}-seed{a.seed}.jsonl")]
    cmd = (["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            f"-Dlog4j.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(
               [classes, os.path.join(build.spark_jars(), "*")]),
              "graft.perfbench.Bench"] + args)
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"perfbench: {workload} exceeded {JVM_TIMEOUT_S} s",
              file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    for ln in lines[:-1]:
        print(ln)
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if proc.returncode != 0 or not isinstance(result, dict):
        print(f"perfbench: {workload} produced no result "
              f"(exit {proc.returncode})", file=sys.stderr)
        return 1
    print(lines[-1])
    if a.selftest or a.pin:
        return 0 if result["correct"] else 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
