"""Runs one workload of the benchmark and prints its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test
    python3 perfbench/run.py --record      # re-record perfbench/fingerprints.tsv

Run from the root of a checkout. Builds the program first when its
sources changed (see build.py), then runs the workload in one JVM on
local[nproc]. The build is not part of any measurement: the set-up
clock starts just before the JVM is launched. The last line of standard
output is the result object: {"correct", "attempted", "failed",
"metrics"}. Everything else goes to standard error. Work files live
under .bench_build/work and are removed afterwards; a traced run keeps
its spans in .bench_build/traces.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ["ingest_files", "queries_warm"]
TIMEOUT_S = 170


def java(work, main, args, clock=False):
    """Runs `main` in a JVM. With `clock`, passes it --t0-ns, the epoch
    time in nanoseconds just before the JVM is launched: the start of
    set-up."""
    if clock:
        args = args + ["--t0-ns", str(time.time_ns())]
    cmd = build.java_command(work, main, args)
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr)
    try:
        return proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"run: {main} did not finish within {TIMEOUT_S} s")


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int)
    p.add_argument("--seconds", type=float)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--self-test", action="store_true")
    p.add_argument("--record", action="store_true")
    a = p.parse_args()
    if not (a.self_test or a.record) and (a.workload is None or a.seed is None or a.seconds is None):
        p.error("--workload, --seed and --seconds are required")

    build.build()
    name = "selftest" if a.self_test else "record" if a.record else f"{a.workload}-{a.seed}"
    work = os.path.join(build.BUILD, "work", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    fingerprints = os.path.join(HERE, "fingerprints.tsv")
    try:
        if a.self_test:
            raise SystemExit(java(work, "perfbench.SelfTest", [work]))
        if a.record:
            raise SystemExit(java(work, "perfbench.Main",
                                  ["--work", work, "--record", fingerprints]))
        result = os.path.join(work, "result.json")
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work, "--result", result,
                "--fingerprints", fingerprints]
        if a.trace:
            traces = os.path.join(build.BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            args += ["--spans", os.path.join(traces, f"{a.workload}-seed{a.seed}.spans.jsonl")]
        code = java(work, "perfbench.Main", args, clock=True)
        if code != 0 or not os.path.exists(result):
            raise SystemExit(f"run: workload {a.workload} exited with code {code}")
        with open(result) as fh:
            out = json.load(fh)
        print(json.dumps(out, separators=(",", ":")))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
