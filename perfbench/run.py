#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine and the harness from
source (see build.py), generates the workload's inputs from the seed,
runs the workload in one JVM at local[nproc], checks the outputs, and
prints one JSON line last: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (see BENCHMARK.json and perfbench/README.md).
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

WORKLOADS = ("ingest_live", "faces_mix")
FACE_SCALE = 0.01     # sf of the tables faces_mix runs on
JVM_TIMEOUT_S = 150
ORACLE_TIMEOUT_S = 20


def heap():
    """Half the machine's memory in GiB, clamped to [2, 8]."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    try:
        classpath, jvm_opts = build.build(root)
    except build.BuildError as e:
        sys.exit(f"[perfbench] {e}")

    work = os.path.join(build.build_dir(root), "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        result = run(a, classpath, jvm_opts, work)
    finally:
        if a.trace:
            trace = os.path.join(work, "trace.jsonl")
            if os.path.exists(trace):
                dest = os.path.join(build.build_dir(root), "traces")
                os.makedirs(dest, exist_ok=True)
                shutil.copy(trace, os.path.join(dest, f"{a.workload}-{a.seed}.jsonl"))
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


def run(a, classpath, jvm_opts, work):
    extra = []
    gen_s = 0.0
    data = os.path.join(work, "data")
    if a.workload == "faces_mix":
        import tablegen
        t0 = time.monotonic()
        tablegen.generate(data, FACE_SCALE, a.seed)
        gen_s = time.monotonic() - t0
        extra = ["--data", data]
    cmd = (["java", f"-Xmx{heap()}", f"-Djava.io.tmpdir={work}/tmp", "-Xlog:disable",
            "-Xlog:all=warning:stderr", "-cp", classpath] + jvm_opts + build.add_opens()
           + ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
              "--gen-s", repr(gen_s)] + extra)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, 9)
        proc.wait()
        sys.exit(f"[perfbench] the benchmark JVM ran past {JVM_TIMEOUT_S} s")
    sys.stdout.write(out)
    if proc.returncode != 0:
        sys.exit(f"[perfbench] the benchmark JVM exited with {proc.returncode}")
    with open(os.path.join(work, "result.json")) as fh:
        r = json.load(fh)
    failed = r["failed"]
    if a.workload == "faces_mix":
        # the repository's DuckDB oracle gate, on the faces the JVM wrote
        t0 = time.monotonic()
        p = subprocess.run([sys.executable, os.path.join("tools", "compare.py"), data,
                            os.path.join(work, "out")], stdout=subprocess.PIPE, text=True,
                           timeout=ORACLE_TIMEOUT_S)
        mismatches = [line for line in p.stdout.splitlines() if line.startswith("FAIL ")]
        for line in mismatches:
            print(f"[perfbench] oracle {line}")
        if p.returncode not in (0, 1) or (p.returncode == 1) != bool(mismatches):
            sys.exit(f"[perfbench] tools/compare.py exited with {p.returncode}")
        print(f"[perfbench] oracle_s={time.monotonic() - t0:.3f} mismatches={len(mismatches)}")
        failed += len(mismatches)
    return {"correct": failed == 0, "attempted": r["attempted"], "failed": failed,
            "metrics": r["metrics"]}


if __name__ == "__main__":
    main()
