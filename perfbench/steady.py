#!/usr/bin/env python3
"""Steadiness tool: runs the benchmark repeatedly and reports, per workload,
the median and quartiles of every metric across seeds.

    python3 perfbench/steady.py [--runs 10] [--first-seed 1] [--workloads a,b]
                                [--trace-overhead]

Run from the repository root. A metric is flagged when its spread, the
distance between the first and third quartile as a share of the median
(`statistics.quantiles(values, n=4)`), exceeds its bound in BENCHMARK.json.
An ingest_live run is flagged when its generator ran late (p90 lateness
over 50 ms) or its live backlog grew, and any run is flagged when it
failed an operation. With --trace-overhead each seed is also run traced,
and the traced medians minus the untraced medians of the end-to-end
metrics are printed as the tracing overhead.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

LATE_LIMIT_S = 0.05


def run_once(bench, workload, seed, trace):
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", str(trace)]
    t0 = time.monotonic()
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    wall = time.monotonic() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return {"error": f"exit {p.returncode}", "wall": wall}
    result = json.loads(lines[-1])
    info = dict(m.groups() for m in (re.match(r"\[perfbench\] (\w+)=(.*)", l) for l in lines) if m)
    return {"result": result, "info": info, "wall": wall}


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3, (q3 - q1) / med if med else float("inf")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--trace-overhead", action="store_true")
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {}
    for w in names:
        runs, traced, flags = [], [], []
        for seed in range(a.first_seed, a.first_seed + a.runs):
            r = run_once(bench, w, seed, 0)
            runs.append(r)
            if "error" in r:
                flags.append(f"seed {seed}: {r['error']}")
                continue
            res, info = r["result"], r["info"]
            if not res["correct"] or res["failed"]:
                flags.append(f"seed {seed}: {res['failed']} of {res['attempted']} failed")
            if info.get("backlog_grew") == "true":
                flags.append(f"seed {seed}: live backlog grew")
            if float(info.get("gen_late_p90_s", 0)) > LATE_LIMIT_S:
                flags.append(f"seed {seed}: generator late, p90 {info['gen_late_p90_s']} s")
            print(f"{w} seed {seed}: {r['wall']:.1f} s " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
            if a.trace_overhead:
                traced.append(run_once(bench, w, seed, 1))
        ok = [r["result"]["metrics"] for r in runs if "result" in r]
        rows = {}
        print(f"== {w}: {len(ok)} runs, mean wall {statistics.mean(r['wall'] for r in runs):.1f} s")
        for m in bench["end_to_end"]:
            vals = [x[m["name"]]["value"] for x in ok if m["name"] in x]
            if len(vals) < 2:
                flags.append(f"{m['name']}: fewer than two values")
                continue
            q1, med, q3, s = spread(vals)
            rows[m["name"]] = {"median": med, "q1": q1, "q3": q3, "spread": s}
            mark = ""
            if s > bounds[m["name"]]:
                mark = "  SPREAD OVER BOUND"
                flags.append(f"{m['name']}: spread {s:.3f} over bound {bounds[m['name']]}")
            print(f"  {m['name']:<20} median {med:<12.5g} q1 {q1:<12.5g} q3 {q3:<12.5g} "
                  f"spread {s:.3f} (bound {bounds[m['name']]}, a third {bounds[m['name']] / 3:.3f}){mark}")
        if a.trace_overhead:
            tr = [r["info"] for r in traced if "result" in r]
            for k, row in rows.items():
                vals = [float(x[f"traced_{k}"]) for x in tr if f"traced_{k}" in x]
                if vals:
                    print(f"  tracing overhead {k}: {statistics.median(vals) - row['median']:+.5g} "
                          f"(traced median {statistics.median(vals):.5g}, {len(vals)} runs)")
        for f in flags:
            print(f"  FLAG {f}")
        report[w] = {"metrics": rows, "flags": flags}
    out = os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "steady.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        json.dump(report, fh, indent=1)
    sys.exit(1 if any(r["flags"] for r in report.values()) else 0)


if __name__ == "__main__":
    main()
