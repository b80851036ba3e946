#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the benchmark
from source (perfbench/build.py), runs one workload in a fresh JVM with
Spark as local[nproc], and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end_to_end metrics of BENCHMARK.json, with --trace 1
its per_layer metrics; a traced run also writes its spans to
.bench_build/traces/. Workloads and metrics are described in
BENCHMARK.json and perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no cache files in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["serve_mix", "ingest_commits"]
# each run must end within 180 s; the JVM gets what the build left over
RUN_LIMIT_S = 170


def fail(msg):
    print(f"[perfbench] error: {msg}", file=sys.stderr)
    sys.exit(1)


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    args = ap.parse_args()

    if not os.path.isfile("BENCHMARK.json"):
        fail("BENCHMARK.json not found: run from the root of a checkout")
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    try:
        build.build()
    except Exception as e:  # noqa: BLE001 - any build failure ends the run
        fail(f"build failed: {e}")
    # the first run in a checkout may spend its time budget on the build
    budget = max(RUN_LIMIT_S - (time.time() - t_start), 120)

    root = os.getcwd()
    work = os.path.join(root, ".bench_build", "work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    trace_out = os.path.join(root, ".bench_build", "traces",
                             f"{args.workload}-seed{args.seed}.json")
    cmd = build.java_cmd(work, build.run_flag()) + [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--trace-out", trace_out]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, env=build.java_env())
    try:
        out, _ = proc.communicate(timeout=budget)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"{args.workload} did not finish within {budget:.0f} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        fail(f"{args.workload} exited with code {proc.returncode}")
    lines = out.strip().splitlines()
    if not lines:
        fail("no output")
    result = json.loads(lines[-1])
    for line in lines[:-1]:
        print(line)

    measured = result["per_layer" if args.trace else "end_to_end"]
    metrics = {}
    for m in wanted:
        name = m["name"]
        if name in measured:
            metrics[name] = {"value": measured[name]["value"], "unit": m["unit"]}
        elif args.trace:
            # a layer this workload does not drive: nothing to measure
            metrics[name] = {"value": 0, "unit": m["unit"]}
        else:
            fail(f"{args.workload} did not measure {name}")
    for name, m in metrics.items():
        print(f"[perfbench] {args.workload} {name} = {m['value']} {m['unit']}")
    print(json.dumps({"correct": result["correct"],
                      "attempted": result["attempted"],
                      "failed": result["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
