#!/usr/bin/env python3
"""Record a per-layer baseline for the host this runs on.

    python3 perfbench/baseline.py --seed 1 --out perfbench/baseline/<host>.json

For each workload it makes one untraced run and one traced run with the
same seed and writes their end-to-end values, the tracing overhead
(traced minus untraced, per end-to-end metric), every per-layer metric,
and, for the sweep, the shares of the sweep's query time that went to
code generation compile and to driver-only gaps.
"""
import argparse
import json
import os
import platform
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload, seed, seconds, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=os.path.dirname(HERE), capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-2000:])
        sys.exit(f"{workload} trace={trace} failed")
    result = json.loads(lines[-1])
    return result, lines[:-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    cpu = next((l.split(":", 1)[1].strip() for l in open("/proc/cpuinfo") if l.startswith("model name")), "")
    record = {
        "host": {"cpus": os.cpu_count(), "cpu": cpu, "machine": platform.machine(),
                 "mem_gb": round(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30, 1)},
        "seed": args.seed, "seconds": bench["run_seconds"], "workloads": {},
    }
    for w in (x["name"] for x in bench["workloads"]):
        plain, report = run(w, args.seed, bench["run_seconds"], 0)
        traced, _ = run(w, args.seed, bench["run_seconds"], 1)
        e2e = {k: v["value"] for k, v in plain["metrics"].items()}
        layers = {k: v["value"] for k, v in traced["metrics"].items()}
        entry = {
            "report": report,
            "end_to_end": e2e,
            "traced_end_to_end": {k: layers[f"traced.{k}"] for k in e2e},
            "tracing_overhead": {k: layers[f"traced.{k}"] - e2e[k] for k in e2e},
            "per_layer": {k: v for k, v in layers.items() if not k.startswith("traced.")},
            "units": {k: v["unit"] for k, v in traced["metrics"].items()},
        }
        if w == "sweep":
            query_s = layers["queries.construct_s"] + layers["queries.action_s"]
            entry["shares_of_query_time"] = {
                "spark.compile_s": layers["spark.compile_s"] / query_s,
                "spark.driver_gap_s": layers["spark.driver_gap_s"] / query_s,
            }
        record["workloads"][w] = entry
        print(w, json.dumps(entry["tracing_overhead"]), flush=True)
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump(record, fh, indent=2)
        fh.write("\n")


if __name__ == "__main__":
    main()
