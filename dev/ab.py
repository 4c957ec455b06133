#!/usr/bin/env python3
"""Same-host interleaved A/B of two graft checkouts on one benchmark workload.

    python3 dev/ab.py --base <parent checkout> --workload ingest --pairs 4
    python3 dev/ab.py --base ../parent --change . --workload sweep --pairs 10 --traced-seed 1

The base is any other checkout of the repository, for example
`git clone . /tmp/parent && git -C /tmp/parent checkout <commit>`. For each
seed 1..pairs it runs `perfbench/run.py --trace 0` once in each checkout, the
order alternating from seed to seed (odd seeds run the base first), and
prints both sides' end-to-end metrics, correctness and failures per pair,
then per metric each side's median and quartiles, the median of the
change/base ratios and how many pairs the change won. With --traced-seed it
adds one traced run per side at that seed and prints every per-layer metric
that moved. Each checkout's run.py builds and writes under that checkout's
.bench_build/; the pair records go to <change>/.bench_build/ab_<workload>.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(checkout, workload, seed, seconds, trace):
    """One perfbench run; returns its final JSON record."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if not lines or not lines[-1].startswith("{"):
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-2000:])
        sys.exit(f"ab: {checkout} {workload} seed {seed} trace {trace} printed no result")
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", default=ROOT, help="checkout of the change (default: this one)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=4)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--traced-seed", type=int, help="also compare one traced run per side")
    args = ap.parse_args()
    with open(os.path.join(args.change, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]
    better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}
    sides = {"base": os.path.abspath(args.base), "change": os.path.abspath(args.change)}

    pairs = []
    for seed in range(1, args.pairs + 1):
        order = ["base", "change"] if seed % 2 else ["change", "base"]
        rec = {side: run(sides[side], args.workload, seed, seconds, 0) for side in order}
        pairs.append({"seed": seed, "first": order[0], **rec})
        cells = []
        for name in sorted(rec["base"]["metrics"]):
            b, c = (rec[s]["metrics"][name]["value"] for s in ("base", "change"))
            cells.append(f"{name} {b:.4g} -> {c:.4g} ({c / b:.3f}x)" if b else f"{name} {b} -> {c}")
        flags = "  ".join(f"{s} correct={rec[s]['correct']} failed={rec[s]['failed']}/{rec[s]['attempted']}"
                          for s in ("base", "change"))
        print(f"seed {seed} ({order[0]} first): " + "; ".join(cells) + "  " + flags, flush=True)

    print(f"\n{args.workload}, {len(pairs)} pairs, {seconds} s runs:")
    for name in sorted(pairs[0]["base"]["metrics"]):
        vals = {s: [p[s]["metrics"][name]["value"] for p in pairs] for s in ("base", "change")}
        sign = 1 if better.get(name) == "higher" else -1
        wins = sum(1 for b, c in zip(vals["base"], vals["change"]) if sign * (c - b) > 0)
        ratio = statistics.median(c / b for b, c in zip(vals["base"], vals["change"]) if b)
        desc = "  ".join("{} median {:.4g} (q1 {:.4g}, q3 {:.4g})".format(
            s, statistics.median(v), *quartiles(v)) for s, v in vals.items())
        print(f"  {name} [{better.get(name, '?')} is better]: {desc}  "
              f"median ratio {ratio:.3f}, change won {wins} of {len(pairs)}")

    traced = None
    if args.traced_seed is not None:
        traced = {s: run(sides[s], args.workload, args.traced_seed, seconds, 1) for s in ("base", "change")}
        print(f"\ntraced seed {args.traced_seed}, per-layer metrics that moved (base -> change):")
        for name in sorted(traced["base"]["metrics"]):
            b, c = (traced[s]["metrics"][name]["value"] for s in ("base", "change"))
            if b != c:
                print(f"  {name}: {b:.6g} -> {c:.6g} (delta {c - b:+.6g}"
                      + (f", {c / b:.3f}x)" if b else ")"))

    out = os.path.join(args.change, ".bench_build", f"ab_{args.workload}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        json.dump({"workload": args.workload, "seconds": seconds, "sides": sides,
                   "pairs": pairs, "traced": traced}, fh, indent=1)
    print(f"\nrecords: {out}")


if __name__ == "__main__":
    main()
