#!/usr/bin/env python3
"""Run the benchmark on several seeds and report, per end-to-end metric,
the median and the interquartile spread as a share of the median next to
the metric's bound in BENCHMARK.json.

    python3 perfbench/steadiness.py --runs 10 [--workload NAME ...] [--first-seed 1]

Run from the root of a checkout. Each run's result line is appended to
.bench_build/perfbench/steadiness.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    log = os.path.join(".bench_build", "perfbench", "steadiness.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    bad = 0
    for w in workloads:
        values = {m["name"]: [] for m in spec["end_to_end"]}
        for seed in range(a.first_seed, a.first_seed + a.runs):
            t0 = time.time()
            out = subprocess.run(spec["command"] + ["--workload", w, "--seed", str(seed),
                                 "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                                 stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            lines = out.stdout.strip().splitlines()
            if out.returncode != 0 or not lines:
                print(f"{w} seed {seed}: exit {out.returncode}", file=sys.stderr)
                bad += 1
                continue
            r = json.loads(lines[-1])
            with open(log, "a") as fh:
                fh.write(json.dumps({"workload": w, "seed": seed, "wall_s": time.time() - t0,
                                     "result": r}) + "\n")
            if not r["correct"] or r["failed"]:
                bad += 1
            for k in values:
                values[k].append(r["metrics"][k]["value"])
            print(f"{w} seed {seed}: {time.time() - t0:.0f}s correct={r['correct']} " +
                  " ".join(f"{k}={v[-1]:.4g}" for k, v in values.items() if v), flush=True)
        for m in spec["end_to_end"]:
            v = values[m["name"]]
            if len(v) < 2:
                continue
            q1, _, q3 = statistics.quantiles(v, n=4)
            med = statistics.median(v)
            spread = (q3 - q1) / med
            flag = "" if spread <= m["bound"] / 3 else "  <-- above a third of the bound"
            print(f"{w:20s} {m['name']:14s} median {med:.4g} spread {spread:.3f} "
                  f"bound {m['bound']}{flag}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
