#!/usr/bin/env python3
"""Check that the benchmark is steady: run each workload on several
seeds and report, per end-to-end metric, the median and the spread
(distance between the first and third quartile, as a share of the
median), next to a third of the metric's bound from BENCHMARK.json.

Usage (from the repository root):
  python3 perfbench/steady.py [--seeds 10] [--first-seed 100] [workload ...]

Each run's result line is appended to .bench_out/steady.jsonl.
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
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    ap.add_argument("workloads", nargs="*")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    workloads = a.workloads or [w["name"] for w in bench["workloads"]]
    os.makedirs(".bench_out", exist_ok=True)
    ok = True
    for w in workloads:
        values = {}
        for seed in range(a.first_seed, a.first_seed + a.seeds):
            t = time.time()
            p = subprocess.run(
                [*bench["command"], "--workload", w, "--seed", str(seed),
                 "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                capture_output=True, text=True)
            line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
            with open(os.path.join(".bench_out", "steady.jsonl"), "a") as f:
                f.write(json.dumps({"workload": w, "seed": seed, "rc": p.returncode,
                                    "wall_s": round(time.time() - t, 1), "result": line}) + "\n")
            if p.returncode != 0:
                print(f"{w} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
                ok = False
                continue
            for k, v in json.loads(line)["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{w} seed {seed}: {time.time() - t:.0f} s", file=sys.stderr)
        for m in bench["end_to_end"]:
            xs = values.get(m["name"], [])
            if len(xs) < 2:
                continue
            q1, _, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / statistics.median(xs)
            steady = spread < m["bound"] / 3
            ok &= steady or m["name"] == "setup_s"
            print(f"{w:14s} {m['name']:14s} median {statistics.median(xs):12.4f} "
                  f"spread {spread:.4f} (limit {m['bound'] / 3:.4f}) "
                  f"{'ok' if steady else 'WIDE'}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
