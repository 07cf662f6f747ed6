#!/usr/bin/env python3
"""Run the benchmark several times with different seeds and report, per
end-to-end metric, the median and the spread: the distance between the
first and third quartile as a share of the median (statistics.quantiles,
n=4), next to a third of the metric's bound from BENCHMARK.json.

    python3 perfbench/spread.py --workload search_warm --runs 10 [--seed0 1]

Each run's result line, with the run's info and wall time, is appended to
.bench_build/perfbench/spread/<workload>.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    out_dir = os.path.join(ROOT, ".bench_build", "perfbench", "spread")
    os.makedirs(out_dir, exist_ok=True)
    log = os.path.join(out_dir, f"{a.workload}.jsonl")
    values = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in range(a.seed0, a.seed0 + a.runs):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        if p.returncode != 0:
            sys.exit(f"seed {seed}: exit {p.returncode}")
        line = json.loads(p.stdout.strip().splitlines()[-1])
        record = json.load(open(os.path.join(out_dir, "..", "out", f"{a.workload}-trace0.json")))
        with open(log, "a") as f:
            f.write(json.dumps(dict(line, seed=seed, info=record["info"], wall_s=record["wall_s"])) + "\n")
        print(f"seed {seed}: correct={line['correct']} failed={line['failed']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in line["metrics"].items()), flush=True)
        for k, v in line["metrics"].items():
            values[k].append(v["value"])
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        print(f"{m['name']:>20}: median {statistics.median(xs):.4g}  spread {(q3 - q1) / statistics.median(xs):.3f}"
              f"  (third of bound {m['bound'] / 3:.3f})")


if __name__ == "__main__":
    main()
