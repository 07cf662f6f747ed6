#!/usr/bin/env python3
"""Self-check of the benchmark harness at smoke size.

    python3 perfbench/tests/smoke_test.py

For every workload it runs perfbench/run.py at smoke size, untraced and
traced, and asserts that:
  * the last stdout line is the result object with exactly the keys
    correct, attempted, failed and metrics;
  * every metric BENCHMARK.json names for that mode is printed, with its
    unit, and nothing else;
  * no checked operation failed (error_rate 0);
  * cache.hit_ratio is ~1 on search_warm and zone.builds_timed is 0 on
    analytics_suite.
It also checks that, in a directory holding only BENCHMARK.json and the
benchmark's own files, run.py exits non-zero without printing a result.
Exits non-zero on the first failed assertion.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(root, workload, trace, seconds=3):
    p = subprocess.run([sys.executable, os.path.join(root, "perfbench", "run.py"),
                        "--workload", workload, "--seed", "1", "--seconds", str(seconds),
                        "--trace", str(trace), "--smoke", "1"],
                       cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    return p.returncode, p.stdout, p.stderr


def check(cond, msg):
    if not cond:
        sys.exit(f"FAIL: {msg}")


def check_workload(workload):
    for trace in (0, 1):
        rc, out, err = run(ROOT, workload, trace)
        check(rc == 0, f"{workload} trace={trace}: exit {rc}\n{err[-3000:]}")
        line = json.loads(out.strip().splitlines()[-1])
        check(set(line) == {"correct", "attempted", "failed", "metrics"}, f"keys {sorted(line)}")
        want = SPEC["per_layer" if trace else "end_to_end"]
        check(set(line["metrics"]) == {m["name"] for m in want},
              f"{workload} trace={trace}: metric names differ from BENCHMARK.json")
        for m in want:
            got = line["metrics"][m["name"]]
            check(got["unit"] == m["unit"], f"{m['name']}: unit {got['unit']} != {m['unit']}")
            check(isinstance(got["value"], (int, float)), f"{m['name']}: not a number")
        check(line["attempted"] >= 1, f"{workload}: nothing attempted")
        check(line["failed"] == 0 and line["correct"],
              f"{workload} trace={trace}: {line['failed']} of {line['attempted']} operations failed")
        if trace:
            m = {k: v["value"] for k, v in line["metrics"].items()}
            check(m["error_rate"] == 0, f"{workload}: error_rate {m['error_rate']}")
            if workload == "search_warm":
                check(m["cache.hit_ratio"] > 0.99, f"search_warm cache.hit_ratio {m['cache.hit_ratio']}")
            if workload == "analytics_suite":
                check(m["zone.builds_timed"] == 0, f"zone.builds_timed {m['zone.builds_timed']}")
        else:
            check(all(v["value"] > 0 for v in line["metrics"].values()), "an end-to-end metric is 0")
        print(f"ok  {workload} trace={trace}: {line['attempted']} checked operations", flush=True)


def check_bare_directory():
    bare = os.path.join(ROOT, ".bench_build", "perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    rc, out, _ = run(bare, SPEC["workloads"][0]["name"], 0)
    shutil.rmtree(bare, ignore_errors=True)
    check(rc != 0, "run.py succeeded without the program's sources")
    check("metrics" not in out, "run.py printed a result without the program's sources")
    print("ok  bare directory: non-zero exit, no result", flush=True)


def main():
    workloads = [w["name"] for w in SPEC["workloads"]]
    check_bare_directory()
    for w in workloads:
        check_workload(w)
    print("smoke test passed")


if __name__ == "__main__":
    main()
