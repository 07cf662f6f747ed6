#!/usr/bin/env python3
"""graft's benchmark: one workload per invocation, from the checkout root.

    python3 perfbench/run.py --workload search_warm --seed 1 --seconds 10 --trace 0

Builds the program from source (perfbench/build.py), runs the workload in
one JVM, checks its answers, and prints one JSON line as the last line of
stdout: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are BENCHMARK.json's end-to-end metrics, with --trace 1 its
per-layer metrics. The full record of the run (metrics of both kinds
measured, commit, seed, cores, heap, Spark version, failures) goes to
.bench_build/perfbench/out/<workload>-trace<0|1>.json, and the spans of a
traced run to .bench_build/perfbench/work/<workload>/spans.jsonl.

Extra flags: --smoke 1 runs at smoke size (see perfbench/tests);
--record-hashes FILE writes the analytics result hashes instead of
checking them (used once, at the seed commit).

A crash, a timeout, or a missing metric exits non-zero and prints no
result line.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

# Per-layer metrics measure one workload's layers; on the other workload
# those layers do no work and read 0.
LAYER_WORKLOADS = {
    "search": {"search_warm"}, "loadgen": {"search_warm"}, "cache": {"search_warm"},
    "ingest": {"search_warm"}, "compact": {"search_warm"}, "landing": {"search_warm"},
    "snapshot": {"search_warm"}, "space_amp": {"search_warm"},
    "analytics": {"analytics_suite"}, "zone": {"analytics_suite"},
}
HEAP = "3g"
TIME_LIMIT_S = 165
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def commit_id(stamp):
    try:
        out = subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0 and out.stdout.strip():
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "sources-" + stamp[:12]


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-hashes")
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the checkout root", 2)
    spec = json.load(open(spec_path))
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}", 2)
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft's sources (src/main/scala/graft) are not in this checkout", 2)

    out_dir = os.path.join(ROOT, ".bench_build", "perfbench", "out")
    work = os.path.join(ROOT, ".bench_build", "perfbench", "work", a.workload)
    result_path = os.path.join(out_dir, f"{a.workload}.raw.json")
    record_path = os.path.join(out_dir, f"{a.workload}-trace{a.trace}.json")
    # never let an earlier run's output stand in for this one
    for p in (result_path, record_path):
        if os.path.exists(p):
            os.remove(p)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out_dir, exist_ok=True)

    import build
    try:
        cp, stamp = build.build()
    except SystemExit as e:
        fail(f"build failed: {e}", 3)

    # the time limit counts from here: a first run in a checkout also builds
    t_built = time.time()
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    cmd = ["java", f"-Xmx{HEAP}", "-Xss4m", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Dspark.ui.enabled=false",
           f"-Dlog4j.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    if a.record_hashes:
        cmd.append(f"-Dperfbench.record={os.path.abspath(a.record_hashes)}")
    cmd += ["-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--smoke", str(a.smoke), "--cores", str(cores),
            "--work", work, "--out", result_path, "--root", ROOT,
            "--spawn-ms", str(int(time.time() * 1000))]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stdin=subprocess.DEVNULL,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=TIME_LIMIT_S - (time.time() - t_built))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{a.workload} did not finish within {TIME_LIMIT_S} s", 4)
    if rc != 0 or not os.path.exists(result_path):
        fail(f"{a.workload} failed (exit {rc}); no result", 5)

    raw = json.load(open(result_path))
    kind = "per_layer" if a.trace else "end_to_end"
    measured = raw["layer"] if a.trace else raw["e2e"]
    metrics = {}
    for m in spec[kind]:
        name, unit = m["name"], m["unit"]
        if name in measured:
            v = measured[name]
            if v["unit"] != unit:
                fail(f"{name}: unit {v['unit']}, BENCHMARK.json says {unit}", 6)
            if v["value"] is None:
                fail(f"{name}: not a number", 6)
            metrics[name] = {"value": v["value"], "unit": unit}
        elif a.trace and a.workload not in LAYER_WORKLOADS.get(name.split(".")[0], {a.workload}):
            metrics[name] = {"value": 0, "unit": unit}
        else:
            fail(f"{a.workload} did not measure {name}", 6)
    if not a.trace:
        zero = [n for n, v in metrics.items() if not v["value"] > 0]
        if zero:
            fail(f"end-to-end metrics must be positive: {zero}", 6)

    line = {"correct": raw["failed"] == 0 and raw["attempted"] > 0,
            "attempted": raw["attempted"], "failed": raw["failed"], "metrics": metrics}
    record = dict(line, workload=a.workload, seed=a.seed, seconds=a.seconds, trace=a.trace,
                  smoke=a.smoke, commit=commit_id(stamp), nproc=cores, heap=HEAP,
                  spark_version=raw["info"].get("spark_version"),
                  heap_max_bytes=raw["info"].get("heap_max_bytes"), info=raw["info"],
                  failures=raw["failures"], all_measured={"e2e": raw["e2e"], "layer": raw["layer"]},
                  wall_s=round(time.time() - t_start, 3))
    with open(record_path, "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(line))


if __name__ == "__main__":
    main()
