#!/usr/bin/env python3
"""Summarise the spans of a traced run: per span name, the count and the
total and self time (a span's duration minus the part of it its child
spans cover).

    python3 perfbench/spans.py .bench_build/perfbench/work/search_warm/spans.jsonl

With --queries (analytics_suite), per query instead: the median over the
timed passes of its wall time, the time some Spark stage of it was
running, the time inside its jobs with no stage running (job scheduling),
and the time outside any of its jobs (analysis, planning, result collection).

    python3 perfbench/spans.py .bench_build/perfbench/work/analytics_suite/spans.jsonl --queries
"""
import collections
import json
import statistics
import sys


def self_times(spans):
    children = collections.defaultdict(list)
    for s in spans:
        if s["parent"]:
            children[s["parent"]].append(s)
    out = {}
    for s in spans:
        kids = sorted((max(k["start_ns"], s["start_ns"]), min(k["end_ns"], s["end_ns"]))
                      for k in children.get(s["id"], ()))
        covered, cur_s, cur_e = 0, None, None
        for a, b in kids:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["id"]] = s["end_ns"] - s["start_ns"] - covered
    return out


def union_ns(intervals):
    total, cur_s, cur_e = 0, None, None
    for a, b in sorted(intervals):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    return total + (cur_e - cur_s if cur_e is not None else 0)


def queries(spans):
    by_group = collections.defaultdict(list)
    for s in spans:
        if s["group"].startswith("pass"):
            by_group[s["group"]].append(s)
    rows = collections.defaultdict(list)
    for group, ss in by_group.items():
        def cover(name):
            return union_ns([(s["start_ns"], s["end_ns"]) for s in ss if s["name"] == name])
        wall, jobs, stages = cover("analytics.query"), cover("spark.job"), cover("spark.stage")
        rows[group.split(":", 1)[1]].append((wall, stages, jobs - stages, wall - jobs))
    print(f"{'query':<24} {'wall_ms':>9} {'stages_ms':>10} {'sched_ms':>9} {'outside_ms':>10}")
    for q, xs in sorted(rows.items()):
        med = [statistics.median(x[i] for x in xs) / 1e6 for i in range(4)]
        print(f"{q:<24} {med[0]:>9.1f} {med[1]:>10.1f} {med[2]:>9.1f} {med[3]:>10.1f}")


def main():
    spans = [json.loads(line) for line in open(sys.argv[1])]
    if "--queries" in sys.argv[2:]:
        queries(spans)
        return
    own = self_times(spans)
    by_name = collections.defaultdict(lambda: [0, 0, 0])
    for s in spans:
        agg = by_name[s["name"]]
        agg[0] += 1
        agg[1] += s["end_ns"] - s["start_ns"]
        agg[2] += own[s["id"]]
    print(f"{'span':<20} {'count':>7} {'total_ms':>12} {'self_ms':>12}")
    for name, (n, total, own_ns) in sorted(by_name.items(), key=lambda kv: -kv[1][2]):
        print(f"{name:<20} {n:>7} {total / 1e6:>12.1f} {own_ns / 1e6:>12.1f}")


if __name__ == "__main__":
    main()
