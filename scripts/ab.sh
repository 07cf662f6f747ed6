#!/usr/bin/env bash
# Interleaved A/B of two revisions on one perfbench workload.
#
#   scripts/ab.sh <parent-rev> <change-rev> <workload> <pairs>
#
# Checks both revisions out into fresh clones of this repository under
# ${TMPDIR:-/tmp}, then runs `perfbench/run.py --trace 0` in each, pair by
# pair (seeds 1001, 1002, ...; the side that runs first alternates from
# pair to pair), every run in its own JVM. Prints, per end-to-end metric
# of BENCHMARK.json, each side's median and quartiles, the change ÷
# parent ratio of the medians, `unresolved` where the parent's quartile
# spread (as a share of its median) exceeds the metric's bound, and the
# number of pairs in which the change reads better.
#
# Exits non-zero if any run fails (a non-zero exit, no result line, or
# failed answers). The clones are removed however the script ends; it
# writes nothing inside this repository or its perfbench/ directory.
set -euo pipefail

if [ $# -ne 4 ]; then
  echo "usage: $0 <parent-rev> <change-rev> <workload> <pairs>" >&2
  exit 2
fi
workload=$3
pairs=$4
case "$pairs" in
  '' | *[!0-9]* | 0) echo "ab: <pairs> must be a positive integer" >&2; exit 2 ;;
esac

root=$(git rev-parse --show-toplevel)
parent=$(git -C "$root" rev-parse --verify "$1^{commit}")
change=$(git -C "$root" rev-parse --verify "$2^{commit}")
seconds=$(python3 -c 'import json, sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$root/BENCHMARK.json")

work=$(mktemp -d "${TMPDIR:-/tmp}/graft-ab.XXXXXX")
trap 'rm -rf "$work"' EXIT
trap 'exit 130' INT TERM

# a clone, not a worktree: it registers nothing in this repository's .git,
# so a killed run leaves nothing behind here
for side in parent change; do
  git clone --quiet --shared --no-checkout "$root" "$work/$side"
  git -C "$work/$side" checkout --quiet --detach "${!side}"
done

failed=0
for i in $(seq 1 "$pairs"); do
  seed=$((1000 + i))
  if [ $((i % 2)) -eq 1 ]; then order="parent change"; else order="change parent"; fi
  for side in $order; do
    log="$work/$side-$seed.log"
    if (cd "$work/$side" && python3 perfbench/run.py --workload "$workload" --seed "$seed" \
          --seconds "$seconds" --trace 0) >"$log.out" 2>"$log"; then
      line=$(tail -n 1 "$log.out")
    else
      line=""
    fi
    if [ -z "$line" ] || ! python3 -c 'import json, sys; r = json.loads(sys.argv[1]); sys.exit(0 if r["correct"] and r["failed"] == 0 else 1)' "$line" 2>/dev/null; then
      failed=$((failed + 1))
      echo "pair $i seed $seed $side: FAILED (last lines of its log follow)" >&2
      tail -n 5 "$log" >&2 || true
    else
      echo "{\"seed\": $seed, \"run\": $line}" >>"$work/$side.jsonl"
      echo "pair $i seed $seed $side: $line"
    fi
  done
done

python3 - "$root/BENCHMARK.json" "$work/parent.jsonl" "$work/change.jsonl" <<'EOF'
import json, os, statistics, sys

spec = json.load(open(sys.argv[1]))

def runs(path):
    return [json.loads(l) for l in open(path)] if os.path.exists(path) else []

sides = {"parent": runs(sys.argv[2]), "change": runs(sys.argv[3])}
print(f"runs: parent {len(sides['parent'])}, change {len(sides['change'])}")

def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3

for m in spec["end_to_end"]:
    name = m["name"]
    by_seed = {s: {r["seed"]: r["run"]["metrics"][name]["value"] for r in rs}
               for s, rs in sides.items()}
    if not by_seed["parent"] or not by_seed["change"]:
        print(f"{name:>18}: no runs")
        continue
    (pq1, pmed, pq3), (cq1, cmed, cq3) = (quartiles(list(by_seed[s].values()))
                                          for s in ("parent", "change"))
    pairs = sorted(by_seed["parent"].keys() & by_seed["change"].keys())
    sign = 1 if m["better"] == "higher" else -1
    wins = sum(sign * (by_seed["change"][k] - by_seed["parent"][k]) > 0 for k in pairs)
    spread = (pq3 - pq1) / pmed
    # every change run better than every parent run
    apart = (min(sign * v for v in by_seed["change"].values())
             > max(sign * v for v in by_seed["parent"].values()))
    print(f"{name:>18} ({m['better']} is better): parent {pmed:.4g} [{pq1:.4g}, {pq3:.4g}]"
          f"  change {cmed:.4g} [{cq1:.4g}, {cq3:.4g}]  ratio {cmed / pmed:.3f}"
          + ("  unresolved" if spread > m["bound"] else "")
          + f"  (parent spread {spread:.3f}, bound {m['bound']}; change better in"
          f" {wins}/{len(pairs)} pairs{', and in every run' if apart else ''})")
EOF

if [ "$failed" -ne 0 ]; then
  echo "ab: $failed run(s) failed" >&2
  exit 1
fi
