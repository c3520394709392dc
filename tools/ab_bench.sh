#!/usr/bin/env bash
# Paired A/B runs of the benchmark between two revisions.
#
#   tools/ab_bench.sh <base-rev> <head-rev> <workload> [pairs]
#
# Exports both revisions with `git archive` into a fresh scratch
# directory, then runs `perfbench/run.py` once per side for each pair:
# pair i uses seed 10+i on both sides, and the side that runs first
# alternates from pair to pair, so drift on the host (CPU steal, thermal
# state, page cache) falls on both sides alike. Each run builds from its
# own checkout (the first run of a side pays the sbt build).
#
# Prints, per end-to-end metric of BENCHMARK.json: each side's median
# and quartiles, the number of pairs the head won, the median of the
# paired head/base ratios, and a verdict:
#   gain        the head won at least 9 of 10 pairs (ties count for
#               neither side) and its median is better by more than the
#               base's interquartile range (IQR);
#   regression  the head's median is worse by more than the metric's
#               relative `bound` in the head's BENCHMARK.json;
#   unresolved  neither, and the base's IQR is wider than the bound
#               (relative to its median), unless every head run beat
#               every base run;
#   level       otherwise.
# Raw results stay in <scratch>/results.jsonl.
#
# Run from inside a git checkout of graft; pairs defaults to 10. To
# measure uncommitted work, pass `$(git stash create)` as the head
# (it includes staged new files, not untracked ones).
set -euo pipefail

if [ $# -lt 3 ] || [ $# -gt 4 ]; then
  echo "usage: $0 <base-rev> <head-rev> <workload> [pairs]" >&2
  exit 2
fi
base_rev=$1
head_rev=$2
workload=$3
pairs=${4:-10}

repo=$(git rev-parse --show-toplevel)
dir=$(mktemp -d "${TMPDIR:-/tmp}/graft-ab.XXXXXX")
echo "ab_bench: scratch directory $dir" >&2

for side in base head; do
  rev=base_rev
  [ "$side" = head ] && rev=head_rev
  mkdir -p "$dir/$side"
  git -C "$repo" archive "${!rev}" | tar -x -C "$dir/$side"
done

seconds=$(python3 -c 'import json,sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$dir/head/BENCHMARK.json")
results="$dir/results.jsonl"
: > "$results"

run() { # side pair seed
  local line
  if ! line=$(cd "$dir/$1" && python3 perfbench/run.py --workload "$workload" \
      --seed "$3" --seconds "$seconds" --trace 0 | tail -n 1); then
    line='{"correct": false, "attempted": 0, "failed": 1, "metrics": {}}'
  fi
  python3 -c 'import json,sys; r=json.loads(sys.argv[4]); r.update(side=sys.argv[1], pair=int(sys.argv[2]), seed=int(sys.argv[3])); print(json.dumps(r))' \
    "$1" "$2" "$3" "$line" >> "$results"
  echo "ab_bench: pair $2 $1 seed $3: $line" >&2
}

for i in $(seq 1 "$pairs"); do
  seed=$((10 + i))
  if [ $((i % 2)) -eq 1 ]; then order="base head"; else order="head base"; fi
  for side in $order; do run "$side" "$i" "$seed"; done
done

python3 - "$results" "$dir/head/BENCHMARK.json" <<'EOF'
import json
import statistics
import sys

rows = [json.loads(l) for l in open(sys.argv[1])]
bench = json.load(open(sys.argv[2]))
by = {(r["side"], r["pair"]): r for r in rows}
pairs = sorted({r["pair"] for r in rows})
bad = [r for r in rows if not r["correct"] or r["failed"]]
print("runs: %d, not correct or failed: %d" % (len(rows), len(bad)))


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else (float("nan"),) * 3
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], statistics.median(xs), q[2]


def verdict(both, bq, hq, lower, bound):
    # "better" as a signed improvement of the head over the base
    gain = (lambda b, h: b - h) if lower else (lambda b, h: h - b)
    won = sum(1 for b, h in both if gain(b, h) > 0)
    iqr = bq[2] - bq[0]
    if won >= 0.9 * len(both) and gain(bq[1], hq[1]) > iqr:
        return "gain"
    if -gain(bq[1], hq[1]) > bound * abs(bq[1]):
        return "regression"
    heads, bases = [h for _, h in both], [b for b, _ in both]
    if iqr > bound * abs(bq[1]) and not all(gain(b, h) > 0 for b in bases for h in heads):
        return "unresolved"
    return "level"


print("%-12s %-28s %-28s %-10s %-17s %s" % ("metric", "base q1 / median / q3",
                                             "head q1 / median / q3", "head won",
                                             "median head/base", "verdict"))
for m in bench["end_to_end"]:
    name, lower = m["name"], m["better"] == "lower"
    val = lambda side, p: by.get((side, p), {}).get("metrics", {}).get(name, {}).get("value")
    both = [(val("base", p), val("head", p)) for p in pairs]
    both = [(b, h) for b, h in both if b is not None and h is not None]
    if not both:
        print("%-12s no paired values" % name)
        continue
    bq, hq = quartiles([b for b, _ in both]), quartiles([h for _, h in both])
    won = sum(1 for b, h in both if (h < b if lower else h > b))
    ratio = statistics.median(h / b for b, h in both if b)
    print("%-12s %-28s %-28s %-10s %-17.3f %s" % (
        name, "%.3f / %.3f / %.3f" % bq, "%.3f / %.3f / %.3f" % hq,
        "%d of %d" % (won, len(both)), ratio, verdict(both, bq, hq, lower, m["bound"])))
EOF
