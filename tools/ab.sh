#!/bin/bash
# Alternated A/B of the benchmark: a parent revision against the working
# tree, one pair of runs per seed.
#
# Usage: tools/ab.sh <parent-rev> <workload> <seed>...
#   e.g. tools/ab.sh HEAD~1 dashboard 101 102 103 104 105 106 107 108 109 110
#
# Both sides run from exported trees under one temporary directory, so
# they differ only in their source: the parent's committed files
# (git archive) in $WORK/parent, and the working tree's tracked and
# untracked files that git does not ignore, as they are on disk, in
# $WORK/change (a tracked file deleted in the working tree is left out,
# with a tar warning; nothing built or run before, such as .bench_build/,
# comes along). Each side runs tools/bench_ops.py in its own tree, which
# makes the call `perfbench/run.py --workload <workload> --seed <seed>
# --seconds 15 --trace 0` makes and also prints each op's time, one
# side after the other, the parent first on the 1st, 3rd, ... seed and
# the change first on the others, so a host that speeds up or slows down
# during the session does not favour one side. Progress and every result
# line go to stderr; stdout gets, per end-to-end metric of BENCHMARK.json,
# each side's runs, median and quartiles, the pairs each side won (ties
# count for neither), the median and quartiles of the per-pair ratio
# change/parent (both runs of a pair share a seed and a stretch of host
# time, so drift that moves both sides leaves the ratio alone) and a
# verdict:
#   gain          the change won >= 9/10 of the pairs and its median is
#                 better by more than the parent's interquartile range
#   worse         the change's median is worse than the parent's by more
#                 than the metric's bound
#   unresolved    neither, and one side's spread (IQR / median) exceeds
#                 the bound
#   within bound  otherwise
# then, per op label, each side's median ms over the complete pairs (on
# batch the cycle's steps: etl, clustering, each query), which shows
# which step moved when host drift moves the totals.
# Before the metrics it prints, over the complete pairs, how many runs of
# each side attempted each op count and the seeds whose two runs differ
# in it: on batch a run holds one nightly cycle (4 ops) or two (8), and
# the per-op metrics split on which.
# A run that fails (non-zero exit, or failed ops) is reported and left
# out of its pair. Needs SPARK_HOME; perfbench refuses to start beside
# another JVM, so nothing else Spark may run meanwhile.
set -euo pipefail
[ $# -ge 3 ] || { echo "usage: $0 <parent-rev> <workload> <seed>..." >&2; exit 2; }
REV=$1 WORKLOAD=$2; shift 2
ROOT=$(cd "$(dirname "$0")/.." && pwd)
WORK=$(mktemp -d)
trap 'rm -rf "$WORK"' EXIT
mkdir -p "$WORK/parent" "$WORK/change"
git -C "$ROOT" archive "$REV" | tar -x -C "$WORK/parent"
git -C "$ROOT" ls-files -z --cached --others --exclude-standard \
  | tar -c -C "$ROOT" --null -T - --ignore-failed-read | tar -x -C "$WORK/change"

run() {  # run <side> <seed>: appends "<side> <seed> <result json>" to the results
  local side=$1 seed=$2 tree="$WORK/$1" line out
  out="$WORK/$side-$seed.out"
  echo "ab: $side seed=$seed" >&2
  if (cd "$tree" && python3 "$ROOT/tools/bench_ops.py" "$WORKLOAD" "$seed" \
      > "$out" 2> "$WORK/$side-$seed.log") && line=$(grep -m1 '^{' "$out"); then
    echo "ab: $side seed=$seed $line" >&2
    echo "$side $seed $line" >> "$WORK/results"
    grep '^op' "$out" | sed "s/^/$side\t$seed\t/" >> "$WORK/ops"
  else
    echo "ab: $side seed=$seed FAILED:" >&2
    tail -5 "$WORK/$side-$seed.log" >&2
  fi
}

i=0
for seed in "$@"; do
  if [ $((i % 2)) -eq 0 ]; then run parent "$seed"; run change "$seed"
  else run change "$seed"; run parent "$seed"; fi
  i=$((i + 1))
done
touch "$WORK/results" "$WORK/ops"

python3 - "$ROOT/BENCHMARK.json" "$WORK/results" "$WORK/ops" "$WORKLOAD" <<'EOF'
import collections
import json
import statistics
import sys

bench, results, opsfile, workload = sys.argv[1:]
runs = {"parent": {}, "change": {}}
attempted = {"parent": {}, "change": {}}
for line in open(results):
    side, seed, js = line.split(" ", 2)
    r = json.loads(js)
    if r["failed"] or not r["correct"]:
        print(f"{side} seed={seed}: {r['failed']} of {r['attempted']} ops failed; run left out")
    else:
        runs[side][seed] = {k: v["value"] for k, v in r["metrics"].items()}
        attempted[side][seed] = r["attempted"]
seeds = [s for s in runs["parent"] if s in runs["change"]]
print(f"{workload}: {len(seeds)} complete pairs (seeds {' '.join(seeds)})")
for side in ("parent", "change"):
    counts = collections.Counter(attempted[side][s] for s in seeds)
    print(f"  {side} runs by attempted ops: " + ", ".join(f"{n} ops: {counts[n]}" for n in sorted(counts)))
split = [s for s in seeds if attempted["parent"][s] != attempted["change"][s]]
print(f"  seeds whose two runs differ in attempted ops: {' '.join(split) or 'none'}")


def quart(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[1], q[2]


for m in json.load(open(bench))["end_to_end"]:
    name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
    p = [runs["parent"][s][name] for s in seeds if name in runs["parent"][s]]
    c = [runs["change"][s][name] for s in seeds if name in runs["change"][s]]
    if not p or len(p) != len(c):
        print(f"{name}: no complete pairs")
        continue
    better = (lambda a, b: a < b) if lower else (lambda a, b: a > b)
    wins_c = sum(better(b, a) for a, b in zip(p, c))
    wins_p = sum(better(a, b) for a, b in zip(p, c))
    (pq1, pm, pq3), (cq1, cm, cq3) = quart(p), quart(c)
    gain = (pm - cm) if lower else (cm - pm)
    if wins_c >= 0.9 * len(p) and gain > pq3 - pq1:
        verdict = "gain"
    elif -gain > bound * abs(pm):
        verdict = "worse"
    elif max((pq3 - pq1) / abs(pm) if pm else 0, (cq3 - cq1) / abs(cm) if cm else 0) > bound:
        verdict = "unresolved"
    else:
        verdict = "within bound"
    ratio = f"{cm / pm:.3f}" if pm else "n/a"
    print(f"{name} ({m['unit']}, {m['better']} is better, bound {bound}): {verdict}")
    print(f"  parent median {pm:.4g} [q1 {pq1:.4g}, q3 {pq3:.4g}] runs {' '.join(f'{v:.4g}' for v in p)}")
    print(f"  change median {cm:.4g} [q1 {cq1:.4g}, q3 {cq3:.4g}] runs {' '.join(f'{v:.4g}' for v in c)}")
    print(f"  change/parent {ratio}; pairs won: change {wins_c}, parent {wins_p}, of {len(p)}")
    pair = [b / a for a, b in zip(p, c) if a]
    if pair:
        rq1, rm, rq3 = quart(pair)
        print(f"  per-pair change/parent median {rm:.3f} [q1 {rq1:.3f}, q3 {rq3:.3f}] over {len(pair)} pairs")

ops = {"parent": {}, "change": {}}
for line in open(opsfile):
    side, seed, _, ms, label = line.rstrip("\n").split("\t", 4)
    if seed in seeds:
        ops[side].setdefault(label, []).append(float(ms))
med = lambda xs: f"{statistics.median(xs):.0f} (n={len(xs)})" if xs else "-"  # noqa: E731
print("per-op median ms, slowest on the parent first:")
for label in sorted(set(ops["parent"]) | set(ops["change"]),
                    key=lambda l: -statistics.median(ops["parent"].get(l, [0.0]))):
    print(f"  {label}: parent {med(ops['parent'].get(label, []))}, change {med(ops['change'].get(label, []))}")
EOF
