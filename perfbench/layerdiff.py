#!/usr/bin/env python3
"""Compare the per-layer metrics of two sets of traced runs.

    python3 perfbench/layerdiff.py BASE_DIR NEW_DIR

Each directory holds the output of traced runs, one file per run, named
`<workload>-<anything>.json` and holding what `run.py --trace 1` printed
(its last line is the result); other files are ignored. For example:

    for s in 1 2 3; do
      python3 perfbench/run.py --workload dashboard --seed $s --seconds 10 --trace 1 > base/dashboard-$s.json
    done

Per workload it prints every per-layer metric with the median of each
side, the ratio new/base and the base it is taken on. A layer's self
time (its `*ms*` metrics) is flagged with `!` when the medians differ by
more than the run-to-run spread of the base side (the distance between
its first and third quartiles); with fewer than two base runs the
spread is unknown and nothing is flagged. The tracer's own figures
(`trace.*`) are not a layer and are never flagged.
"""
import json
import os
import statistics
import sys


def load(d):
    """{workload: {metric: ([values], unit)}} from a directory of runs."""
    out = {}
    for f in sorted(os.listdir(d)):
        if not f.endswith(".json"):
            continue
        with open(os.path.join(d, f)) as fh:
            lines = [ln for ln in fh.read().splitlines() if ln.strip()]
        if not lines:
            continue
        res = json.loads(lines[-1])
        w = out.setdefault(f.split("-")[0], {})
        for k, m in res["metrics"].items():
            w.setdefault(k, ([], m["unit"]))[0].append(m["value"])
    return out


def spread(xs):
    if len(xs) < 2:
        return None
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[2] - q[0]


def diff(base, new):
    for w in sorted(set(base) | set(new)):
        b, n = base.get(w, {}), new.get(w, {})
        print(f"== {w}  (base runs: {len(next(iter(b.values()), ([],))[0])}, "
              f"new runs: {len(next(iter(n.values()), ([],))[0])})")
        print(f"{'metric':34} {'unit':>6} {'base':>14} {'new':>14} {'new/base':>9}  flag")
        for k in sorted(set(b) | set(n)):
            bv, unit = b.get(k, ([], ""))
            nv, unit = n.get(k, ([], unit))
            bm = statistics.median(bv) if bv else float("nan")
            nm = statistics.median(nv) if nv else float("nan")
            ratio = f"{nm / bm:9.3f}" if bm else "      n/a"
            s = spread(bv)
            layer_time = "ms" in k.split(".")[-1] and not k.startswith("trace.")
            flag = "!" if (layer_time and s is not None and abs(nm - bm) > s) else ""
            print(f"{k:34} {unit:>6} {bm:14.3f} {nm:14.3f} {ratio}  {flag}")
        print()


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    diff(load(sys.argv[1]), load(sys.argv[2]))
