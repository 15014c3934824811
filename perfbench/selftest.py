#!/usr/bin/env python3
"""Self-test of the benchmark on tiny inputs (sf0.001, one set-up, a
one-second window): for each workload, one traced run must pass its
output checks, print every per-layer metric named in BENCHMARK.json with
its unit, and its record must also yield every end-to-end metric with
its unit. About a minute per workload, most of it JVM start.

    python3 perfbench/selftest.py
"""
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import run  # noqa: E402


def main():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    want_e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    want_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    problems = []
    for w in [x["name"] for x in bench["workloads"]]:
        result, rec = run.run(w, seed=1, seconds=1, trace=1, sf=0.001, reps=1)
        if not result["correct"] or result["attempted"] < 1:
            problems.append(f"{w}: run not correct ({result['failed']} of {result['attempted']} failed)")
        got_layer = {k: m["unit"] for k, m in result["metrics"].items()}
        got_e2e = {k: u for k, (_, u) in metrics.end_to_end(rec).items()}
        for kind, want, got in (("end-to-end", want_e2e, got_e2e), ("per-layer", want_layer, got_layer)):
            for k, unit in want.items():
                if got.get(k) != unit:
                    problems.append(f"{w}: {kind} metric {k} printed with unit {got.get(k)!r}, want {unit!r}")
            for k in set(got) - set(want):
                problems.append(f"{w}: {kind} metric {k} is not named in BENCHMARK.json")
        print(f"selftest: {w}: {len(got_e2e)} end-to-end and {len(got_layer)} per-layer metrics")
    for p in problems:
        print(f"selftest: FAIL {p}")
    print("selftest: " + ("FAILED" if problems else "ok"))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
