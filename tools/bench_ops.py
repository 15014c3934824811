#!/usr/bin/env python3
"""One benchmark run, with the time of every op.

    python3 /path/to/tools/bench_ops.py <workload> <seed>

Run from the root of a source checkout: it imports that checkout's
`perfbench/run.py` and makes the call its `main` makes,
`run.run(workload, seed, 15, 0)`. Stdout gets the same JSON result line,
then one line per op of the run, in run order: `op<TAB><ms><TAB><label>`.
Exits 1 when the run is not correct, like `run.py`.
"""
import json
import os
import sys

sys.path.insert(0, os.path.join(os.getcwd(), "perfbench"))
import run  # noqa: E402


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    result, rec = run.run(sys.argv[1], int(sys.argv[2]), 15, 0)
    print(json.dumps(result))
    for o in rec["ops"]:
        print(f"op\t{o['ms']}\t{o['label']}")
    sys.stdout.flush()
    if not result["correct"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
