#!/usr/bin/env python3
"""Compare two oracle_sql.json dumps (written by `graft.Verify`).

Usage: tools/oracle_diff.py <a/oracle_sql.json> <b/oracle_sql.json>

Prints the queries found on only one side, the queries whose oracle text
differs byte for byte, and which of those still differ once all
whitespace is removed. Exits 1 if any query differs after whitespace
removal, or is found on one side only; 0 otherwise.

A dump without running any query:
  tools/run_main.sh graft.Verify <sf> <out> no_such_query
"""
import json
import re
import sys


def squeeze(sql):
    return re.sub(r"\s+", "", sql)


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__.strip())
    with open(argv[1]) as f:
        a = json.load(f)
    with open(argv[2]) as f:
        b = json.load(f)
    only_a = sorted(set(a) - set(b))
    only_b = sorted(set(b) - set(a))
    both = sorted(set(a) & set(b))
    byte_diff = [q for q in both if a[q] != b[q]]
    ws_diff = [q for q in byte_diff if squeeze(a[q]) != squeeze(b[q])]
    print(f"{len(a)} queries in {argv[1]}, {len(b)} in {argv[2]}")
    print(f"only in {argv[1]}: {' '.join(only_a) or '-'}")
    print(f"only in {argv[2]}: {' '.join(only_b) or '-'}")
    print(f"byte-different ({len(byte_diff)}): {' '.join(byte_diff) or '-'}")
    print(f"different after whitespace removal ({len(ws_diff)}): {' '.join(ws_diff) or '-'}")
    return 1 if ws_diff or only_a or only_b else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
