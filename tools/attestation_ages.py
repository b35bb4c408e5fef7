"""Ledger scan: last driver-attested round per query.

The standing rotation-hygiene policy (its history is in COVERAGE.md)
cycles the OLDEST verdicts back through the ~17
rotation slots each round, oldest round first, ties by query number. This
tool computes those ages from the CORRECTNESS_r*.json artifacts themselves
so the window is always built from the actual ledger, not from memory
(the round-10 judge's round-11 list named r3/r4 rows while eleven r1 rows
were older — see that history).

A row counts as attested in round N if its CORRECTNESS_rN.json entry has
hash_match (oracle-bearing) or rows_match (rows-only) true. Age 0 = never
driver-attested.

Usage: python tools/attestation_ages.py [--limit N]
Prints one line per query, oldest first: "<round> <query> <tags>".
"""
from __future__ import annotations

import argparse
import glob
import json
import re
import sys

sys.path.insert(0, "/root/repo")


def last_attested() -> dict[str, int]:
    last: dict[str, int] = {}
    for f in sorted(glob.glob("/root/repo/CORRECTNESS_r*.json")):
        rnd = int(re.search(r"r(\d+)", f).group(1))
        for q, row in json.load(open(f)).items():
            if isinstance(row, dict) and (row.get("hash_match") or row.get("rows_match")):
                last[q] = rnd
    return last


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--limit", type=int, default=0, help="print only the N oldest")
    args = ap.parse_args()

    from mrcond_spark.queries import all_queries

    queries = all_queries()
    last = last_attested()
    ages = sorted(
        ((last.get(n, 0), n) for n in queries),
        key=lambda t: (t[0], t[1]),
    )
    if args.limit:
        ages = ages[: args.limit]
    for rnd, name in ages:
        print(rnd, name, ",".join(queries[name].tags))


if __name__ == "__main__":
    main()
