#!/usr/bin/env python3
"""Result-level diff of two oracle SQL sets: the mechanical check that an
oracle refactor left the reference unchanged.

Usage: python3 dev/oracle_diff.py <sfDir> <old oracle_sql.json> <new oracle_sql.json>

Runs both SQL strings of every key in DuckDB over <sfDir>'s tables and
prints SAME or DIFF per key under check_oracle.py's bit-exact rule and
dtype gate (one definition: `check_oracle.compare`). Keys present on one
side only print ONLY-OLD / ONLY-NEW; identical SQL text skips the second
run. Exits 1 unless every key is SAME.

  sbt "runMain graft.Verify <sfDir> <newOut> --sql-only"    # likewise <oldOut> at the parent
  python3 dev/oracle_diff.py <sfDir> <oldOut>/oracle_sql.json <newOut>/oracle_sql.json
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check_oracle import compare, connect  # noqa: E402


def main(sf_dir, old_json, new_json):
    con = connect(sf_dir)
    old, new = json.load(open(old_json)), json.load(open(new_json))
    bad = 0
    for key in sorted(set(old) | set(new)):
        if key not in new or key not in old:
            print(f"{'ONLY-OLD' if key in old else 'ONLY-NEW'}  {key}")
            bad += 1
            continue
        try:
            want = con.execute(old[key]).fetchdf()
            got = want if new[key] == old[key] else con.execute(new[key]).fetchdf()
        except Exception as e:
            print(f"ERR   {key}: {e}")
            bad += 1
            continue
        detail = compare(got, want)
        if detail is None:
            # compare() sorts columns by name; the output order is part of
            # the contract too (oracle_types.txt records it)
            detail = None if list(got.columns) == list(want.columns) else \
                f"column order {list(want.columns)} -> {list(got.columns)}"
        if detail:
            print(f"DIFF  {key}: {detail}")
            bad += 1
        else:
            print(f"SAME  {key} ({len(got)} rows)")
    print(f"keys: {len(set(old) | set(new))}  not SAME: {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:4]))
