#!/usr/bin/env python3
"""Compare two `graft.Verify` dumps query by query, row for row.

    python3 plans/r25/compare_dumps.py PARENT_DUMP CHANGE_DUMP [--out FILE]

Each query's rows are compared as multisets (DuckDB `EXCEPT ALL` both
ways), so a different row order inside one parquet dump does not count
as a difference. Prints one line per query that differs or is missing
on one side, then a summary; writes the per-query verdicts as JSON
when `--out` is given. Exits 1 if any query differs.
"""
import argparse
import json
import os
import sys

import duckdb


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--out")
    args = ap.parse_args()

    def queries(d):
        return {q for q in os.listdir(d) if os.path.isdir(os.path.join(d, q))}

    qa, qb = queries(args.a), queries(args.b)
    con = duckdb.connect()
    verdicts = {}
    for q in sorted(qa | qb):
        if q not in qa or q not in qb:
            verdicts[q] = "missing in " + ("parent" if q not in qa else "change")
            continue
        ra = f"read_parquet('{os.path.join(args.a, q)}/*.parquet')"
        rb = f"read_parquet('{os.path.join(args.b, q)}/*.parquet')"
        try:
            na = con.execute(f"SELECT count(*) FROM {ra}").fetchone()[0]
            nb = con.execute(f"SELECT count(*) FROM {rb}").fetchone()[0]
            only_a = con.execute(f"SELECT count(*) FROM (SELECT * FROM {ra} EXCEPT ALL SELECT * FROM {rb})").fetchone()[0]
            only_b = con.execute(f"SELECT count(*) FROM (SELECT * FROM {rb} EXCEPT ALL SELECT * FROM {ra})").fetchone()[0]
        except duckdb.Error as e:
            verdicts[q] = f"error: {e}".splitlines()[0]
            continue
        verdicts[q] = "same" if only_a == only_b == 0 and na == nb else \
            f"differs: rows {na} vs {nb}, {only_a} only in parent, {only_b} only in change"
    for q, v in verdicts.items():
        if v != "same":
            print(f"{q}: {v}")
    same = sum(v == "same" for v in verdicts.values())
    print(f"{same} of {len(verdicts)} queries dump the same rows")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(verdicts, f, indent=1, sort_keys=True)
    sys.exit(0 if same == len(verdicts) else 1)


if __name__ == "__main__":
    main()
