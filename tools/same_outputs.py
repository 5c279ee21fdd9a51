#!/usr/bin/env python3
"""Compare two graft.Verify output directories row for row.

Usage: python3 tools/same_outputs.py <verifyOutA> <verifyOutB>

For every query directory in either side, reads its part files in name
(= partition) order with pyarrow and compares the two tables with
Table.equals: same schema, same rows, same row order. Then compares the
two oracle_sql.json files entry by entry.

Prints one line per query whose rows differ (or that only one side
wrote), one line per query whose oracle text differs, and a summary.
Exits 1 if any query's rows differ; a rewritten oracle alone is
reported but does not fail the run.
"""
import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq


def queries(out_dir):
    return {d for d in os.listdir(out_dir) if os.path.isdir(os.path.join(out_dir, d))}


def read_rows(out_dir, name):
    q_dir = os.path.join(out_dir, name)
    parts = sorted(f for f in os.listdir(q_dir) if f.endswith(".parquet"))
    return pa.concat_tables([pq.read_table(os.path.join(q_dir, f)) for f in parts])


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a_dir, b_dir = sys.argv[1], sys.argv[2]
    a_names, b_names = queries(a_dir), queries(b_dir)
    row_diffs = []
    for name in sorted(a_names | b_names):
        if name not in a_names or name not in b_names:
            side = a_dir if name in a_names else b_dir
            row_diffs.append(name)
            print(f"ROWS    {name}: only in {side}")
            continue
        a, b = read_rows(a_dir, name), read_rows(b_dir, name)
        if not a.equals(b):
            row_diffs.append(name)
            print(f"ROWS    {name}: {a.num_rows} vs {b.num_rows} rows, "
                  f"schema {'equal' if a.schema.equals(b.schema) else 'differs'}")
    a_sql = json.load(open(os.path.join(a_dir, "oracle_sql.json")))
    b_sql = json.load(open(os.path.join(b_dir, "oracle_sql.json")))
    sql_diffs = sorted(n for n in a_sql.keys() | b_sql.keys() if a_sql.get(n) != b_sql.get(n))
    for name in sql_diffs:
        print(f"ORACLE  {name}")
    print(f"queries={len(a_names | b_names)} row_diffs={len(row_diffs)} "
          f"oracle_diffs={len(sql_diffs)}")
    sys.exit(1 if row_diffs else 0)


if __name__ == "__main__":
    main()
