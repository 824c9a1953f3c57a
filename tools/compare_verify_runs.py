#!/usr/bin/env python3
"""Compare two graft.Verify output dirs, e.g. one run on a parent commit
and one on a change that must not move any answer.

For every query dir it checks, with DuckDB, that both runs have:
  - the same query dirs;
  - the same column names, in order, with the same logical types;
  - identical rows after sorting, with floats compared bit for bit
    (no rounding).
It also compares the two oracle_sql.json files as dicts, so moved
oracle SQL must be byte-identical. Unlike compare_oracle.py it needs no
testdata and covers the queries that have no SQL oracle.

Exits 1 on any difference. A query that differs between two runs of
the same commit is nondeterministic; such a query still shows here.

Usage: compare_verify_runs.py <verify_out_a> <verify_out_b>
"""
import json
import os
import sys

import duckdb


def canon(v):
    """A value as an exactly comparable, sortable key."""
    if isinstance(v, float):
        return ("f", v.hex())
    if isinstance(v, dict):
        return ("d", tuple((k, canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return ("l", tuple(canon(x) for x in v))
    if v is None:
        return ("n",)
    return (type(v).__name__, repr(v))


def query_dirs(out_dir):
    return {d for d in os.listdir(out_dir)
            if os.path.isdir(os.path.join(out_dir, d))}


def relation(con, out_dir, name):
    src = f"'{out_dir}/{name}/*.parquet'"
    schema = [(r[0], r[1])
              for r in con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()]
    rows = sorted(tuple(canon(v) for v in r)
                  for r in con.execute(f"SELECT * FROM {src}").fetchall())
    return schema, rows


def main():
    a_dir, b_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    failures = []
    a_names, b_names = query_dirs(a_dir), query_dirs(b_dir)
    for name in sorted(a_names ^ b_names):
        side = a_dir if name in a_names else b_dir
        failures.append(f"{name}: only in {side}")
    for name in sorted(a_names & b_names):
        a_schema, a_rows = relation(con, a_dir, name)
        b_schema, b_rows = relation(con, b_dir, name)
        if a_schema != b_schema:
            failures.append(f"{name}: schema {a_schema} vs {b_schema}")
        elif a_rows != b_rows:
            first = next((i for i, (x, y) in enumerate(zip(a_rows, b_rows))
                          if x != y), min(len(a_rows), len(b_rows)))
            failures.append(f"{name}: rows {len(a_rows)} vs {len(b_rows)}, "
                            f"first difference at sorted row {first}")
    a_sql = json.load(open(os.path.join(a_dir, "oracle_sql.json")))
    b_sql = json.load(open(os.path.join(b_dir, "oracle_sql.json")))
    for name in sorted(set(a_sql) | set(b_sql)):
        if a_sql.get(name) != b_sql.get(name):
            failures.append(f"oracle_sql.json: {name} differs")
    for f in failures:
        print(f"DIFF {f}")
    print(f"{len(a_names & b_names)} query dirs compared, "
          f"{len(set(a_sql) | set(b_sql))} oracles compared, "
          f"{len(failures)} differences")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
