#!/usr/bin/env python3
"""Check recorded analytics results against their DuckDB oracle SQL.

`perfbench.Record <sf> <out.tsv> <dumpDir>` writes each query's
Spark result under <dumpDir>/<query>/ and the oracle SQL to
<dumpDir>/oracle_sql.json, over tables it generated in <workDir>/inputs/sf.
This script runs each oracle in DuckDB over the same tables and compares
the results in the canonical form of tools/compare_oracle.py (columns
sorted by name, rows sorted, values compared by repr). It prints one
"MATCH"/"DIFF"/"ERROR" line per query. With --mark, the provenance of each
matching query in the given expected-fingerprint file becomes `oracle`.

Usage: python3 perfbench/tools/oracle_check.py [--mark <expected.tsv>] <workDir> <dumpDir>
"""
import json
import os
import sys

import duckdb


def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in order], sorted(tuple(repr(r[i]) for i in order) for r in rows)


def mark(path, matched):
    with open(path) as f:
        lines = f.read().splitlines()
    out = []
    for line in lines:
        cols = line.split("\t")
        if not line.startswith("#") and cols[0] in matched:
            cols[3] = "oracle"
        out.append("\t".join(cols))
    with open(path, "w") as f:
        f.write("\n".join(out) + "\n")


def main():
    args = sys.argv[1:]
    expected = None
    if args[:1] == ["--mark"]:
        expected, args = args[1], args[2:]
    work, dump = args[0], args[1]
    matched = set()
    con = duckdb.connect()
    tables = os.path.join(work, "inputs", "sf")
    for t in os.listdir(tables):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM '{tables}/{t}/*.parquet'")
    oracle = json.load(open(os.path.join(dump, "oracle_sql.json")))
    for name in sorted(q for q in oracle if os.path.isdir(os.path.join(dump, q))):
        try:
            o = con.execute(oracle[name])
            want = canon([d[0] for d in o.description], o.fetchall())
            s = con.execute(f"SELECT * FROM '{dump}/{name}/*.parquet'")
            got = canon([d[0] for d in s.description], s.fetchall())
        except Exception as e:  # noqa: BLE001 - report and go on
            print(f"ERROR {name}: {str(e).splitlines()[0][:160]}", flush=True)
            continue
        print(f"{'MATCH' if want == got else 'DIFF'} {name}", flush=True)
        if want == got:
            matched.add(name)
    if expected:
        mark(expected, matched)


if __name__ == "__main__":
    main()
