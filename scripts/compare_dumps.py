#!/usr/bin/env python3
"""Compare two `graft.Verify` dumps query by query.

Usage: python3 scripts/compare_dumps.py DUMP_A DUMP_B

A dump is the output directory of
`graft.Verify <sfDir> <outDir>`: one parquet directory per query plus
`oracle_sql.json`. For every query directory found in either dump this
compares, with DuckDB:

  - the column names and types, in order;
  - the row multiset (`EXCEPT ALL` in both directions, so duplicates
    count and row order does not).

It also compares the bytes of the two `oracle_sql.json` files. Each query
that differs is printed with the reason; the exit status is 1 if anything
differs and 0 otherwise. Run it over two dumps of the same commit first:
a query that differs there is nondeterministic, not changed.
"""
import os
import sys

import duckdb


def query_dirs(dump):
    return {
        name for name in os.listdir(dump)
        if os.path.isdir(os.path.join(dump, name))
    }


def scan(dump, name):
    glob = os.path.join(dump, name, "*.parquet").replace("'", "''")
    return f"read_parquet('{glob}')"


def compare_query(con, a, b, name):
    """None if the two dumps of `name` agree, else the reason they do not."""
    try:
        sa = con.execute(f"DESCRIBE SELECT * FROM {scan(a, name)}").fetchall()
        sb = con.execute(f"DESCRIBE SELECT * FROM {scan(b, name)}").fetchall()
    except duckdb.Error as e:
        return f"unreadable: {e}"
    cols_a = [(c[0], c[1]) for c in sa]
    cols_b = [(c[0], c[1]) for c in sb]
    if cols_a != cols_b:
        return f"columns differ: {cols_a} vs {cols_b}"
    only = [
        con.execute(
            f"SELECT count(*) FROM (SELECT * FROM {scan(x, name)}"
            f" EXCEPT ALL SELECT * FROM {scan(y, name)})").fetchone()[0]
        for x, y in ((a, b), (b, a))
    ]
    if any(only):
        return f"rows differ: {only[0]} only in A, {only[1]} only in B"
    return None


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    a, b = argv[1], argv[2]
    con = duckdb.connect()
    names_a, names_b = query_dirs(a), query_dirs(b)
    differ = []
    for name in sorted(names_a | names_b):
        if name not in names_b:
            reason = "only in A"
        elif name not in names_a:
            reason = "only in B"
        else:
            reason = compare_query(con, a, b, name)
        if reason:
            differ.append(name)
            print(f"{name}: {reason}")
    sql_a, sql_b = (os.path.join(d, "oracle_sql.json") for d in (a, b))
    if not (os.path.exists(sql_a) and os.path.exists(sql_b)):
        differ.append("oracle_sql.json")
        print("oracle_sql.json: missing")
    else:
        with open(sql_a, "rb") as fa, open(sql_b, "rb") as fb:
            if fa.read() != fb.read():
                differ.append("oracle_sql.json")
                print("oracle_sql.json: bytes differ")
    total = len(names_a | names_b)
    print(f"{len(differ)} differ; {total} queries compared")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
