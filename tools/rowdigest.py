#!/usr/bin/env python3
"""Sorted-row sha256 of the Spark result and of the DuckDB oracle result
of named queries, to show a refactor left their output unchanged.

    python3 tools/rowdigest.py <sfDir> <verifyOutDir> q_a,q_b,...

<verifyOutDir> is a `graft.Verify` output directory (one parquet
directory per query plus oracle_sql.json). Each row is rendered as the
repr of its tuple, in column order; the rows are sorted and hashed. Two
runs print the same line for a query exactly when both sides' row sets
(column names and order included) are the same.
"""
import hashlib
import json
import os
import sys

import duckdb

from check import TABLES


def digest(rel) -> str:
    h = hashlib.sha256(repr(rel.columns).encode())
    for line in sorted(repr(r) for r in rel.fetchall()):
        h.update(line.encode() + b"\n")
    return h.hexdigest()


def main(sf_dir, out_dir, names):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    for n in names.split(","):
        spark = con.sql(f"SELECT * FROM '{out_dir}/{n}/*.parquet'")
        print(f"{n} spark={digest(spark)} oracle={digest(con.sql(oracles[n]))}")


if __name__ == "__main__":
    main(*sys.argv[1:])
