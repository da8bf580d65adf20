#!/usr/bin/env python3
"""Compare registry entry results with their DuckDB oracles.

Usage: oracle_check.py <documents.parquet> <oracle_sql.json> <results dir>...

Each results dir holds one parquet directory per entry. Prints one line per
(results dir, entry in the SQL file): "<dir> <name> OK" or "<dir> <name>
<reason>"; rows are compared as sorted, string-rendered frames.
"""
import json
import os
import sys

import duckdb


def main(docs, sql_file, *results):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
    with open(sql_file) as f:
        oracles = json.load(f)
    for name, sql in sorted(oracles.items()):
        want = con.execute(sql).fetchdf()
        for res in results:
            out = os.path.join(res, name)
            if not os.path.isdir(out):
                print(res, name, "NO OUTPUT")
                continue
            got = con.execute(f"SELECT * FROM read_parquet('{out}/*.parquet')").fetchdf()
            cols = sorted(got.columns)
            if cols != sorted(want.columns):
                print(res, name, "SCHEMA MISMATCH", cols, sorted(want.columns))
                continue
            g = got[cols].astype(str).sort_values(cols).reset_index(drop=True)
            w = want[cols].astype(str).sort_values(cols).reset_index(drop=True)
            print(res, name, "OK" if g.equals(w) else f"MISMATCH rows={len(g)}/{len(w)}")


if __name__ == "__main__":
    main(*sys.argv[1:])
