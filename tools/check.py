#!/usr/bin/env python3
"""Dev-only local mimic of the driver's correctness gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [query ...]

Reads oracle_sql.json from the verify output dir, runs each oracle in
DuckDB against views named after the testdata tables, loads the Spark
result parquet, and compares after sorting columns by name and rows by
all columns. Not part of the library (driver-side tooling only).
"""
import json
import math
import os
import sys
import tempfile

import duckdb

# DuckDB's default limit is 80 % of physical memory, which a wide
# oracle can fill; a capped limit with a spill directory makes it
# spill to disk instead. (q_pca_power's oracle once ran out of memory
# under this cap: DuckDB 1.0 inlines a CTE at every reference, and its
# six power rounds each read the covariance CTE twice, so the plan
# doubled per round. The CTE is now MATERIALIZED and the oracle runs
# in under 2 s at sf0.001 and sf0.01.)
MEMORY_LIMIT = "4GB"

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    return repr(v)


def frame(rel):
    df = rel.df()
    df = df.reindex(sorted(df.columns, key=str.lower), axis=1)
    rows = [tuple(norm_cell(v) for v in row) for row in df.itertuples(index=False)]
    rows.sort()
    return list(df.columns), [str(t) for t in df.dtypes], rows


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    con.execute(f"SET memory_limit = '{MEMORY_LIMIT}'")
    con.execute("SET temp_directory = '%s'"
                % os.path.join(tempfile.gettempdir(), "graft-check-duckdb"))
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracles.items()):
        if only and name not in only:
            continue
        try:
            o_cols, o_types, o_rows = frame(con.sql(sql))
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_fail += 1
            continue
        try:
            s_cols, s_types, s_rows = frame(
                con.sql(f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')"))
        except Exception as e:
            print(f"FAIL {name}: spark result missing/unreadable: {e}")
            n_fail += 1
            continue
        schema_ok = [c.lower() for c in o_cols] == [c.lower() for c in s_cols]
        rows_ok = len(o_rows) == len(s_rows)
        hash_ok = o_rows == s_rows
        if schema_ok and rows_ok and hash_ok:
            n_pass += 1
            print(f"PASS {name} ({len(s_rows)} rows)")
            if o_types != s_types:
                print(f"  note dtypes differ: oracle={o_types} spark={s_types}")
        else:
            n_fail += 1
            print(f"FAIL {name}: schema={schema_ok} rows={rows_ok} "
                  f"({len(o_rows)} vs {len(s_rows)}) hash={hash_ok}")
            if not schema_ok:
                print(f"  oracle cols: {o_cols}\n  spark  cols: {s_cols}")
            if rows_ok and not hash_ok:
                for i, (a, b) in enumerate(zip(o_rows, s_rows)):
                    if a != b:
                        print(f"  first diff row {i}:\n   oracle: {a}\n   spark : {b}")
                        break
    print(f"== {n_pass} pass / {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
