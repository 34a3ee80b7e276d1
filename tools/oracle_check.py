#!/usr/bin/env python3
"""Driver-mimic correctness check: run each oracle_sql.json query in DuckDB
over the same parquet tables and compare to the Spark parquet dump
(columns sorted by name, rows sorted, exact value equality).

Every PASS/FAIL/ROWS-ONLY line ends in `md5=<hex>`, a digest of the Spark
output's rows (columns sorted by name, rows sorted), so two output dirs
compare with `diff` on the two runs' output."""
import json, sys, glob, os
import duckdb

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

con = duckdb.connect()
for p in glob.glob(f"{sf_dir}/*.parquet"):
    name = os.path.basename(p)[:-8]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

def row_md5(path):
    """md5 of the output's rows, each cast to text with its columns in name
    order, sorted and newline-joined; `ERR:<message>` when the output cannot
    be read (a parent/change diff must also find no `md5=ERR`)."""
    try:
        cols = sorted(c for c, *_ in con.sql(f"DESCRIBE SELECT * FROM '{path}/*.parquet'").fetchall())
        sel = ", ".join(f'"{c}"' for c in cols)
        return con.sql(f"SELECT md5(coalesce(string_agg(CAST(r AS VARCHAR), chr(10) "
                       f"ORDER BY CAST(r AS VARCHAR)), '')) "
                       f"FROM (SELECT {sel} FROM '{path}/*.parquet') r").fetchone()[0]
    except Exception as e:
        return "ERR:" + " ".join(str(e).split())

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
fails, passes, skips = [], [], []
for name, sql in sorted(oracle.items()):
    spark_path = f"{out_dir}/{name}"
    if not os.path.isdir(spark_path):
        fails.append((name, "spark output missing")); continue
    try:
        odf = con.sql(sql).df()
    except Exception as e:
        fails.append((name, f"duckdb error: {e}")); continue
    sdf = con.sql(f"SELECT * FROM '{spark_path}/*.parquet'").df()
    oc, sc = sorted(odf.columns), sorted(sdf.columns)
    if oc != sc:
        fails.append((name, f"columns differ: oracle={oc} spark={sc}")); continue
    o = odf[oc].sort_values(oc).reset_index(drop=True)
    s = sdf[oc].sort_values(oc).reset_index(drop=True)
    if len(o) != len(s):
        fails.append((name, f"row count: oracle={len(o)} spark={len(s)}")); continue
    try:
        import pandas as pd
        eq = o.equals(s)
        if not eq:
            # locate first mismatch
            diffcols = [c for c in oc if not o[c].equals(s[c])]
            detail = []
            for c in diffcols[:3]:
                mask = ~(o[c] == s[c])
                try:
                    mask = mask | (o[c].isna() != s[c].isna())
                except Exception:
                    pass
                idx = mask[mask].index[:3].tolist()
                detail.append(f"{c}: rows {idx} oracle={o[c].iloc[idx].tolist() if idx else []} spark={s[c].iloc[idx].tolist() if idx else []}")
            fails.append((name, f"{len(o)} rows; value mismatch in {diffcols}; " + " | ".join(detail)))
        else:
            passes.append((name, len(o)))
    except Exception as e:
        fails.append((name, f"compare error: {e}"))

for n, c in passes: print(f"PASS {n} ({c} rows) md5={row_md5(f'{out_dir}/{n}')}")
for n, msg in fails: print(f"FAIL {n}: {msg} md5={row_md5(f'{out_dir}/{n}')}")
rows_only = [d for d in sorted(os.listdir(out_dir))
             if os.path.isdir(f"{out_dir}/{d}") and d not in oracle]
for d in rows_only:
    n = con.sql(f"SELECT count(*) FROM '{out_dir}/{d}/*.parquet'").fetchone()[0]
    print(f"ROWS-ONLY {d}: {n} rows" + ("  <-- EMPTY!" if n == 0 else "")
          + f" md5={row_md5(f'{out_dir}/{d}')}")
print(f"\n{len(passes)} pass, {len(fails)} fail, {len(rows_only)} rows-only")
sys.exit(1 if fails else 0)
