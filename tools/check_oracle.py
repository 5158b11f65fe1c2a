#!/usr/bin/env python3
"""Local pre-validation of the driver's correctness gate: run graft.Verify
output dirs against DuckDB executing each gate's oracle SQL (SparkEntry.gates,
dumped by Verify as oracle_sql.json) on the same parquet tables, comparing
row sets exactly (columns sorted by name, rows sorted)."""
import json, sys, glob, os
import duckdb
import pyarrow.parquet as pq
import pandas as pd

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

con = duckdb.connect()
for p in glob.glob(f"{sf_dir}/*.parquet"):
    name = os.path.basename(p).replace(".parquet", "")
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
fails = 0
for name, sql in sorted(oracle.items()):
    res_dir = f"{out_dir}/{name}"
    files = glob.glob(f"{res_dir}/*.parquet")
    if not files:
        print(f"[MISS] {name}: no engine output"); fails += 1; continue
    try:
        want = con.execute(sql).df()
    except Exception as e:
        print(f"[ORACLE-ERR] {name}: {e}"); fails += 1; continue
    got = pd.concat([pq.read_table(f).to_pandas() for f in files])
    def canon(df):
        df = df[sorted(df.columns)]
        return df.sort_values(by=list(df.columns)).reset_index(drop=True)
    want, got = canon(want), canon(got)
    if list(want.columns) != list(got.columns):
        print(f"[SCHEMA] {name}: oracle {list(want.columns)} vs engine {list(got.columns)}")
        fails += 1; continue
    if len(want) != len(got):
        print(f"[ROWS] {name}: oracle {len(want)} vs engine {len(got)}")
        fails += 1; continue
    # exact value compare (incl. float bit-equality via equals)
    eq = want.equals(got)
    if not eq:
        neq = (want != got) & ~(want.isna() & got.isna())
        bad = neq.any(axis=1)
        print(f"[VALUES] {name}: {bad.sum()} mismatched rows of {len(want)}")
        print(pd.concat([want[bad].head(3).add_suffix('_oracle'),
                         got[bad].head(3).add_suffix('_engine')], axis=1))
        fails += 1; continue
    print(f"[OK] {name}: {len(want)} rows")
print("FAILURES:", fails)
sys.exit(1 if fails else 0)
