#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: for each query result
parquet written by graft.Verify, run the oracle SQL in DuckDB over the
same sf directory and compare (schema-insensitive to column order: columns
sorted by name, rows sorted, exact value equality). Each OK line ends with
the md5 of that sorted result set (as CSV), so two runs' outputs can be
checked for identical results with a plain `diff`."""
import hashlib, json, sys, glob, os
import duckdb
import pandas as pd

sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    p = f"{sfdir}/{t}.parquet"
    if os.path.exists(p):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
ok, bad = [], []
for name, sql in sorted(oracle.items()):
    res_path = f"{outdir}/{name}"
    if not glob.glob(f"{res_path}/*.parquet"):
        bad.append((name, "no spark output")); continue
    try:
        spark_df = con.sql(f"SELECT * FROM '{res_path}/*.parquet'").df()
        duck_df = con.sql(sql).df()
    except Exception as e:
        bad.append((name, f"exec error: {e}")); continue
    sc, dc = sorted(spark_df.columns), sorted(duck_df.columns)
    if sc != dc:
        bad.append((name, f"columns differ: spark={sc} duck={dc}")); continue
    a = spark_df[sc].sort_values(sc, ignore_index=True)
    b = duck_df[dc].sort_values(dc, ignore_index=True)
    if len(a) != len(b):
        bad.append((name, f"row count: spark={len(a)} duck={len(b)}")); continue
    # the driver's hash is dtype-sensitive (DuckDB HUGEINT → float64 broke
    # round 1): fail on any dtype divergence, not just value divergence
    if list(a.dtypes) != list(b.dtypes):
        bad.append((name, f"dtypes differ: spark={list(a.dtypes)} duck={list(b.dtypes)}"))
        continue
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=True, check_exact=True)
        ok.append((name, len(a),
                   hashlib.md5(a.to_csv(index=False).encode()).hexdigest()))
    except AssertionError as e:
        bad.append((name, str(e).splitlines()[0] + " (first diff)"))
        # show a few diffs
        for c in sc:
            if not a[c].equals(b[c]):
                m = a[c] != b[c]
                print(f"  [{name}] col {c}: {m.sum()} diffs; "
                      f"spark={a[c][m].head(3).tolist()} duck={b[c][m].head(3).tolist()}")
for n, r, h in ok:
    print(f"OK   {n} ({r} rows) md5={h}")
for n, msg in bad:
    print(f"FAIL {n}: {msg}")
print(f"\n{len(ok)}/{len(ok)+len(bad)} queries match")
sys.exit(0 if not bad else 1)
