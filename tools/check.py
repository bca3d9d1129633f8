#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run Verify output vs
DuckDB oracle on the same parquet tables. Usage: check.py SFDIR OUTDIR"""
import sys, os, json, glob
import duckdb
import pandas as pd

sfdir, outdir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
fails = ok = 0
# Verify writes an oracle only for the queries it ran, so an oracle with no
# output dir is a query that failed.
for name in sorted(oracle):
    if not os.path.isdir(os.path.join(outdir, name)):
        fails += 1
        print(f"{name}: FAIL  NO-OUTPUT (the query failed in Verify)")
for name in sorted(os.listdir(outdir)):
    d = os.path.join(outdir, name)
    if not os.path.isdir(d):
        continue
    spark_df = pd.concat([pd.read_parquet(f) for f in sorted(glob.glob(f"{d}/*.parquet"))])
    if name not in oracle:
        print(f"{name}: ROWS-ONLY rows={len(spark_df)}")
        continue
    try:
        duck_df = con.sql(oracle[name]).df()
    except Exception as e:
        fails += 1
        print(f"{name}: FAIL  ORACLE-ERR {e}")
        continue
    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        return df.sort_values(by=list(df.columns)).reset_index(drop=True)
    s, k = canon(spark_df), canon(duck_df)
    status = []
    if list(s.columns) != list(k.columns):
        status.append(f"COLS spark={list(s.columns)} duck={list(k.columns)}")
    elif len(s) != len(k):
        status.append(f"NROWS spark={len(s)} duck={len(k)}")
    else:
        for c in s.columns:
            a, b = s[c], k[c]
            try:
                if str(a.dtype).startswith("datetime") or str(b.dtype).startswith("datetime"):
                    a = pd.to_datetime(a).astype("datetime64[us]")
                    b = pd.to_datetime(b).astype("datetime64[us]")
                eq = (a.values == b.values) | (pd.isna(a.values) & pd.isna(b.values))
                if not eq.all():
                    i = (~eq).argmax()
                    status.append(f"VAL col={c} row={i} spark={a.iloc[i]!r} duck={b.iloc[i]!r} ndiff={(~eq).sum()}")
            except Exception as e:
                status.append(f"CMPERR col={c}: {e}")
        # dtype check (schema-ish)
        for c in s.columns:
            if str(s[c].dtype) != str(k[c].dtype):
                status.append(f"DTYPE col={c} spark={s[c].dtype} duck={k[c].dtype}")
    if status:
        fails += 1
        print(f"{name}: FAIL  " + " | ".join(status[:3]))
    else:
        ok += 1
        print(f"{name}: OK rows={len(s)}")
print(f"\n{ok} ok, {fails} fail")
sys.exit(1 if fails else 0)
