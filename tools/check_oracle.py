#!/usr/bin/env python3
"""Local pre-validation mimicking the driver's correctness gate:
run graft.Verify at a given SF, then execute each oracle_sql.json entry
in DuckDB over the same parquet tables and compare EXACTLY
(schema-insensitive: columns sorted by name, rows sorted; values
stringified with no float rounding and no decimal-scale forgiveness,
dtype mismatches fail — so local green predicts the driver's hash).

Usage: python3 tools/check_oracle.py [sfdir] [outdir]

With SPARK_GRAFT_VERIFY_ONLY set (the comma-separated subset graft.Verify
then dumps), only the named entries are compared; a named entry whose
result is missing still fails.
"""
import json
import os
import sys
import glob
import duckdb
import pandas as pd
import pyarrow.dataset as pads

sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

con = duckdb.connect()
for p in glob.glob(f"{sfdir}/*.parquet"):
    name = p.split("/")[-1].replace(".parquet", "")
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
only = os.environ.get("SPARK_GRAFT_VERIFY_ONLY")
if only is not None:
    names = {n.strip() for n in only.split(",")}
    oracle = {k: v for k, v in oracle.items() if k in names}
fails = []
for name, sql in sorted(oracle.items()):
    res_dir = f"{outdir}/{name}"
    try:
        # the Spark side MUST come through pyarrow→pandas (the driver's
        # path), NOT DuckDB: DuckDB coerces DECIMAL to float64 on read,
        # which masked r8's q_nb_eval decimal-vs-float canonical-string
        # divergence (local green, driver red). Only the oracle side
        # goes through DuckDB.
        got = pads.dataset(glob.glob(f"{res_dir}/*.parquet")) \
            .to_table().to_pandas()
    except Exception as e:
        fails.append(name)
        print(f"FAIL {name}: cannot read spark result: {e}")
        continue
    try:
        exp = con.execute(sql).df()
    except Exception as e:
        fails.append(name)
        print(f"FAIL {name}: oracle sql error: {e}")
        continue

    def norm(df):
        df = df.reindex(sorted(df.columns), axis=1)
        # temporal canonicalization (the pyarrow read path returns
        # datetime64[ns] and date OBJECTS where DuckDB returns
        # datetime64[us]; the driver treats these as equal — q_range_
        # pairs/q_cohort_pivot hash green — so the local gate must
        # too). Decimal objects are deliberately NOT coerced: their
        # canonical-string divergence is a real driver red.
        import datetime as _dt
        for c in df.columns:
            dt = str(df[c].dtype)
            if dt.startswith("datetime64"):
                df[c] = df[c].astype("datetime64[us]")
            elif dt == "object" and len(df) and df[c].map(
                    lambda x: x is None or
                    isinstance(x, (_dt.date, _dt.datetime))).all():
                df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        dtypes = {c: str(df[c].dtype) for c in df.columns}
        for c in df.columns:
            # NO float rounding and NO decimal-scale forgiveness: the
            # driver hashes canonicalized values, and a DECIMAL whose
            # scale-string differs from the double repr ("133.50" vs
            # "133.5") hash-mismatches even when values are equal. Exact
            # stringify here so local green predicts driver green.
            df[c] = df[c].astype(str)
        return df.sort_values(by=list(df.columns)).reset_index(drop=True), dtypes

    (g, gt), (e, et) = norm(got), norm(exp)
    if gt != et:
        fails.append(name)
        print(f"FAIL {name}: dtype mismatch spark={gt} oracle={et}")
        continue
    if list(g.columns) != list(e.columns):
        fails.append(name)
        print(f"FAIL {name}: columns spark={list(g.columns)} oracle={list(e.columns)}")
    elif len(g) != len(e):
        fails.append(name)
        print(f"FAIL {name}: rows spark={len(g)} oracle={len(e)}")
    elif not g.equals(e):
        fails.append(name)
        diff = (g != e).any(axis=1)
        print(f"FAIL {name}: value mismatch on {diff.sum()} rows; first:")
        idx = diff[diff].index[0]
        print("  spark :", g.loc[idx].to_dict())
        print("  oracle:", e.loc[idx].to_dict())
    else:
        print(f"OK   {name} ({len(g)} rows)")

print(f"\n{len(oracle) - len(fails)}/{len(oracle)} queries match")
sys.exit(1 if fails else 0)
