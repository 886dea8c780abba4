#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [--json <path>]

Reads each <verifyOutDir>/<name> parquet (Spark result), runs the matching
oracle SQL from <verifyOutDir>/oracle_sql.json in DuckDB over the sfDir
parquet tables, sorts columns by name + rows, and compares values.

--json writes one object per query: rows_match, schema_match (same
column names and dtype kinds), hash_match (the normalized frames are
exactly equal), spark_rows, oracle_rows and err (why a side is missing,
else null); a value that could not be computed is null.
"""
import argparse
import json
import sys

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            sample = df[c].dropna()
            if len(sample) and all(hasattr(v, "year") for v in sample.head(5)):
                df[c] = pd.to_datetime(df[c])
        elif str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir")
    ap.add_argument("out_dir")
    ap.add_argument("--json", dest="json_out",
                    help="write a per-query match summary here")
    args = ap.parse_args()
    sf_dir, out_dir = args.sf_dir, args.out_dir
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    failures = 0
    summary = {}
    for name, sql in sorted(oracle.items()):
        rec = summary[name] = {"rows_match": None, "schema_match": None,
                               "hash_match": None, "spark_rows": None,
                               "oracle_rows": None, "err": None}
        try:
            got = pd.read_parquet(f"{out_dir}/{name}")
            rec["spark_rows"] = len(got)
        except Exception as e:
            print(f"FAIL {name}: no spark result ({e})")
            rec["err"] = f"no spark result: {e}"
            failures += 1
            continue
        try:
            want = con.sql(sql).df()
            rec["oracle_rows"] = len(want)
        except Exception as e:
            print(f"FAIL {name}: oracle error: {str(e)[:300]}")
            rec["err"] = f"oracle error: {str(e)[:300]}"
            failures += 1
            continue
        g, w = normalize(got), normalize(want)
        rec["rows_match"] = len(g) == len(w)
        rec["schema_match"] = list(g.columns) == list(w.columns) and all(
            g[c].dtype.kind == w[c].dtype.kind for c in g.columns)
        rec["hash_match"] = False
        if list(g.columns) != list(w.columns):
            print(f"FAIL {name}: columns {list(g.columns)} != {list(w.columns)}")
            failures += 1
            continue
        if len(g) != len(w):
            print(f"FAIL {name}: rows {len(g)} != {len(w)}")
            failures += 1
            continue
        kind_mismatch = [
            (c, g[c].dtype, w[c].dtype) for c in g.columns
            if g[c].dtype.kind != w[c].dtype.kind
        ]
        if kind_mismatch:
            print(f"FAIL {name}: dtype-kind mismatch {kind_mismatch}")
            failures += 1
            continue
        try:
            pd.testing.assert_frame_equal(g, w, check_dtype=False,
                                          check_exact=True)
            rec["hash_match"] = True
            print(f"OK   {name} ({len(g)} rows)")
        except AssertionError as e:
            print(f"FAIL {name}: value mismatch\n{str(e)[:500]}")
            # show first diffs
            for c in g.columns:
                gc, wc = g[c], w[c]
                neq = ~((gc == wc) | (gc.isna() & wc.isna()))
                if neq.any():
                    i = neq.idxmax()
                    print(f"  col {c}: first diff at row {i}: "
                          f"spark={gc[i]!r} oracle={wc[i]!r} ({int(neq.sum())} diffs)")
            failures += 1
    print(f"\n{len(oracle) - failures}/{len(oracle)} queries match")
    if args.json_out:
        with open(args.json_out, "w") as f:
            json.dump(summary, f)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
