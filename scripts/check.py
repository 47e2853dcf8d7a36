#!/usr/bin/env python3
"""Local pre-check of the driver's DuckDB-oracle compare.

Runs each oracle SQL from Verify's oracle_sql.json in DuckDB over the same
parquet tables, then compares against the engine's parquet output:
columns sorted by name, rows sorted, exact value equality (bit-exact for
floats — that is what a hash compare implies). A checked query that
Verify's verify_report.json lists under zero_rows fails: an empty output
passes any compare vacuously. A missing report is a failure too.

Usage: python3 scripts/check.py <sfDir> <verifyOutDir> [query ...]
"""
import json, math, sys
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.reset_index(drop=True)


def values_equal(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    return a == b


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    try:
        zero_rows = set(json.load(open(f"{out_dir}/verify_report.json"))["zero_rows"])
    except (OSError, ValueError, KeyError) as e:
        print(f"FAIL verify_report.json: {e}")
        n_fail += 1
        zero_rows = set()
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        if name in zero_rows:
            print(f"FAIL {name}: zero rows")
            n_fail += 1
            continue
        try:
            exp = norm(con.execute(sql).fetchdf())
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_fail += 1
            continue
        try:
            # read engine output through duckdb too, so both sides get the
            # same type canonicalization (DATE vs datetime.date, ns vs us)
            got = norm(con.execute(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").fetchdf())
        except Exception as e:
            print(f"FAIL {name}: engine output missing: {e}")
            n_fail += 1
            continue
        if list(exp.columns) != list(got.columns):
            print(f"FAIL {name}: columns exp={list(exp.columns)} got={list(got.columns)}")
            n_fail += 1
            continue
        if len(exp) != len(got):
            print(f"FAIL {name}: rows exp={len(exp)} got={len(got)}")
            n_fail += 1
            continue
        bad = None
        for c in exp.columns:
            ev, gv = exp[c].tolist(), got[c].tolist()
            for i, (a, b) in enumerate(zip(ev, gv)):
                if not values_equal(a, b):
                    bad = (c, i, a, b)
                    break
            if bad:
                break
        if bad:
            c, i, a, b = bad
            print(f"FAIL {name}: value mismatch col={c} row={i} exp={a!r} got={b!r}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(exp)} rows)")
            n_pass += 1
    print(f"zero_rows: {sorted(zero_rows)}")
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
