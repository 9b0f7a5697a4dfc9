"""Local stand-in for the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB over the same sf dir, compare
row count + order-insensitive value hash (columns sorted by name, rows
sorted, floats canonicalized).

Usage: python scripts/check_contract.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].round(9)
    df = df.sort_values(by=list(df.columns), kind="stable").reset_index(drop=True)
    return df


def dtype_sig(df: pd.DataFrame) -> str:
    """Per-column dtype family+width signature, hashed alongside the values.

    Driver parity: the driver's value hash is type-sensitive (int32 vs int64
    vs float64 all differ — the round-2 embed_centroids miss), so the local
    checker must distinguish them too instead of CSV-flattening everything.
    object/str columns canonicalize to 'str'; everything numeric keeps its
    numpy kind+itemsize (i4, i8, f8, u8, b1, ...).
    """
    parts = []
    for c in sorted(df.columns):
        dt = df[c].dtype
        if dt == object:
            parts.append(f"{c}:str")
        else:
            parts.append(f"{c}:{dt.kind}{dt.itemsize}")
    return ";".join(parts)


def value_hash(df: pd.DataFrame) -> str:
    sig = dtype_sig(df)
    df = canon(df)
    payload = (sig + "\n").encode() + df.to_csv(index=False, float_format="%.9g").encode()
    return hashlib.sha256(payload).hexdigest()


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as e
    from ocr_spark.plans.session import get_spark

    spark = get_spark("contract_check", cpus=8)

    con = duckdb.connect()
    for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries, oracles = e.queries(), e.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            failures.append(name)
            print(f"FAIL  {name:18s} spark error: {str(ex).splitlines()[0][:120]}")
            continue
        if name not in oracles:
            print(f"ROWS  {name:18s} rows={len(sdf):7d} cols={list(sdf.columns)} ({time.time()-t0:.1f}s)")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as ex:
            failures.append(name)
            print(f"FAIL  {name:18s} duckdb error: {str(ex).splitlines()[0][:120]}")
            continue
        ok_rows = len(sdf) == len(odf)
        ok_cols = sorted(sdf.columns) == sorted(odf.columns)
        ok_hash = ok_rows and ok_cols and value_hash(sdf) == value_hash(odf)
        status = "OK   " if ok_hash else "FAIL "
        if not ok_hash:
            failures.append(name)
        print(
            f"{status} {name:18s} rows={len(sdf):7d}/{len(odf):7d} "
            f"cols_match={ok_cols} hash_match={ok_hash} ({time.time()-t0:.1f}s)"
        )
        if not ok_hash and ok_rows and ok_cols:
            if dtype_sig(sdf) != dtype_sig(odf):
                print("  dtype mismatch:")
                print("   spark :", dtype_sig(sdf))
                print("   duckdb:", dtype_sig(odf))
            a, b = canon(sdf), canon(odf)
            neq = (a != b) & ~(a.isna() & b.isna())
            bad = neq.any(axis=1)
            if bad.any():
                i = bad.idxmax()
                print("  first diff row:")
                print("   spark :", a.loc[i].to_dict())
                print("   duckdb:", b.loc[i].to_dict())

    spark.stop()
    print("\n%d failures" % len(failures), failures)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
