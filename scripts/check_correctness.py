"""Local stand-in for the driver's correctness gate: run every queries()
entry at sf0.01 and compare against oracle_sql() via DuckDB (row count,
column names, order-insensitive value comparison), PLUS a driver-style
strict canonicalization hash check (stringify-sort-hash, no tolerance)
so representation drift (int64 vs HUGEINT->float64, signed zero,
unhashable array columns) is caught locally before the driver sees it."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

import __spark_entry__ as E  # noqa: E402
from satellitetools_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    df.columns = [c.lower() for c in df.columns]
    df = df[sorted(df.columns)]
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(9)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def driver_hash_check(a: pd.DataFrame, b: pd.DataFrame) -> str:
    """Mimic the driver's canonicalizer: sort columns by name, sort rows
    by all columns, compare exact value representations. Any difference
    here is a driver hash_match=false even when tolerance-compare passes.
    Fails loudly on unhashable (array) columns, exactly like the driver's
    pandas sort_values did for docs_snapshot_diff in round 2."""
    try:
        ca = a[sorted(a.columns)].sort_values(
            list(sorted(a.columns))).reset_index(drop=True)
        cb = b[sorted(b.columns)].sort_values(
            list(sorted(b.columns))).reset_index(drop=True)
    except TypeError as ex:
        return f"CANON-ERROR (driver would crash): {ex}"
    for c in ca.columns:
        # the driver stringifies values before hashing (r02 evidence:
        # int32-vs-int64 and datetime ns-vs-us hashed green; int-vs-float
        # "25" vs "25.0" and signed zero did not)
        ra, rb = ca[c].astype(str), cb[c].astype(str)
        bad = ra != rb
        if bad.any():
            i = bad.idxmax()
            return (f"STR col={c} row={i}: {ca[c].iloc[i]!r} "
                    f"[{ca[c].dtype}] vs {cb[c].iloc[i]!r} "
                    f"[{cb[c].dtype}] ({int(bad.sum())} diffs)")
    return "OK"


def compare(a: pd.DataFrame, b: pd.DataFrame) -> str:
    if len(a) != len(b):
        return f"ROWS {len(a)} vs {len(b)}"
    an, bn = norm(a), norm(b)
    if list(an.columns) != list(bn.columns):
        return f"SCHEMA {list(an.columns)} vs {list(bn.columns)}"
    for c in an.columns:
        ca, cb = an[c], bn[c]
        if str(ca.dtype).startswith("float") or str(cb.dtype).startswith("float"):
            ca = pd.to_numeric(ca, errors="coerce")
            cb = pd.to_numeric(cb, errors="coerce")
            bad = ~((ca.isna() & cb.isna())
                    | ((ca - cb).abs() <= 1e-9 + 1e-9 * cb.abs()))
            if bad.any():
                i = bad.idxmax()
                return f"VALUES col={c} row={i}: {ca[i]!r} vs {cb[i]!r} ({int(bad.sum())} diffs)"
        else:
            if not ca.astype(str).equals(cb.astype(str)):
                bad = ca.astype(str) != cb.astype(str)
                i = bad.idxmax()
                return f"VALUES col={c} row={i}: {ca[i]!r} vs {cb[i]!r} ({int(bad.sum())} diffs)"
    return "OK"


def main():
    only = sys.argv[1:] or None
    qs = E.queries()
    unknown = sorted(set(only or ()) - set(qs))
    if unknown:
        sys.exit(f"unknown query name(s): {', '.join(unknown)}")
    spark = get_spark("correctness-check", master="local[8]", shuffle_partitions=8)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    oracles = E.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            got = fn(spark, SF_DIR).toPandas()
        except Exception as ex:  # noqa: BLE001
            print(f"{name:28s} SPARK-ERROR {type(ex).__name__}: {ex}"[:300])
            failures += 1
            continue
        if name not in oracles:
            print(f"{name:28s} rows-only: {len(got)} rows")
            continue
        try:
            want = con.execute(oracles[name]).df()
        except Exception as ex:  # noqa: BLE001
            print(f"{name:28s} ORACLE-ERROR {type(ex).__name__}: {ex}"[:300])
            failures += 1
            continue
        verdict = compare(got, want)
        if verdict == "OK":
            verdict = driver_hash_check(got, want)
            if verdict != "OK":
                verdict = "HASH " + verdict
        mark = "OK " if verdict == "OK" else "FAIL"
        if verdict != "OK":
            failures += 1
        print(f"{name:28s} {mark} rows={len(got)} {verdict if verdict != 'OK' else ''}")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
