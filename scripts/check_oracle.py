"""Local replica of the driver's correctness gate: run each
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB at
the same sf, compare row count + column names + exact values
(columns sorted by name, rows sorted by all columns).

Usage: python scripts/check_oracle.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def compare(sdf: pd.DataFrame, odf: pd.DataFrame) -> str:
    """The gate's verdict on a Spark result vs its oracle: "ok", or
    "FAIL <reason>" naming the first difference found."""
    a, b = normalize(sdf), normalize(odf)
    if list(a.columns) != list(b.columns):
        return f"FAIL columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"FAIL rows {len(a)} vs {len(b)}"
    # the gate hashes raw values, so an int64-vs-float64 column is a
    # hash mismatch even when values are equal — compare dtype KINDS
    kind_bad = [
        c
        for c in a.columns
        if a[c].dtype.kind != b[c].dtype.kind
        and {a[c].dtype.kind, b[c].dtype.kind} <= {"i", "u", "f"}
    ]
    if kind_bad:
        return f"FAIL dtype kinds {kind_bad}"
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
    except AssertionError as ex:
        return "FAIL " + str(ex).splitlines()[0]
    return "ok"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from webextract.session import get_spark

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = e.queries()
    oracles = e.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir).toPandas()
        if name not in oracles:
            print(f"{name:>22}: rows-only  rows={len(sdf)}")
            if len(sdf) == 0 and name != "dedup_lsh_pairs":
                failures.append((name, "0 rows"))
            continue
        verdict = compare(sdf, con.sql(oracles[name]).df())
        print(f"{name:>22}: {verdict}  rows={len(sdf)}")
        if verdict != "ok":
            failures.append((name, verdict))
    print()
    if failures:
        print(f"{len(failures)} FAILURES: {[n for n, _ in failures]}")
        return 1
    print("all queries match")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
