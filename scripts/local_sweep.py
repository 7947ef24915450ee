"""Full-registry local correctness sweep → one JSON verdict file.

The driver's per-round gate samples only the first 50 registry
entries; this sweep runs EVERY ``queries()`` entry against its
``oracle_sql()`` twin (the check_oracle comparison: row count, column
names, dtype kinds, exact values) at each fixture scale given (all
three by default) and writes the verdicts to ``out.json``::

    {"<query>": {"sf0.001": "ok", "sf0.01": "ok", "sf0.1": "ok"}, ...}

The output path is required, so a bare run cannot overwrite a
committed record such as ``CORRECTNESS_LOCAL_r5.json``.

Usage: python scripts/local_sweep.py out.json [sf_dir ...]
"""

from __future__ import annotations

import json
import sys
import time

import duckdb

# sibling import (the script's directory is sys.path[0]); check_oracle
# also puts the repo root on sys.path
from check_oracle import TABLES, compare

DEFAULT_SFS = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
]


USAGE = "usage: python scripts/local_sweep.py out.json [sf_dir ...]"


def main() -> int:
    if len(sys.argv) < 2:
        print(USAGE, file=sys.stderr)
        return 2
    out_path = sys.argv[1]
    sf_dirs = sys.argv[2:] or DEFAULT_SFS

    import __spark_entry__ as e
    from webextract.session import get_spark

    spark = get_spark("local-sweep")
    qs, oracles = e.queries(), e.oracle_sql()
    result: dict[str, dict[str, str]] = {q: {} for q in qs}
    failures = 0
    for sf_dir in sf_dirs:
        sf = sf_dir.rstrip("/").rsplit("/", 1)[-1]
        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        for name, fn in qs.items():
            t0 = time.perf_counter()
            try:
                sdf = fn(spark, sf_dir).toPandas()
                if name not in oracles:
                    verdict = f"rows-only n={len(sdf)}"
                else:
                    verdict = compare(sdf, con.sql(oracles[name]).df())
            except Exception as ex:  # noqa: BLE001 — record, keep sweeping
                verdict = f"FAIL error {type(ex).__name__}: {ex}"[:300]
            result[name][sf] = verdict
            if verdict.startswith("FAIL"):
                failures += 1
            print(
                f"{sf:>8} {name:>22}: {verdict}"
                f"  ({time.perf_counter() - t0:.1f}s)",
                flush=True,
            )
        con.close()
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    print(f"\nwrote {out_path}; {failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
