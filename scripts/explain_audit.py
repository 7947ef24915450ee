"""Dump formatted physical plans for every registry query to
bench/PLANS.md — the reviewable evidence that each operator compiles
to the plan you'd want at 100 TB (pruned scans, equi-joins, broadcast
sides, partial aggregation, single Arrow stages).

Usage: python scripts/explain_audit.py [sf_dir] [query ...]  (default: all)
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    import __spark_entry__ as e
    from webextract.session import get_spark

    spark = get_spark("explain-audit")
    qs = e.queries()
    only = sys.argv[2:] or list(qs)
    out = [
        "# PLANS — formatted physical plans (generated by "
        "scripts/explain_audit.py)",
        "",
        f"sf_dir: `{sf_dir}`. Things to check per plan: `PushedFilters`/"
        "`ReadSchema` on scans, `BroadcastHashJoin` for small sides, no "
        "`CartesianProduct`/`BroadcastNestedLoopJoin` on corpus sides, "
        "`partial_*` aggregates before shuffles, one `MapInArrow` per "
        "Python stage.",
        "",
    ]
    for name in only:
        df = qs[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        out.append(f"## {name}\n\n```\n{plan.rstrip()}\n```\n")
    with open(os.path.join(REPO, "bench/PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote bench/PLANS.md ({len(only)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
