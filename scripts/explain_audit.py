"""Dump formatted physical plans for every registry query to
bench/PLANS.md — the reviewable evidence that each operator compiles
to the plan you'd want at 100 TB (pruned scans, equi-joins, broadcast
sides, partial aggregation, single Arrow stages).

Spark numbers expression ids (``doc_id#12L``), lambda variables
(``x_3``), exchanges (``plan_id=37``) and checkpointed RDDs
(``MapPartitionsRDD[172]``) from session-wide counters, so
the raw numbers depend on what ran before. Each plan is written with
them renumbered in order of first appearance within that plan, and a
regeneration diffs only where a plan really changed.

Usage: python scripts/explain_audit.py [sf_dir] [query ...]  (default: all)
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# an expression id follows a name or a closing bracket: doc_id#0L, ...)#17
_EXPR_ID = re.compile(r"(?<=[\w)\]])#(\d+)(?=L?\b)")
_LAMBDA_VAR = re.compile(r"(?<=lambda )([A-Za-z]\w*?)_(\d+)\b")
_PLAN_ID = re.compile(r"plan_id=(\d+)")
_RDD_ID = re.compile(r"(?<=RDD)\[(\d+)\]")


def _renumber(pattern: re.Pattern, text: str, fmt) -> str:
    seen: dict[str, int] = {}
    return pattern.sub(
        lambda m: fmt(m, seen.setdefault(m.group(m.lastindex), len(seen))),
        text,
    )


def normalize_ids(plan: str) -> str:
    """Renumber expression ids, lambda-variable suffixes, exchange plan
    ids and RDD ids by first appearance, each kind counting from 0."""
    plan = _renumber(_EXPR_ID, plan, lambda m, i: f"#{i}")
    plan = _renumber(_LAMBDA_VAR, plan, lambda m, i: f"{m.group(1)}_{i}")
    plan = _renumber(_PLAN_ID, plan, lambda m, i: f"plan_id={i}")
    return _renumber(_RDD_ID, plan, lambda m, i: f"[{i}]")


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
        out.append(f"## {name}\n\n```\n{normalize_ids(plan).rstrip()}\n```\n")
    with open(os.path.join(REPO, "bench/PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote bench/PLANS.md ({len(only)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
