"""Generate CATALOG.md: one row per driver query — what it computes
(first docstring paragraph, on one line), where it lives, oracle
status, and the latest clean-window bench time. Regenerate after
adding queries:

    python scripts/catalog.py
"""

from __future__ import annotations

import inspect
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def render() -> str:
    """CATALOG.md's full text for the current registry."""
    import __spark_entry__ as e

    qs, oracles = e.queries(), e.oracle_sql()
    try:
        bench = json.load(
            open(os.path.join(REPO, "bench/bench_sf01_32c_r5_session.json"))
        )["queries"]
    except Exception:
        bench = {}
    lines = [
        "# CATALOG — every driver query (auto-generated by scripts/catalog.py)",
        "",
        f"{len(qs)} queries; {sum(1 for n in qs if n in oracles)} oracle-backed "
        "(hash-exact vs DuckDB at sf0.001 / sf0.01 / sf0.1 — the "
        "committed sweep is CORRECTNESS_LOCAL_r5.json). Bench column: "
        "seconds at sf0.1 on local[32] (min-of-2, clean window).",
        "",
        "| query | what | oracle | bench s |",
        "|---|---|---|---|",
    ]
    for name in sorted(qs):
        fn = qs[name]
        summary = (inspect.getdoc(fn) or "").split("\n\n")[0]
        doc = " ".join(summary.split()).rstrip(".").replace("|", "\\|") or "—"
        mod = inspect.getmodule(fn).__name__
        src = f"`{mod}.{fn.__name__}`"
        oracle = "exact" if name in oracles else "rows-only"
        t = bench.get(name)
        lines.append(
            f"| `{name}` | {doc} ({src}) | {oracle} | "
            f"{t if t is not None else '—'} |"
        )
    return "\n".join(lines) + "\n"


def main() -> None:
    open(os.path.join(REPO, "CATALOG.md"), "w").write(render())
    print("wrote CATALOG.md")


if __name__ == "__main__":
    main()
