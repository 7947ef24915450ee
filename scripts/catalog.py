"""Generate CATALOG.md: one row per driver query — what it computes
(first docstring paragraph, on one line), where it lives and its oracle
status. Regenerate after adding queries:

    python scripts/catalog.py
"""

from __future__ import annotations

import inspect
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def render() -> str:
    """CATALOG.md's full text for the current registry."""
    import __spark_entry__ as e

    qs, oracles = e.queries(), e.oracle_sql()
    lines = [
        "# CATALOG — every driver query (auto-generated by scripts/catalog.py)",
        "",
        f"{len(qs)} queries; {sum(1 for n in qs if n in oracles)} oracle-backed "
        "(hash-exact vs DuckDB at sf0.001 / sf0.01 / sf0.1 — the "
        "committed sweep is CORRECTNESS_LOCAL_r5.json).",
        "",
        "| query | what | oracle |",
        "|---|---|---|",
    ]
    for name in sorted(qs):
        fn = qs[name]
        summary = (inspect.getdoc(fn) or "").split("\n\n")[0]
        doc = " ".join(summary.split()).rstrip(".").replace("|", "\\|") or "—"
        mod = inspect.getmodule(fn).__name__
        src = f"`{mod}.{fn.__name__}`"
        oracle = "exact" if name in oracles else "rows-only"
        lines.append(f"| `{name}` | {doc} ({src}) | {oracle} |")
    return "\n".join(lines) + "\n"


def main() -> None:
    open(os.path.join(REPO, "CATALOG.md"), "w").write(render())
    print("wrote CATALOG.md")


if __name__ == "__main__":
    main()
