"""The driver contract itself is load-bearing: the correctness gate
samples the FIRST 50 of queries() in registry order, so ordering and
key alignment are invariants worth pinning, not conventions."""

import json
import os

import __spark_entry__ as e

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_oracle_keys_subset_of_queries():
    qs, osql = e.queries(), e.oracle_sql()
    missing = set(osql) - set(qs)
    assert not missing, f"oracles without queries: {sorted(missing)}"


def test_every_query_is_oracle_backed():
    """Round 5: the last rows-only query (lineage) gained an oracle —
    every registry entry must now have an oracle_sql twin."""
    qs, osql = e.queries(), e.oracle_sql()
    rows_only = [q for q in qs if q not in osql]
    assert rows_only == []


def test_gate_window_covers_every_unchecked_query():
    """Every query without a green driver CORRECTNESS row from rounds
    1-4 must sit inside the 50-row gate window (registry order)."""
    qs = list(e.queries())
    checked = set()
    for f in (
        "CORRECTNESS_r01.json",
        "CORRECTNESS_r02.json",
        "CORRECTNESS_r03.json",
        "CORRECTNESS_r04.json",
    ):
        path = os.path.join(REPO, f)
        if os.path.exists(path):
            checked |= set(json.load(open(path)))
    missed = [q for q in qs if q not in checked and q not in qs[:50]]
    assert not missed, f"never-driver-checked queries past row 50: {missed}"


def test_all_queries_are_callables_with_docstrings():
    for name, fn in e.queries().items():
        assert callable(fn), name


def test_catalog_is_current():
    """CATALOG.md is generated from the registry's docstrings; a
    docstring or registry edit must come with a regenerated catalog
    (``python scripts/catalog.py``)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "catalog", os.path.join(REPO, "scripts", "catalog.py")
    )
    catalog = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(catalog)
    assert open(os.path.join(REPO, "CATALOG.md")).read() == catalog.render()


def test_catalog_what_cells_close_their_code_spans():
    """Each row's "what" cell is a whole docstring paragraph: a summary
    that wraps inside a code span must not be cut open, and a ``|`` in
    it must not split the row."""
    import re

    with open(os.path.join(REPO, "CATALOG.md")) as f:
        rows = [l for l in f if l.startswith("| `")]
    assert len(rows) == len(e.queries())
    for row in rows:
        cells = re.split(r"(?<!\\)\|", row.strip())[1:-1]
        assert len(cells) == 3, row
        # a run of n backticks opens a code span that only a run of
        # exactly n backticks closes
        open_run = 0
        for run in re.findall(r"`+", cells[1]):
            if not open_run:
                open_run = len(run)
            elif len(run) == open_run:
                open_run = 0
        assert not open_run, row


def test_plans_md_covers_registry():
    """bench/PLANS.md (``python scripts/explain_audit.py``) holds one
    ``## <name>`` plan per registry query, in registry order."""
    with open(os.path.join(REPO, "bench", "PLANS.md")) as f:
        headings = [l[3:].strip() for l in f if l.startswith("## ")]
    assert headings == list(e.queries())


def test_benchmark_queries_are_in_the_registry():
    """The traced benchmark run times registry queries by name: the
    names in ``perfbench/layers.py::QUERIES`` and the ``query.<name>_s``
    metrics of ``BENCHMARK.json`` must each be a key of both
    ``queries()`` and ``oracle_sql()``, or ``--trace 1`` breaks."""
    import ast
    import re

    with open(os.path.join(REPO, "perfbench", "layers.py")) as f:
        tree = ast.parse(f.read())
    traced = next(
        ast.literal_eval(node.value)
        for node in tree.body
        if isinstance(node, ast.Assign)
        and any(getattr(t, "id", None) == "QUERIES" for t in node.targets)
    )
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        per_layer = [m["name"] for m in json.load(f)["per_layer"]]
    timed = [
        m.group(1) for n in per_layer if (m := re.fullmatch(r"query\.(\w+)_s", n))
    ]
    assert traced and timed
    qs, osql = e.queries(), e.oracle_sql()
    missing = [n for n in (*traced, *timed) if n not in qs or n not in osql]
    assert not missing, f"benchmark queries missing from the registry: {missing}"


def test_local_sweep_requires_an_output_path(monkeypatch, tmp_path, capsys):
    """A bare ``scripts/local_sweep.py`` run prints its usage and exits
    2 before any Spark session starts, so it cannot overwrite the
    committed ``CORRECTNESS_LOCAL_r5.json`` in the working directory."""
    import importlib.util
    import sys

    import webextract.session

    scripts = os.path.join(REPO, "scripts")
    monkeypatch.syspath_prepend(scripts)
    spec = importlib.util.spec_from_file_location(
        "local_sweep", os.path.join(scripts, "local_sweep.py")
    )
    local_sweep = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(local_sweep)

    def no_spark(*args, **kwargs):
        raise AssertionError("a Spark session was started")

    monkeypatch.setattr(webextract.session, "get_spark", no_spark)
    monkeypatch.setattr(sys, "argv", ["local_sweep.py"])
    monkeypatch.chdir(tmp_path)
    assert local_sweep.main() == 2
    assert "usage:" in capsys.readouterr().err
    assert list(tmp_path.iterdir()) == []
