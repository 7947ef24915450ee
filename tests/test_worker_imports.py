"""The page loop under every html operator drops cached zip finders and
imports still work, and it freezes the warm heap while the cycles a
task makes stay collectable; an extraction worker never imports pandas
or ``pyarrow.compute``; no package module imports Spark's ML library;
only the partition loop's own module crosses into Python per batch;
one helper publishes every commit point; and every package function
has a production caller.

In-process, no Spark: a zip archive on ``sys.path`` stands in for
``pyspark.zip`` on a worker's path, and a fresh interpreter for a fresh
Python worker.
"""

import ast
import gc
import json
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pyarrow as pa

from webextract.config import DEFAULT_CONFIG
from webextract.operators.extract import _extract_record_batch, _page_batches


def _zip_finders() -> list[str]:
    return [
        p
        for p, f in sys.path_importer_cache.items()
        if isinstance(f, zipimport.zipimporter)
    ]


def test_extract_loop_drops_zip_finders_and_imports_still_work(tmp_path):
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("we_zip_a.py", "VALUE = 'a'\n")
        z.writestr("we_zip_b.py", "VALUE = 'b'\n")
    saved_path = list(sys.path)
    sys.path.insert(0, str(archive))
    try:
        import we_zip_a

        assert we_zip_a.VALUE == "a"
        assert str(archive) in _zip_finders()

        rb = pa.RecordBatch.from_pydict(
            {
                "url": ["https://h.example/doc/1"],
                "html": [b"<html><body><p>Some main text here.</p></body></html>"],
            }
        )
        out = list(
            _page_batches(
                iter([rb]), lambda b: _extract_record_batch(b, DEFAULT_CONFIG)
            )
        )
        assert [b.num_rows for b in out] == [1]
        assert _zip_finders() == []

        import we_zip_b

        assert we_zip_b.VALUE == "b"
    finally:
        gc.unfreeze()  # the loop froze the pytest heap
        sys.path[:] = saved_path
        for name in ("we_zip_a", "we_zip_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(str(archive), None)


def test_page_loop_freezes_the_warm_heap_and_task_cycles_are_collected():
    rb = pa.RecordBatch.from_pydict(
        {
            "url": ["https://h.example/doc/1"],
            "html": [b"<html><body><p>Some main text here.</p></body></html>"],
        }
    )
    n_cycles = 50

    def build(b: pa.RecordBatch) -> pa.RecordBatch:
        for _ in range(n_cycles):
            cycle: list = []
            cycle.append(cycle)
        return _extract_record_batch(b, DEFAULT_CONFIG)

    enabled = gc.isenabled()
    gc.disable()  # no automatic collection between the loop and the check
    try:
        gc.collect()
        warm = gc.get_objects()  # holding them keeps every one alive
        out = list(_page_batches(iter([rb]), build))
        assert [b.num_rows for b in out] == [1]
        # everything tracked before the task is frozen ...
        assert gc.get_freeze_count() >= len(warm)
        tracked = {id(o) for o in gc.get_objects()}
        assert not [o for o in warm if id(o) in tracked]
        del warm, tracked
        # ... and the cycles the task built are not: the collection a
        # PySpark worker runs after the task reclaims them
        assert gc.collect() >= n_cycles
    finally:
        gc.unfreeze()
        if enabled:
            gc.enable()


# Run in a fresh interpreter: the input batch is built over numpy
# buffers, because ``pa.array`` would itself import pandas.
_FRESH_WORKER = """
import json, sys
import numpy as np
import pyarrow as pa
from webextract.config import DEFAULT_CONFIG
from webextract.operators import extract as E
from webextract.sources.pages import gen_fixture_pages

def column(type_, values):
    ends = np.zeros(len(values) + 1, np.int32)
    np.cumsum([len(v) for v in values], out=ends[1:])
    buffers = [None, pa.py_buffer(ends), pa.py_buffer(b"".join(values))]
    return pa.Array.from_buffers(type_, len(values), buffers)

pages = gen_fixture_pages()
rb = pa.RecordBatch.from_arrays(
    [
        column(pa.string(), [p["url"].encode() for p in pages]),
        column(pa.binary(), [p["html"] for p in pages]),
    ],
    names=["url", "html"],
)

def seen(step, batches=()):
    rows = [b.num_rows for b in batches]  # runs the loop before the check
    loaded = sorted({"pandas", "pyarrow.compute"} & set(sys.modules))
    print(json.dumps([step, rows, loaded]), flush=True)

seen("import")
build = lambda b: E._extract_record_batch(b, DEFAULT_CONFIG)
seen("extract", E._page_batches(iter([rb]), build))
seen("lineage", E._lineage_batches(iter([rb]), DEFAULT_CONFIG))
"""


def test_extraction_worker_imports_neither_pandas_nor_pyarrow_compute():
    """Extraction builds its Arrow arrays over numpy buffers, so a
    Python worker running extraction or its lineage loop over the
    fixture matrix never loads pandas (~32 MB per worker, pulled in by
    the first ``pa.array`` call) or ``pyarrow.compute``."""
    root = Path(__file__).resolve().parents[1]
    done = subprocess.run(
        [sys.executable, "-c", _FRESH_WORKER],
        cwd=root,
        capture_output=True,
        text=True,
        timeout=300,
    )
    steps = [json.loads(line) for line in done.stdout.splitlines()]
    assert steps == [
        ["import", [], []],
        ["extract", [38], []],
        ["lineage", [38, 1], []],
    ], done.stderr


def test_no_module_imports_pyspark_ml():
    """No operator needs Spark's ML library: the one k-means quantizer
    is the exact-integer Lloyd of ``operators/kmeans.py``."""
    package = Path(__file__).resolve().parents[1] / "webextract"
    offenders = []
    for py in sorted(package.rglob("*.py")):
        for node in ast.walk(ast.parse(py.read_text(), str(py))):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                # ``from pyspark import ml`` names the module in an alias
                mod = node.module or ""
                names = [mod] + [f"{mod}.{a.name}" for a in node.names]
            else:
                continue
            offenders += [
                f"{py.relative_to(package.parent)}:{node.lineno} {n}"
                for n in names
                if n.split(".")[:2] == ["pyspark", "ml"]
            ]
    assert offenders == []


def test_only_the_partition_loop_module_calls_map_in():
    """Every Python stage runs on ``operators/extract.py``'s partition
    loop (``map_rows``, ``extract_pages``, ``extract_pages_with_lineage``):
    no other module calls ``.mapInPandas(`` or ``.mapInArrow(``."""
    package = Path(__file__).resolve().parents[1] / "webextract"
    loop = package / "operators" / "extract.py"
    offenders = [
        f"{py.relative_to(package.parent)}:{node.lineno} {node.func.attr}"
        for py in sorted(package.rglob("*.py"))
        if py != loop
        for node in ast.walk(ast.parse(py.read_text(), str(py)))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("mapInPandas", "mapInArrow")
    ]
    assert offenders == []


def test_plans_publish_every_commit_point_through_one_helper():
    """The package has one commit point: the JSON publish in
    ``plans/snapshots.publish_json``, which fsyncs before it renames.
    Snapshots and wave manifests go through it, and no other code
    anywhere in the package calls ``os.replace(`` or ``os.rename(``."""
    package = Path(__file__).resolve().parents[1] / "webextract"
    snapshots = package / "plans" / "snapshots.py"
    offenders = []
    for py in sorted(package.rglob("*.py")):
        tree = ast.parse(py.read_text(), str(py))
        helper = {
            id(n)
            for fn in ast.walk(tree)
            if py == snapshots
            and isinstance(fn, ast.FunctionDef)
            and fn.name == "publish_json"
            for n in ast.walk(fn)
        }
        offenders += [
            f"{py.relative_to(package.parent)}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("replace", "rename")
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "os"
            and id(node) not in helper
        ]
    assert offenders == []


# Top-level names in the package that no production file references yet.
# The set is exact, so a name that gains a caller or is deleted leaves it.
_UNREFERENCED_OK = {
    # kept until an Iceberg runtime jar exists (ROADMAP, "Out of scope")
    "run_extraction_iceberg",
    # the bucketed input layout: ROADMAP direction 2 gives these a caller
    # in the production write path or deletes them
    "write_bucketed",
    "read_bucketed",
    "cobucketed_join",
}


def _names_used(node: ast.AST) -> set[str]:
    used = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            used.add(n.id)
        elif isinstance(n, ast.Attribute):
            used.add(n.attr)
        elif isinstance(n, ast.alias):
            used.add(n.name.rsplit(".", 1)[-1])
    return used


def test_every_package_def_has_a_production_caller():
    """Each top-level ``def``/``class`` in ``webextract/`` is referenced by
    production code outside its own definition: the package, the driver
    contract, ``bench.py``, ``scripts/`` and ``perfbench/`` (not its smoke
    test). A function only a test calls is dead weight the suite keeps
    alive, so it goes with its tests."""
    root = Path(__file__).resolve().parents[1]
    package = root / "webextract"
    production = [
        *sorted(package.rglob("*.py")),
        root / "__spark_entry__.py",
        root / "bench.py",
        *sorted((root / "scripts").glob("*.py")),
        *(
            py
            for py in sorted((root / "perfbench").glob("*.py"))
            if py.name != "test_smoke.py"
        ),
    ]
    used: set[str] = set()
    defined = []
    for py in production:
        for stmt in ast.parse(py.read_text(), str(py)).body:
            names = _names_used(stmt)
            if isinstance(
                stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                names.discard(stmt.name)  # recursion is not a caller
                if py.is_relative_to(package):
                    defined.append(stmt.name)
            used |= names
    unreferenced = {name for name in defined if name not in used}
    assert unreferenced == _UNREFERENCED_OK
