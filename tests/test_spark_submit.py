"""End-to-end test of the north-rule deployment shape: zip the package,
run the pipeline via ``spark-submit --py-files``, resume it, check the
output. Spawns real spark-submit JVMs (~1 min)."""

import json
import shutil
import subprocess
import zipfile
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]


def _submit(zip_path: Path, pages: Path, out: Path) -> dict:
    cmd = [
        "spark-submit",
        "--master", "local[4]",
        "--py-files", str(zip_path),
        str(REPO / "scripts" / "run_pipeline.py"),
        "--pages", str(pages),
        "--output", str(out),
        "--buckets", "4",
        "--wave-size", "2",
    ]
    res = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    assert res.returncode == 0, res.stderr[-2000:]
    line = [ln for ln in res.stdout.splitlines() if ln.startswith("{")][-1]
    return json.loads(line)


@pytest.mark.skipif(shutil.which("spark-submit") is None, reason="no spark-submit")
def test_spark_submit_pipeline_and_resume(spark, tmp_path):
    zip_path = tmp_path / "webextract_py.zip"
    with zipfile.ZipFile(zip_path, "w") as zf:
        for py in (REPO / "webextract").rglob("*.py"):
            zf.write(py, py.relative_to(REPO))

    pages_dir = tmp_path / "pages"
    from webextract.sources.pages import pages_from_documents

    pages_from_documents(spark, "/root/testdata/sf0.001").repartition(
        2
    ).write.parquet(str(pages_dir))

    out = tmp_path / "out"
    stats = _submit(zip_path, pages_dir, out)
    assert stats == {"waves": 2, "buckets_done": 4, "urls": 500}

    # resume in a fresh JVM: manifest says everything is done
    stats2 = _submit(zip_path, pages_dir, out)
    assert stats2 == {"waves": 0, "buckets_done": 4, "urls": 0}

    got = spark.read.parquet(str(out / "extracted"))
    assert got.count() == 500
    assert got.select("url").distinct().count() == 500
