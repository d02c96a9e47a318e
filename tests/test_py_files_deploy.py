"""End-to-end ``spark-submit --py-files engine.zip`` deployment test.

The north rule packages the pipeline as a ``spark-submit --py-files`` job
that must run with no repo checkout on the workers.  This test rebuilds the
zip from the current source, copies ``job.py`` into a bare directory (no
``docling_service_spark/`` package alongside, PYTHONPATH scrubbed), and runs
the real spark-submit — imports must resolve from the zip on both the driver
and the executors, and the run must commit a complete snapshot.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent


@pytest.mark.skipif(shutil.which("spark-submit") is None,
                    reason="spark-submit not on PATH")
def test_py_files_zip_deployment(tmp_path):
    build = subprocess.run(
        [sys.executable, str(REPO / "scripts" / "package.py")],
        capture_output=True, text=True, timeout=60,
    )
    assert build.returncode == 0, build.stderr
    zip_path = Path(build.stdout.strip().splitlines()[-1])
    assert zip_path.exists()

    bare = tmp_path / "bare"
    bare.mkdir()
    shutil.copy(REPO / "job.py", bare / "job.py")
    shutil.copy(zip_path, bare / "engine.zip")
    out = tmp_path / "table"

    env = os.environ.copy()
    env.pop("PYTHONPATH", None)  # the zip must be the only package source

    def job(n_docs, run_id, *extra):
        res = subprocess.run(
            ["spark-submit", "--master", "local[4]", "--driver-memory", "8g",
             "--py-files", "engine.zip", "job.py",
             "--output", str(out), "--n-docs", str(n_docs), "--n-buckets", "8",
             "--run-id", run_id, *extra],
            cwd=bare, env=env, capture_output=True, text=True, timeout=300,
        )
        assert res.returncode == 0, res.stderr[-3000:]
        return json.loads(res.stdout.strip().splitlines()[-1])

    import duckdb

    def lineage_rows(run_id):
        return duckdb.sql(f"select count(*) from read_parquet("
                          f"'{out}/lineage/run={run_id}/*.parquet')").fetchone()[0]

    report = job(400, "zip1")
    assert report["run_id"] == "zip1"
    assert report["buckets_processed"] == 8
    assert report["docs_in_snapshot"] == 400
    assert report["python_tasks"] == lineage_rows("zip1") > 0
    assert "docs_changed" not in report

    # The committed snapshot is a real table: manifest present, every doc
    # exactly once when routed bucket→run via the manifest.
    current = (out / "_manifests" / "CURRENT").read_text().strip()
    manifest = json.loads((out / "_manifests" / current).read_text())
    runs = {}
    for bucket, run in manifest["buckets"].items():
        runs.setdefault(run, []).append(int(bucket))
    parts = [
        f"select doc_id from read_parquet('{out}/data/run={r}/part-*.parquet')"
        f" where _bucket in ({','.join(map(str, bs))})"
        for r, bs in runs.items()
    ]
    distinct, total = duckdb.sql(
        "select count(distinct doc_id), count(*) from ("
        + " union all ".join(parts) + ")"
    ).fetchone()
    assert (distinct, total) == (400, 400)

    # A merge of the same generator's first 420 docs changes only the 20
    # new ones, and extracts them in one Python task.  Its markdown upload
    # runs from the zip too, and every changed doc gets a blob.
    md = tmp_path / "md"
    merge = job(420, "zip2", "--merge-upsert", "--markdown-store", str(md))
    assert merge["docs_changed"] == 20
    assert merge["python_tasks"] == lineage_rows("zip2") == 1
    assert merge["docs_in_snapshot"] == 420
    changed = [f"doc-42-{i:08d}" for i in range(400, 420)]
    assert all((md / "markdown" / d / f"{d}.md").is_file() for d in changed)
    assert merge["markdown_uploaded"] >= len(changed)
