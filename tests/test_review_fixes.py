"""Regression tests for the round-2 self-review findings: source-change
upserts, late-event sessionizer policy, env-var master precedence, commit
tmp hygiene, family-consistent source extensions."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from docling_service_spark.corpus import _FAMILY_EXT, build_doc, source_meta
from docling_service_spark.schemas import INPUT_SCHEMA_WITH_SOURCE
from docling_service_spark.sparkio.checkpoint import (
    SnapshotStore,
    run_incremental,
    run_upsert,
    vacuum,
)

from tests.test_checkpoint import sums_for


def _docs_with_source(spark, n, name="books.xlsx"):
    rows = []
    for i in range(n):
        d = build_doc(i)
        rows.append((d["doc_id"], d["spans"],
                     {"kind": "upload", "value": f"up/{i}", "original_name": name}))
    return spark.createDataFrame(rows, INPUT_SCHEMA_WITH_SOURCE)


def test_source_only_change_marks_doc_dirty(spark, tmp_path):
    root = str(tmp_path / "t")
    run_incremental(spark, _docs_with_source(spark, 20, "v1.xlsx"), root,
                    n_buckets=4, run_id="r1")
    # Same spans, changed source metadata -> must NOT be a no-op.
    r = run_upsert(spark, _docs_with_source(spark, 20, "v2.xlsx"), root,
                   n_buckets=4, run_id="r2")
    assert r["snapshot_id"] == 2 and len(r["buckets"]) == 4
    out = SnapshotStore(root).read_output(spark)
    md = out.filter(F.col("status") == "completed").select("markdown").first()["markdown"]
    assert "v2.xlsx" in md and "v1.xlsx" not in md
    # And identical source stays a no-op.
    r = run_upsert(spark, _docs_with_source(spark, 20, "v2.xlsx"), root,
                   n_buckets=4, run_id="r3")
    assert r["snapshot_id"] is None


def test_sessionizer_drops_too_late_absorbs_in_gap(spark, tmp_path):
    from tests.test_streaming_stateful import _t, _write_wave
    from docling_service_spark.sparkio.streaming import stream_sessionize

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    os.makedirs(inp)
    base = time.time() - 1000
    # Wave 1: user 1 open session at 12:00.
    _write_wave(spark, inp, "w1", [(1, _t(12, 0), 1, "click", 0.0)], base)
    # Wave 2: a 09:00 event (too late: > gap behind frontier -> DROPPED) and
    # an 11:45 event (within gap of 12:00 -> absorbed, start moves back).
    _write_wave(spark, inp, "w2", [(2, _t(9, 0), 1, "click", 0.0),
                                   (3, _t(11, 45), 1, "click", 0.0)], base + 10)
    # Wave 3: 15:00 closes the open session -> emitted.
    _write_wave(spark, inp, "w3", [(4, _t(15, 0), 1, "click", 0.0)], base + 20)
    stream_sessionize(spark, inp, out, gap_minutes=30, max_files_per_trigger=1)
    rows = spark.read.parquet(os.path.join(out, "data")).collect()
    assert len(rows) == 1
    s = rows[0]
    assert s["n_events"] == 2  # 11:45 absorbed; 09:00 dropped
    assert (s["session_start"].hour, s["session_start"].minute) == (11, 45)
    assert (s["session_end"].hour, s["session_end"].minute) == (12, 0)


def test_env_master_does_not_override_submit(monkeypatch):
    # Simulate a spark-submit-managed JVM with a leftover env override: the
    # builder must not choose any master (the submit conf rules).
    import docling_service_spark.sparkio.session as sess

    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "12345")
    monkeypatch.setenv("SPARK_GRAFT_MASTER", "local[32]")
    captured = {}

    class FakeBuilder:
        def master(self, m):
            captured["master"] = m
            return self

        def appName(self, *_):
            return self

        def config(self, *_, **__):
            return self

        def getOrCreate(self):
            return "session"

    monkeypatch.setattr(sess.SparkSession, "builder", FakeBuilder())
    assert sess.get_spark(None) == "session"
    assert "master" not in captured  # never called under submit
    # Explicit arg still wins everywhere.
    sess.get_spark("local[2]")
    assert captured["master"] == "local[2]"


def test_vacuum_sweeps_stale_commit_tmps(spark, tmp_path):
    root = str(tmp_path / "t")
    store = SnapshotStore(root)
    store.commit([0], "r1", n_buckets=2, bucket_sums=sums_for([0]))
    stale = os.path.join(store.manifest_dir, ".commit-dead-abc.tmp")
    with open(stale, "w") as f:
        f.write("{}")
    old = time.time() - 8 * 3600
    os.utime(stale, (old, old))
    fresh = os.path.join(store.manifest_dir, ".commit-live-def.tmp")
    with open(fresh, "w") as f:
        f.write("{}")
    report = vacuum(root, min_age_hours=6)
    assert ".commit-dead-abc.tmp" in report["removed_manifests"]
    assert not os.path.exists(stale)
    assert os.path.exists(fresh)  # inside the grace period


def test_source_extension_matches_family():
    for idx in range(20):
        src = source_meta(idx, f"doc-42-{idx:08d}")
        ext = _FAMILY_EXT[idx % len(_FAMILY_EXT)]
        assert (src["original_name"] or src["value"]).endswith(ext)


def test_oracle_q60_zip_import_guard(monkeypatch):
    """When the package is imported from engine.zip (--py-files), the q60
    golden path points inside the zip and DuckDB cannot read it; the oracle
    must fail with a CLEAR message instead of an opaque no-files-found
    (r4 advice).  Simulated by reloading the module with the golden hidden."""
    import importlib

    from docling_service_spark.queries import extraction

    real_exists = os.path.exists
    monkeypatch.setattr(
        os.path, "exists",
        lambda p: False if str(p).endswith("q60_expected.parquet") else real_exists(p),
    )
    try:
        mod = importlib.reload(extraction)
        assert "error(" in mod.ORACLE_Q60
        assert "extracted checkout" in mod.ORACLE_Q60
        import duckdb

        with pytest.raises(Exception, match="extracted checkout"):
            duckdb.sql(mod.ORACLE_Q60).fetchall()
    finally:
        monkeypatch.undo()
        importlib.reload(extraction)
    assert "read_parquet" in extraction.ORACLE_Q60
