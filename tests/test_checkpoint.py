"""Snapshot store: atomic commit, monotonic ids, idempotent resume, one
manifest format."""

from __future__ import annotations

import json
import os

import pytest

from docling_service_spark.corpus import corpus_df
from docling_service_spark.sparkio.checkpoint import (
    SnapshotStore,
    compact,
    compact_lineage,
    run_incremental,
    run_merge_upsert,
    run_upsert,
)

N_DOCS = 90
N_BUCKETS = 8


def sums_for(buckets):
    """A well-formed [n, sum, sum2] entry per bucket, for commits that
    write no data."""
    return {b: [0, "0", "0"] for b in buckets}


def test_incremental_resume_exactly_once(spark, tmp_path):
    root = str(tmp_path / "table")
    inp = corpus_df(spark, N_DOCS, partitions=4)

    # Run 1: only half the buckets — simulates a run killed mid-way with a
    # partial (but committed) snapshot.
    r1 = run_incremental(spark, inp, root, n_buckets=N_BUCKETS, max_buckets_per_run=4,
                         num_partitions=4, run_id="run1")
    assert r1["snapshot_id"] == 1 and len(r1["buckets"]) == 4

    store = SnapshotStore(root)
    part1 = store.read_output(spark)
    assert 0 < part1.count() < N_DOCS

    # Run 2: resumes — processes exactly the remaining buckets.
    r2 = run_incremental(spark, inp, root, n_buckets=N_BUCKETS, num_partitions=4, run_id="run2")
    assert r2["snapshot_id"] == 2
    assert sorted(r1["buckets"] + r2["buckets"]) == list(range(N_BUCKETS))

    out = store.read_output(spark)
    ids = [r["doc_id"] for r in out.select("doc_id").collect()]
    assert len(ids) == N_DOCS and len(set(ids)) == N_DOCS  # exactly-once coverage

    # Run 3: full re-run is a no-op.
    r3 = run_incremental(spark, inp, root, n_buckets=N_BUCKETS, run_id="run3")
    assert r3["snapshot_id"] is None and r3["docs"] == 0
    assert store.read_output(spark).count() == N_DOCS


def test_lineage_rows_per_snapshot(spark, tmp_path):
    root = str(tmp_path / "table")
    inp = corpus_df(spark, N_DOCS, partitions=4)
    run_incremental(spark, inp, root, n_buckets=4, max_buckets_per_run=2, num_partitions=4, run_id="a")
    run_incremental(spark, inp, root, n_buckets=4, num_partitions=4, run_id="b")
    store = SnapshotStore(root)
    lineage = store.read_lineage(spark)
    by_run = {r["run_id"]: r["docs"] for r in
              lineage.groupBy("run_id").sum("doc_count").withColumnRenamed("sum(doc_count)", "docs").collect()}
    assert set(by_run) == {"a", "b"}
    assert sum(by_run.values()) == N_DOCS
    snap_ids = {r["run_id"]: r["snapshot_id"] for r in lineage.select("run_id", "snapshot_id").distinct().collect()}
    assert snap_ids == {"a": 1, "b": 2}


def test_lineage_written_driver_side_single_file(spark, tmp_path):
    """The lineage run dir is ONE driver-written parquet file (no Spark write
    job — metadata-sized result, manifest-style IO), it round-trips through
    spark.read.schema(LINEAGE_DDL), and a retried write with the same run_id
    leaves no stale part files to double-count."""
    from docling_service_spark.sparkio.checkpoint import _write_lineage_rows

    root = str(tmp_path / "table")
    inp = corpus_df(spark, N_DOCS, partitions=4)
    run_incremental(spark, inp, root, n_buckets=4, num_partitions=4, run_id="a")
    lin_dir = os.path.join(root, "lineage", "run=a")
    files = [f for f in os.listdir(lin_dir) if f.endswith(".parquet")]
    assert files == ["part-00000.parquet"]

    store = SnapshotStore(root)
    rows = store.read_lineage(spark).collect()
    assert sum(r["doc_count"] for r in rows) == N_DOCS
    assert all(r["run_id"] == "a" and r["snapshot_id"] == 1 for r in rows)

    # Retry with a stale extra file present: overwrite semantics must hold.
    stale = os.path.join(lin_dir, "part-00001-stale.parquet")
    with open(stale, "wb") as f:
        f.write(b"junk")
    _write_lineage_rows(rows, lin_dir)
    files = [f for f in os.listdir(lin_dir) if f.endswith(".parquet")]
    assert files == ["part-00000.parquet"]
    assert sum(r["doc_count"] for r in store.read_lineage(spark).collect()) == N_DOCS


def test_orphan_files_invisible_until_commit(spark, tmp_path):
    """Crash simulation: data files written without a manifest commit are
    ignored by readers (atomicity via CURRENT pointer swap)."""
    root = str(tmp_path / "table")
    inp = corpus_df(spark, 30, partitions=2)
    run_incremental(spark, inp, root, n_buckets=2, num_partitions=2, run_id="good")
    store = SnapshotStore(root)
    n = store.read_output(spark).count()

    # Fake a crashed run: orphan parquet under data/run=crashed/ with no commit.
    from docling_service_spark.sparkio.pipeline import run_extraction
    out = run_extraction(corpus_df(spark, 10, partitions=1), num_partitions=2)
    from pyspark.sql import functions as F
    out = out.withColumn("bucket", F.lit(0))
    out.write.partitionBy("bucket").parquet(os.path.join(root, "data", "run=crashed"))

    assert store.read_output(spark).count() == n  # orphans invisible
    m = store.current_manifest()
    assert m["snapshot_id"] == 1 and set(m["buckets"].values()) == {"good"}


def test_empty_store_reads_empty(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "nothing"))
    assert store.read_output(spark).count() == 0
    assert store.read_lineage(spark).count() == 0
    assert store.current_manifest() is None


def test_concurrent_commit_conflict(spark, tmp_path):
    """Two writers racing the same buckets: second commit must fail loudly."""
    import pytest

    from docling_service_spark.sparkio.checkpoint import SnapshotConflictError

    root = str(tmp_path / "table")
    store = SnapshotStore(root)
    store.commit([0, 1], "winner", bucket_sums=sums_for([0, 1]))
    with pytest.raises(SnapshotConflictError):
        store.commit([1, 2], "loser", bucket_sums=sums_for([1, 2]))
    # Non-overlapping concurrent commit is fine (disjoint buckets merge).
    assert store.commit([2, 3], "other", bucket_sums=sums_for([2, 3])) == 2


def test_commit_refuses_new_buckets_without_sums(tmp_path):
    """A new bucket with no 3-field entry is refused before any file is
    written: a missing entry and a short one are both named."""
    store = SnapshotStore(str(tmp_path / "table"))
    store.commit([0], "r1", bucket_sums=sums_for([0]))
    before = sorted(os.listdir(store.manifest_dir))
    with pytest.raises(ValueError, match=r"run r2: .*new buckets \[1, 2\]"):
        store.commit([1, 2, 3], "r2", bucket_sums={3: [1, "5", "7"], 1: [1, "5"]})
    assert sorted(os.listdir(store.manifest_dir)) == before
    assert store.current_manifest()["snapshot_id"] == 1
    assert store.live_doc_count() == 0


def test_vacuum_removes_orphans_keeps_live(spark, tmp_path):
    import os

    from docling_service_spark.sparkio.checkpoint import vacuum

    root = str(tmp_path / "table")
    inp = corpus_df(spark, 40, partitions=2)
    run_incremental(spark, inp, root, n_buckets=4, max_buckets_per_run=2, num_partitions=2, run_id="live1")
    run_incremental(spark, inp, root, n_buckets=4, num_partitions=2, run_id="live2")

    # Orphan: a crashed run's files, never committed.
    os.makedirs(os.path.join(root, "data", "run=orphan"), exist_ok=True)
    with open(os.path.join(root, "data", "run=orphan", "part-0.parquet"), "w") as f:
        f.write("junk")

    store = SnapshotStore(root)
    before = store.read_output(spark).count()
    report = vacuum(root, keep_manifests=10, min_age_hours=0)
    assert "data/run=orphan" in report["removed_run_dirs"]
    assert not os.path.exists(os.path.join(root, "data", "run=orphan"))
    # Live data untouched; snapshot still reads identically.
    assert store.read_output(spark).count() == before == 40
    assert store.read_lineage(spark).count() > 0


def test_vacuum_expires_old_manifests(tmp_path):
    import os

    from docling_service_spark.sparkio.checkpoint import vacuum

    root = str(tmp_path / "t")
    store = SnapshotStore(root)
    for i in range(15):
        store.commit([i], f"r{i}", bucket_sums=sums_for([i]))
    report = vacuum(root, keep_manifests=5, min_age_hours=0)
    assert len(report["removed_manifests"]) == 10
    assert store.current_manifest()["snapshot_id"] == 15  # pointer intact
    remaining = sorted(os.listdir(store.manifest_dir))
    assert "manifest-15.json" in remaining and "manifest-5.json" not in remaining


def test_vacuum_after_metadata_only_commits_keeps_data_live(spark, tmp_path):
    """Metadata-only commits (empty new_buckets — the lineage-compaction
    path) carry the parent's bucket map forward, so even an
    aggressive vacuum that expires every DATA-BEARING manifest must keep the
    run dirs those metadata-only manifests still reference."""
    from docling_service_spark.sparkio.checkpoint import vacuum

    root = str(tmp_path / "table")
    run_incremental(spark, corpus_df(spark, 40, partitions=2), root,
                    n_buckets=4, num_partitions=2, run_id="data1")
    store = SnapshotStore(root)
    for i in range(3):  # pile metadata-only commits on top
        store.commit([], f"meta{i}")
    assert store.current_manifest()["snapshot_id"] == 4

    # keep_manifests=2 retains ONLY metadata-only manifests (3, 4); the
    # data-bearing manifest-1 expires.
    report = vacuum(root, keep_manifests=2, min_age_hours=0)
    assert "manifest-1.json" in report["removed_manifests"]
    assert report["removed_run_dirs"] == []  # data1's dir still referenced
    assert store.read_output(spark).count() == 40
    assert store.live_doc_count() == 40  # bucket_sums carried through too


def test_register_views_sql_surface(spark, tmp_path):
    from docling_service_spark.sparkio.checkpoint import register_views

    root = str(tmp_path / "table")
    run_incremental(spark, corpus_df(spark, 30, partitions=2), root, n_buckets=2, run_id="v")
    views = register_views(spark, root)
    assert views == ["dss_extracted", "dss_lineage", "dss_spans"]

    n = spark.sql("SELECT count(*) AS n FROM dss_extracted").collect()[0]["n"]
    assert n == 30
    # Ordered spans flattened: offsets dense per doc.
    bad = spark.sql("""
        SELECT doc_id FROM (
          SELECT doc_id, offset,
                 ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY offset) - 1 AS expect
          FROM dss_spans) WHERE offset != expect
    """).count()
    assert bad == 0
    lin = spark.sql("SELECT sum(doc_count) AS d FROM dss_lineage").collect()[0]["d"]
    assert lin == 30


def test_n_buckets_immutable(spark, tmp_path):
    import pytest

    root = str(tmp_path / "table")
    run_incremental(spark, corpus_df(spark, 20, partitions=2), root, n_buckets=8, run_id="a")
    with pytest.raises(ValueError, match="n_buckets"):
        run_incremental(spark, corpus_df(spark, 20, partitions=2), root, n_buckets=4, run_id="b")
    from docling_service_spark.sparkio.checkpoint import run_upsert

    with pytest.raises(ValueError, match="n_buckets"):
        run_upsert(spark, corpus_df(spark, 20, partitions=2), root, n_buckets=16, run_id="c")


def test_vacuum_grace_period_protects_fresh_orphans(spark, tmp_path):
    import os

    from docling_service_spark.sparkio.checkpoint import vacuum

    root = str(tmp_path / "table")
    run_incremental(spark, corpus_df(spark, 20, partitions=2), root, n_buckets=2, run_id="live")
    os.makedirs(os.path.join(root, "data", "run=inflight"), exist_ok=True)
    report = vacuum(root)  # default grace period: fresh dir must survive
    assert report["removed_run_dirs"] == []
    assert os.path.exists(os.path.join(root, "data", "run=inflight"))
    report = vacuum(root, min_age_hours=0)
    assert "data/run=inflight" in report["removed_run_dirs"]


def _drop_bucket_sums(m):
    del m["bucket_sums"]


def _shorten_one_summary(m):
    b = sorted(m["bucket_sums"], key=int)[0]
    m["bucket_sums"][b] = m["bucket_sums"][b][:2]


def _drop_lifetime_stats(m):
    del m["lifetime_stats"]


@pytest.mark.parametrize("damage, field, lifetime_raises", [
    (_drop_bucket_sums, "bucket_sums", True),
    (_shorten_one_summary, "bucket_sums", False),
    (_drop_lifetime_stats, "lifetime_stats", True),
], ids=["no_bucket_sums", "short_summary", "no_lifetime_stats"])
def test_manifest_outside_the_format_is_refused(spark, tmp_path, damage, field,
                                                lifetime_raises):
    """The store reads one manifest format: every manifest carries
    ``bucket_sums`` (a 3-field entry per committed bucket) and
    ``lifetime_stats``.  A manifest missing either is refused with an error
    naming the file and the field — no recompute, no fallback scan.
    ``lifetime_totals`` reads only ``lifetime_stats``, so a short summary
    entry does not concern it."""
    root = str(tmp_path / "table")
    inp = corpus_df(spark, 30, partitions=2)
    run_incremental(spark, inp, root, n_buckets=4, num_partitions=2, run_id="v1")
    store = SnapshotStore(root)
    path = os.path.join(store.manifest_dir, "manifest-1.json")
    with open(path) as f:
        m = json.load(f)
    damage(m)
    with open(path, "w") as f:
        json.dump(m, f)

    pattern = rf"manifest-1\.json.*{field}"
    with pytest.raises(ValueError, match=pattern):
        run_upsert(spark, inp, root, n_buckets=4, num_partitions=2, run_id="v2")
    with pytest.raises(ValueError, match=pattern):
        compact(spark, root, run_id="c")
    with pytest.raises(ValueError, match=pattern):
        store.live_doc_count()
    if lifetime_raises:
        with pytest.raises(ValueError, match=pattern):
            store.lifetime_totals()
    else:
        assert store.lifetime_totals()["docs"] == 30
    assert store._manifest_ids() == [1]  # nothing was committed on top


def _files(root):
    return {os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
            for d, _, fs in os.walk(root) for f in fs}


def test_reused_run_id_is_refused_before_any_write(spark, tmp_path):
    """A run writes its files under its id with overwrite semantics, so
    reusing a committed id used to erase the first run's files: the
    manifest then counted 80 live docs while 42 stayed readable.  Every
    writer now refuses such an id before writing a file."""
    root = str(tmp_path / "table")
    inp = corpus_df(spark, 80, partitions=4)
    r1 = run_incremental(spark, inp, root, n_buckets=N_BUCKETS,
                         max_buckets_per_run=4, run_id="r1")
    assert r1["docs"] == 38
    before = _files(root)

    with pytest.raises(ValueError, match="run_id 'r1'"):
        run_incremental(spark, inp, root, n_buckets=N_BUCKETS,
                        max_buckets_per_run=4, run_id="r1")
    with pytest.raises(ValueError, match="run_id 'r1'"):
        run_merge_upsert(spark, inp, root, n_buckets=N_BUCKETS, run_id="r1")
    store = SnapshotStore(root)
    assert _files(root) == before
    assert store.read_output(spark).count() == store.live_doc_count() == 38

    run_incremental(spark, inp, root, n_buckets=N_BUCKETS, run_id="r2")
    before = _files(root)
    with pytest.raises(ValueError, match="run_id 'r2'"):
        compact(spark, root, max_live_runs=1, run_id="r2")
    with pytest.raises(ValueError, match="run_id 'r1'"):
        compact_lineage(spark, root, max_lineage_runs=1, run_id="r1")
    assert _files(root) == before
    assert store.read_output(spark).count() == 80

    # A no-op re-run may reuse an id: it writes nothing.
    noop = run_incremental(spark, inp, root, n_buckets=N_BUCKETS, run_id="r1")
    assert noop["snapshot_id"] is None


def test_only_the_store_knows_the_table_layout():
    """sparkio/checkpoint.py is the one module that knows where a table's
    files live: no other package module, and not job.py, builds a
    ``run=``/``batch=`` path or reads parquet with INSTRUMENTED_DDL."""
    import ast
    import pathlib

    import docling_service_spark

    pkg = pathlib.Path(docling_service_spark.__file__).parent
    paths = [p for p in sorted(pkg.rglob("*.py")) if p != pkg / "sparkio" / "checkpoint.py"]
    paths.append(pkg.parent / "job.py")
    found = []
    for path in paths:
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if (isinstance(node, ast.Constant) and isinstance(node.value, str)
                    and ("run=" in node.value or "batch=" in node.value)):
                found.append(f"{path.name}:{node.lineno} {node.value[:40]!r}")
            elif (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                  and node.func.attr == "schema"
                  and any(getattr(a, "id", getattr(a, "attr", None)) == "INSTRUMENTED_DDL"
                          for a in node.args)):
                found.append(f"{path.name}:{node.lineno} .schema(INSTRUMENTED_DDL)")
    assert not found
