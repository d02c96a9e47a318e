"""Table compaction (round-4 verdict next-round item #2): long-lived
merge/upsert tables fragment — each run adds a ``data/run={id}`` dir and the
read file-list grows with run count.  ``compact`` rewrites the live rows into
ONE run dir under the same CAS discipline as the merge commit; results must
be byte-identical and concurrent writers must never be silently clobbered."""

from __future__ import annotations

import glob
import os

import pytest

from docling_service_spark.corpus import make_corpus
from docling_service_spark.schemas import INPUT_SCHEMA
from docling_service_spark.sparkio.checkpoint import (
    SnapshotConflictError,
    SnapshotStore,
    compact,
    run_incremental,
    run_merge_upsert,
    vacuum,
)

N_BUCKETS = 8


def _mutate(doc: dict, tag: str) -> dict:
    spans = list(doc["spans"]) + [{
        "kind": "text_block", "text": f"REV-{tag} appended.",
        "media_ref": "1,72,750,400,16,TOPLEFT,text", "offset": len(doc["spans"]),
    }]
    return {"doc_id": doc["doc_id"], "spans": spans}


def _live_files(store: SnapshotStore):
    """(live run-dir count, live parquet file count) the reader touches."""
    runs = sorted(set(store.committed_buckets().values()))
    files = [f for r in runs
             for f in glob.glob(os.path.join(store.root, "data", f"run={r}",
                                             "part-*.parquet"))]
    return len(runs), len(files)


def _snapshot_rows(spark, store: SnapshotStore):
    rows = store.read_output(spark, instrumented=True).collect()
    return sorted((r.asDict(recursive=True) for r in rows),
                  key=lambda d: d["doc_id"])


def test_compact_collapses_fragmentation_byte_identical(spark, tmp_path):
    root = str(tmp_path / "table")
    corpus = make_corpus(40)
    run_incremental(spark, spark.createDataFrame(corpus, INPUT_SCHEMA), root,
                    n_buckets=N_BUCKETS, num_partitions=2, run_id="base")
    # ~10 merge waves, each touching a few docs → live buckets scatter.
    for wave in range(10):
        batch = [_mutate(corpus[(3 * wave + j) % 40], f"w{wave}") for j in range(3)]
        run_merge_upsert(spark, spark.createDataFrame(batch, INPUT_SCHEMA),
                         root, n_buckets=N_BUCKETS, run_id=f"m{wave}")
    store = SnapshotStore(root)
    runs_before, files_before = _live_files(store)
    assert runs_before > 4, "merge waves should fragment the live mapping"
    before = _snapshot_rows(spark, store)
    before_docs = store.read_docs(spark, [corpus[3]["doc_id"], corpus[17]["doc_id"]])
    before_docs = sorted((r.asDict(recursive=True) for r in before_docs.collect()),
                         key=lambda d: d["doc_id"])

    r = compact(spark, root, max_live_runs=1, run_id="cpt")
    assert r["runs_before"] == runs_before and r["runs_after"] == 1
    assert r["snapshot_id"] == store.current_manifest()["snapshot_id"]
    assert r["docs"] == 40

    runs_after, files_after = _live_files(store)
    assert runs_after == 1
    assert files_after < files_before, (files_before, files_after)
    # Byte-identical reads — instrumentation columns included.
    assert _snapshot_rows(spark, store) == before
    after_docs = store.read_docs(spark, [corpus[3]["doc_id"], corpus[17]["doc_id"]])
    assert sorted((r_.asDict(recursive=True) for r_ in after_docs.collect()),
                  key=lambda d: d["doc_id"]) == before_docs
    # Summaries carried forward verbatim → live_doc_count stays O(manifest).
    assert store.live_doc_count() == 40

    # Idempotent: a second compact is a no-op.
    r2 = compact(spark, root, max_live_runs=1, run_id="cpt2")
    assert r2["snapshot_id"] is None and r2["runs_before"] == 1

    # Post-compact maintenance: once manifests referencing the old dirs
    # expire, vacuum frees them; the compacted table still reads unchanged.
    vacuum(root, keep_manifests=1, min_age_hours=0)
    assert _snapshot_rows(spark, store) == before
    assert _live_files(store) == (1, files_after)


def test_compact_vacuum_lifecycle_reclaims_superseded_dirs(spark, tmp_path):
    """Operability at depth (r5 verdict #6): N=10 merge rounds → compact →
    vacuum with retention expiry must PHYSICALLY reclaim every superseded
    run dir — the end-state disk census is exactly the one compacted dir,
    one retained manifest, and an unchanged byte-identical read."""
    root = str(tmp_path / "table")
    corpus = make_corpus(40)
    run_incremental(spark, spark.createDataFrame(corpus, INPUT_SCHEMA), root,
                    n_buckets=N_BUCKETS, num_partitions=2, run_id="base")
    for wave in range(10):
        batch = [_mutate(corpus[(3 * wave + j) % 40], f"w{wave}") for j in range(3)]
        run_merge_upsert(spark, spark.createDataFrame(batch, INPUT_SCHEMA),
                         root, n_buckets=N_BUCKETS, run_id=f"m{wave}")
    store = SnapshotStore(root)
    before = _snapshot_rows(spark, store)

    def _dir_census():
        return sorted(os.path.basename(p)
                      for p in glob.glob(os.path.join(root, "data", "run=*")))

    assert len(_dir_census()) == 11  # base + 10 merge waves, all still on disk

    r = compact(spark, root, max_live_runs=1, run_id="cpt")
    assert r["runs_after"] == 1
    # Compaction itself deletes nothing — superseded dirs await vacuum
    # (retained manifests may still reference them for rollback).
    assert len(_dir_census()) == 12

    rep = vacuum(root, keep_manifests=1, min_age_hours=0)
    assert _dir_census() == ["run=cpt"], "every superseded dir reclaimed"
    assert len(rep["removed_run_dirs"]) >= 11
    manifests = [e for e in os.listdir(os.path.join(root, "_manifests"))
                 if e.startswith("manifest-")]
    assert len(manifests) == 1  # retention expired all but the compaction's

    # The single-dir table still reads byte-identically, point reads
    # included, and the O(manifest) live count survived.
    assert _snapshot_rows(spark, store) == before
    assert store.live_doc_count() == 40
    one = store.read_docs(spark, [corpus[5]["doc_id"]]).collect()
    assert len(one) == 1 and one[0]["doc_id"] == corpus[5]["doc_id"]


def test_compact_smallest_scope_merges_only_the_fragmented_tail(spark, tmp_path):
    """Binpack (compact's one policy): keep the max_live_runs-1 biggest
    runs PHYSICALLY untouched, merge only the small fragmented runs — an
    O(tail) rewrite instead of O(table)."""
    root = str(tmp_path / "table")
    corpus = make_corpus(40)
    run_incremental(spark, spark.createDataFrame(corpus, INPUT_SCHEMA), root,
                    n_buckets=N_BUCKETS, num_partitions=2, run_id="base")
    for wave in range(10):
        batch = [_mutate(corpus[(3 * wave + j) % 40], f"w{wave}") for j in range(3)]
        run_merge_upsert(spark, spark.createDataFrame(batch, INPUT_SCHEMA),
                         root, n_buckets=N_BUCKETS, run_id=f"m{wave}")
    store = SnapshotStore(root)
    before = _snapshot_rows(spark, store)
    m = store.current_manifest()
    runs_before = sorted(set(m["buckets"].values()))
    assert len(runs_before) > 3, "need fragmentation beyond the budget"

    def _docs_of(run):
        return sum(int(m["bucket_sums"][b][0])
                   for b, r in m["buckets"].items() if r == run)

    expect_kept = sorted(runs_before, key=lambda r: (_docs_of(r), r))[-2:]
    kept_files_before = {
        r: sorted(glob.glob(os.path.join(root, "data", f"run={r}", "*")))
        for r in expect_kept}

    r = compact(spark, root, max_live_runs=3, run_id="bp")
    assert r["runs_before"] == len(runs_before) and r["runs_after"] == 3
    live = set(store.committed_buckets().values())
    assert live == set(expect_kept) | {"bp"}
    # The kept (biggest) runs were not rewritten — same physical files.
    for run, files in kept_files_before.items():
        assert sorted(glob.glob(os.path.join(
            root, "data", f"run={run}", "*"))) == files
    # Only the tail's docs were materialized.
    assert r["docs"] == 40 - sum(_docs_of(k) for k in expect_kept)
    assert r["docs"] < 40

    # Byte-identical reads, O(manifest) count, lifetime totals untouched.
    assert _snapshot_rows(spark, store) == before
    assert store.live_doc_count() == 40
    assert store.current_manifest()["lifetime_stats"] == m["lifetime_stats"]

    # Within budget now: another binpack is a no-op; a FULL compact still
    # collapses to one dir and stays byte-identical.
    r2 = compact(spark, root, max_live_runs=3, run_id="bp2")
    assert r2["snapshot_id"] is None and r2["runs_before"] == 3
    r3 = compact(spark, root, max_live_runs=1, run_id="full")
    assert r3["runs_after"] == 1
    assert _snapshot_rows(spark, store) == before


def test_compact_respects_budget_and_empty_table(spark, tmp_path):
    root = str(tmp_path / "table")
    assert compact(spark, root, run_id="c0")["snapshot_id"] is None  # empty
    corpus = make_corpus(10)
    run_incremental(spark, spark.createDataFrame(corpus, INPUT_SCHEMA), root,
                    n_buckets=N_BUCKETS, run_id="base")
    # One live run dir, default budget max_live_runs=1 → within budget.
    r = compact(spark, root, run_id="c1")
    assert r["snapshot_id"] is None and r["runs_before"] == 1


def test_compact_conflicts_when_writer_lands_first(spark, tmp_path):
    """CAS: a writer committing between compaction's read and its commit
    must make the compaction RAISE — committing the rewrite would resurrect
    the pre-merge rows it materialized (silent lost update)."""
    root = str(tmp_path / "table")
    corpus = make_corpus(20)
    run_incremental(spark, spark.createDataFrame(corpus, INPUT_SCHEMA), root,
                    n_buckets=N_BUCKETS, run_id="base")
    run_merge_upsert(spark, spark.createDataFrame([_mutate(corpus[1], "a")],
                                                  INPUT_SCHEMA),
                     root, n_buckets=N_BUCKETS, run_id="m1")
    store = SnapshotStore(root)
    planned = store.current_manifest()["snapshot_id"]

    # Interleave a concurrent merge inside compaction's read→commit window
    # by racing through the same primitive compact uses: its commit CAS's on
    # the planned parent, which this advance invalidates.
    real_commit = SnapshotStore.commit
    raced = {"done": False}

    def racing_commit(self, *a, **kw):
        if not raced["done"] and kw.get("expected_parent_snapshot_id") == planned:
            raced["done"] = True
            run_merge_upsert(spark, spark.createDataFrame(
                [_mutate(corpus[2], "b")], INPUT_SCHEMA),
                root, n_buckets=N_BUCKETS, run_id="m2")
        return real_commit(self, *a, **kw)

    SnapshotStore.commit = racing_commit
    try:
        with pytest.raises(SnapshotConflictError, match="planned against snapshot"):
            compact(spark, root, max_live_runs=1, run_id="cpt")
    finally:
        SnapshotStore.commit = real_commit
    # Nothing lost: the concurrent merge's revision is live; the failed
    # compaction's dir is an unreferenced orphan.
    out = {r_["doc_id"]: r_ for r_ in store.read_output(spark).collect()}
    assert len(out) == 20
    assert any("REV-b" in s["text"] for s in out[corpus[2]["doc_id"]]["spans"])
    live = set(store.committed_buckets().values())
    assert "cpt" not in live and os.path.isdir(os.path.join(root, "data", "run=cpt"))
    # A fresh compaction against the new snapshot succeeds.
    r = compact(spark, root, max_live_runs=1, run_id="cpt2")
    assert r["snapshot_id"] is not None and r["runs_after"] == 1
    assert {r_["doc_id"] for r_ in store.read_output(spark).collect()} == set(out)
