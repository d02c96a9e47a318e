"""Copy-on-write upserts: only dirty buckets reprocess; shadowing is exact."""

from __future__ import annotations

from pyspark.sql import functions as F

from docling_service_spark.corpus import make_corpus
from docling_service_spark.schemas import INPUT_SCHEMA
from docling_service_spark.sparkio.checkpoint import (
    SnapshotStore,
    run_incremental,
    run_upsert,
    vacuum,
)

N_DOCS = 120
N_BUCKETS = 16


def _mutate(doc: dict) -> dict:
    spans = list(doc["spans"]) + [{
        "kind": "text_block", "text": "REVISED-CONTENT appended in version two.",
        "media_ref": "1,72,750,400,16,TOPLEFT,text", "offset": len(doc["spans"]),
    }]
    return {"doc_id": doc["doc_id"], "spans": spans}


def test_upsert_reprocesses_only_dirty_buckets(spark, tmp_path):
    root = str(tmp_path / "table")
    v1 = make_corpus(N_DOCS)
    df1 = spark.createDataFrame(v1, INPUT_SCHEMA)
    r1 = run_incremental(spark, df1, root, n_buckets=N_BUCKETS, num_partitions=4, run_id="v1")
    assert r1["docs"] == N_DOCS

    store = SnapshotStore(root)
    before = {r["doc_id"]: r for r in store.read_output(spark).collect()}

    # v2: mutate 10 docs (idx % 12 == 0), keep the rest byte-identical.
    changed_ids = set()
    v2 = []
    for i, d in enumerate(v1):
        if i % 12 == 0 and d["spans"] and d["spans"][0]["kind"] != "image":
            v2.append(_mutate(d))
            changed_ids.add(d["doc_id"])
        else:
            v2.append(d)
    df2 = spark.createDataFrame(v2, INPUT_SCHEMA)

    r2 = run_upsert(spark, df2, root, n_buckets=N_BUCKETS, num_partitions=4, run_id="v2")
    assert 0 < len(r2["buckets"]) < N_BUCKETS  # only dirty buckets rewrote
    assert r2["snapshot_id"] == 2

    after = {r["doc_id"]: r for r in store.read_output(spark).collect()}
    assert len(after) == N_DOCS and set(after) == set(before)

    for doc_id, row in after.items():
        texts = [s["text"] for s in (row["spans"] or [])]
        if doc_id in changed_ids:
            assert any("REVISED-CONTENT" in t for t in texts), doc_id
        else:
            assert row["spans"] == before[doc_id]["spans"], doc_id
            assert row["markdown"] == before[doc_id]["markdown"]

    # Idempotence: upserting the same v2 again is a no-op.
    r3 = run_upsert(spark, df2, root, n_buckets=N_BUCKETS, run_id="v3")
    assert r3["buckets"] == [] and r3["snapshot_id"] is None


def test_upsert_handles_new_and_deleted_docs(spark, tmp_path):
    root = str(tmp_path / "table")
    v1 = make_corpus(60)
    run_incremental(spark, spark.createDataFrame(v1, INPUT_SCHEMA), root,
                    n_buckets=8, num_partitions=4, run_id="v1")
    store = SnapshotStore(root)

    # v2: add 5 brand-new docs; drop one existing doc.
    new_docs = [{"doc_id": f"new-doc-{i}",
                 "spans": [{"kind": "text_block",
                            "text": "Fresh document body long enough to keep around.",
                            "media_ref": "1,72,100,400,16,TOPLEFT,text", "offset": 0}]}
                for i in range(5)]
    dropped = v1[7]["doc_id"]
    v2 = [d for d in v1 if d["doc_id"] != dropped] + new_docs
    r = run_upsert(spark, spark.createDataFrame(v2, INPUT_SCHEMA), root,
                   n_buckets=8, num_partitions=4, run_id="v2")
    assert r["docs"] > 0

    ids = {x["doc_id"] for x in store.read_output(spark).select("doc_id").collect()}
    for nd in new_docs:
        assert nd["doc_id"] in ids
    # Deletion changes the bucket's summary (count+hash-sum), so the dropped
    # doc is gone after the wholesale rewrite.
    assert dropped not in ids
    assert len(ids) == 64


def test_vacuum_after_full_shadowing(spark, tmp_path):
    root = str(tmp_path / "table")
    v1 = make_corpus(40)
    run_incremental(spark, spark.createDataFrame(v1, INPUT_SCHEMA), root,
                    n_buckets=2, num_partitions=2, run_id="v1")
    # Mutate every doc → both buckets dirty → run v1 fully shadowed.
    v2 = [_mutate(d) for d in v1]
    run_upsert(spark, spark.createDataFrame(v2, INPUT_SCHEMA), root,
               n_buckets=2, num_partitions=2, run_id="v2")
    store = SnapshotStore(root)
    assert set(store.committed_buckets().values()) == {"v2"}
    # With keep_manifests=10 the parent manifest still references v1, so
    # its data stays live (retained manifests are rollback-usable, not
    # audit-only); nothing is removed.
    report = vacuum(root, min_age_hours=0)
    assert "data/run=v1" not in report["removed_run_dirs"]
    # Expiring the parent manifest (keep only CURRENT) frees the shadowed run.
    report = vacuum(root, min_age_hours=0, keep_manifests=1)
    assert "data/run=v1" in report["removed_run_dirs"]
    assert store.read_output(spark).count() == 40
