"""Run statistics: the extraction kernel's accumulator is the one source of a
run's lineage rows, its fresh bucket fingerprints and its ``run_stats`` (the
lineage column sums).  Manifest ``lifetime_stats`` accumulate those at commit
time — merge runs book only their real work, since carried rows never pass
the kernel — so run reporting reads O(manifest) and launches ZERO Spark jobs,
on every path (fresh, incremental, merge), instead of aggregating the lineage
table per run (r6 verdict next-round #5).  The accumulator's folds are pinned
against independent Spark aggregates over the written run dir."""

from __future__ import annotations

import os

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from docling_service_spark.corpus import corpus_df, make_corpus
from docling_service_spark.schemas import INPUT_SCHEMA
from docling_service_spark.sparkio import checkpoint as cp
from docling_service_spark.sparkio.batch import (
    INSTRUMENTED_DDL,
    _fold_bucket_sums,
    _span_bytes,
)
from docling_service_spark.sparkio.checkpoint import (
    SnapshotStore,
    compact,
    run_incremental,
    run_merge_upsert,
    run_upsert,
)
from docling_service_spark.sparkio.pipeline import derive_lineage

N_DOCS = 60
N_BUCKETS = 8


def _lineage_totals(spark, store) -> dict:
    row = (store.read_lineage(spark).groupBy()
           .sum("doc_count", "parse_failures", "rejected", "wall_ms")
           .collect()[0])
    return {k: int(v or 0) for k, v in zip(store.LIFETIME_KEYS, row)}


def test_lifetime_stats_match_lineage_across_incremental_runs(spark, tmp_path):
    root = str(tmp_path / "table")
    inp = corpus_df(spark, N_DOCS, partitions=4)
    run_incremental(spark, inp, root, n_buckets=N_BUCKETS,
                    max_buckets_per_run=3, num_partitions=4, run_id="a")
    run_incremental(spark, inp, root, n_buckets=N_BUCKETS,
                    num_partitions=4, run_id="b")
    store = SnapshotStore(root)
    ls = store.current_manifest()["lifetime_stats"]
    assert ls == _lineage_totals(spark, store)
    assert ls["docs"] == N_DOCS and ls["wall_ms"] > 0


def test_merge_books_only_changed_docs_and_stays_lineage_equal(spark, tmp_path):
    root = str(tmp_path / "table")
    docs = make_corpus(N_DOCS)
    run_incremental(spark, spark.createDataFrame(docs, INPUT_SCHEMA), root,
                    n_buckets=N_BUCKETS, num_partitions=2, run_id="base")

    changed = [{"doc_id": d["doc_id"],
                "spans": list(d["spans"]) + [{
                    "kind": "text_block", "text": "REV2.",
                    "media_ref": "1,72,750,400,16,TOPLEFT,text",
                    "offset": len(d["spans"])}]}
               for d in docs[:3]]
    fresh = [{"doc_id": f"new-{i:04d}",
              "spans": [{"kind": "text_block", "text": f"brand new {i}",
                         "media_ref": "1,72,100,400,16,TOPLEFT,text",
                         "offset": 0}]}
             for i in range(2)]
    batch = spark.createDataFrame(changed + fresh, INPUT_SCHEMA)
    s = run_merge_upsert(spark, batch, root, n_buckets=N_BUCKETS,
                         num_partitions=2, run_id="merge1")

    # The merged buckets materialize kept + changed rows, but run_stats (and
    # therefore the lifetime delta) counts only this batch's real work.
    assert s["docs_changed"] == 5
    assert s["run_stats"]["docs"] == 5
    assert s["docs"] > 5  # carried siblings were rewritten into the run dir

    store = SnapshotStore(root)
    ls = store.current_manifest()["lifetime_stats"]
    assert ls == _lineage_totals(spark, store)  # carried rows never re-booked
    assert ls["docs"] == N_DOCS + 5


def test_lifetime_totals_launch_no_spark_jobs(spark, tmp_path):
    root = str(tmp_path / "table")
    docs = make_corpus(N_DOCS)
    run_incremental(spark, spark.createDataFrame(docs, INPUT_SCHEMA), root,
                    n_buckets=N_BUCKETS, num_partitions=2, run_id="base")
    batch = spark.createDataFrame(
        [{"doc_id": docs[0]["doc_id"],
          "spans": [{"kind": "text_block", "text": "rewritten",
                     "media_ref": "1,72,100,400,16,TOPLEFT,text",
                     "offset": 0}]}], INPUT_SCHEMA)
    run_merge_upsert(spark, batch, root, n_buckets=N_BUCKETS,
                     num_partitions=2, run_id="merge1")

    store = SnapshotStore(root)
    sc = spark.sparkContext
    sc.setJobGroup("lifetime-stats-probe", "must stay empty")
    try:
        totals = store.lifetime_totals(spark)
    finally:
        sc.setJobGroup("lifetime-stats-after", "")
    assert totals["docs"] == N_DOCS + 1
    # The old report path ran a lineage aggregate job here on merge-bearing
    # tables; the manifest path must read metadata only.
    assert list(sc.statusTracker().getJobIdsForGroup("lifetime-stats-probe")) == []


def _lineage_rows(rows) -> list[tuple]:
    return sorted((r["run_id"], r["snapshot_id"], r["partition_id"], r["doc_count"],
                   r["bytes"], r["parse_failures"], r["rejected"], r["wall_ms"])
                  for r in rows)


def _column_sums(lineage: list[tuple]) -> dict:
    return {k: sum(r[i] for r in lineage)
            for k, i in zip(SnapshotStore.LIFETIME_KEYS, (3, 5, 6, 7))}


def _run_dir(spark, root, run_id):
    return spark.read.schema(INSTRUMENTED_DDL).parquet(
        os.path.join(root, "data", f"run={run_id}"))


def test_run_stats_match_spark_aggregates_of_the_same_run(spark, tmp_path):
    """Lineage rows, bucket fingerprints and run_stats all come from the
    kernel accumulator; each must equal an independent Spark aggregate over
    the rows that run wrote — the decimal hash sums included (the
    accumulator reimplements Spark's xxhash64-of-long + decimal(38,0) sums
    in numpy/python), and wall_ms exactly, since both read the same run."""
    root = str(tmp_path / "table")
    docs = make_corpus(N_DOCS)
    docs[1] = {**docs[1], "spans": None}                  # a parse failure
    cap = max(_span_bytes(d["spans"]) for d in docs) - 1  # the largest doc is rejected
    s = run_incremental(spark, spark.createDataFrame(docs, INPUT_SCHEMA), root,
                        n_buckets=N_BUCKETS, num_partitions=4, run_id="r",
                        max_doc_bytes=cap)
    store = SnapshotStore(root)
    written = _run_dir(spark, root, "r")

    lineage = _lineage_rows(store.read_lineage(spark).collect())
    assert lineage == _lineage_rows(
        derive_lineage(written, "r", s["snapshot_id"]).collect())
    expected_sums = {str(b): list(cp._EMPTY_SUM) for b in range(N_BUCKETS)}
    expected_sums.update(cp._bucket_summaries(written))
    assert store.current_manifest()["bucket_sums"] == expected_sums
    assert s["run_stats"] == _column_sums(lineage)
    assert s["run_stats"]["parse_failures"] >= 1 and s["run_stats"]["rejected"] >= 1
    assert s["run_stats"]["docs"] == N_DOCS

    # Merge run: lineage books only the changed docs, whose written rows are
    # exactly the ones that passed the kernel.
    changed = [{"doc_id": d["doc_id"],
                "spans": [{"kind": "text_block", "text": f"rev2 {i}",
                           "media_ref": "1,72,100,400,16,TOPLEFT,text",
                           "offset": 0}]}
               for i, d in enumerate(docs[2:5])]
    changed.append({"doc_id": "new-0000", "spans": None})
    m = run_merge_upsert(spark, spark.createDataFrame(changed, INPUT_SCHEMA), root,
                         n_buckets=N_BUCKETS, num_partitions=2, run_id="m")
    written = _run_dir(spark, root, "m")
    ids = [d["doc_id"] for d in changed]
    merge_lineage = _lineage_rows(
        store.read_lineage(spark).filter(F.col("run_id") == "m").collect())
    assert merge_lineage == _lineage_rows(derive_lineage(
        written.filter(F.col("doc_id").isin(ids)), "m", m["snapshot_id"]).collect())
    assert m["run_stats"] == _column_sums(merge_lineage)
    assert m["run_stats"]["docs"] == len(changed) and m["run_stats"]["parse_failures"] == 1
    sums = store.current_manifest()["bucket_sums"]
    assert {b: sums[str(b)] for b in m["buckets"]} == {
        int(b): v for b, v in cp._bucket_summaries(written).items()}


def test_merge_fingerprints_equal_a_scan_of_the_written_run(spark, tmp_path):
    """A merge takes each dirty bucket's fingerprint from the parent
    manifest's sums, less the replaced rows' old-hash sums, plus the kernel
    accumulator's sums; it never reads back its run dir.  Over one batch
    holding every kind of row a merge meets, on a partly uncommitted table,
    those sums must equal _bucket_summaries over the written run dir."""
    root = str(tmp_path / "table")
    docs = make_corpus(N_DOCS)
    run_incremental(spark, spark.createDataFrame(docs, INPUT_SCHEMA), root,
                    n_buckets=N_BUCKETS, max_buckets_per_run=5, run_id="base")
    store = SnapshotStore(root)
    committed = {int(b) for b in store.current_manifest()["buckets"]}
    assert 0 < len(committed) < N_BUCKETS

    def text_doc(doc_id, text):
        return {"doc_id": doc_id, "spans": [{
            "kind": "text_block", "text": text,
            "media_ref": "1,72,100,400,16,TOPLEFT,text", "offset": 0}]}

    candidates = [text_doc(f"new-{i:04d}", f"fresh {i}") for i in range(64)]
    bucket = {r["doc_id"]: r["_bucket"] for r in cp.prepare_input(
        spark.createDataFrame(docs + candidates, INPUT_SCHEMA), N_BUCKETS,
    ).select("doc_id", "_bucket").collect()}
    replaced = next(d for d in docs if bucket[d["doc_id"]] in committed)
    unchanged = next(d for d in docs if d is not replaced
                     and bucket[d["doc_id"]] == bucket[replaced["doc_id"]])
    new_committed = next(d for d in candidates if bucket[d["doc_id"]] in committed)
    new_uncommitted = next(d for d in candidates
                           if bucket[d["doc_id"]] not in committed)
    failure = {"doc_id": "new-failed", "spans": None}
    batch = [text_doc(replaced["doc_id"], "rev2"), unchanged, new_committed,
             new_uncommitted, failure]
    cap = max(_span_bytes(d["spans"]) for d in batch if d["spans"])
    batch.append(text_doc("new-reject", "x" * (cap + 1)))

    s = run_merge_upsert(spark, spark.createDataFrame(batch, INPUT_SCHEMA), root,
                         n_buckets=N_BUCKETS, run_id="m", max_doc_bytes=cap)
    assert s["docs_changed"] == 5  # everything but the unchanged doc
    assert s["run_stats"]["parse_failures"] == 1 and s["run_stats"]["rejected"] == 1
    assert bucket[new_uncommitted["doc_id"]] in s["buckets"]
    sums = store.current_manifest()["bucket_sums"]
    assert {str(b): sums[str(b)] for b in s["buckets"]} == cp._bucket_summaries(
        _run_dir(spark, root, "m"))
    assert store.live_doc_count() == store.read_output(spark).count()


@pytest.mark.parametrize("null_col", ["_bucket", "_input_hash"])
def test_fold_bucket_sums_refuses_null_passthrough(null_col):
    """A skipped or NaN-mangled fold would commit a wrong fingerprint, and
    no second channel would notice: a null passthrough value must raise."""
    bucket = pa.array([1, None if null_col == "_bucket" else 2], pa.int32())
    hashes = pa.array([5, None if null_col == "_input_hash" else 6], pa.int64())
    with pytest.raises(ValueError, match="prepare_input"):
        _fold_bucket_sums({}, bucket, hashes)


def test_bucket_wholesale_upsert_rebooks_reprocessed_work(spark, tmp_path):
    """run_upsert rewrites dirty buckets WHOLESALE — every re-extracted doc
    is real work and must be re-booked (lineage does), so lifetime totals
    exceed the live doc count after an update wave and stay lineage-equal."""
    root = str(tmp_path / "table")
    docs = make_corpus(N_DOCS)
    run_incremental(spark, spark.createDataFrame(docs, INPUT_SCHEMA), root,
                    n_buckets=N_BUCKETS, num_partitions=2, run_id="base")

    v2 = [dict(d) for d in docs]
    v2[0] = {"doc_id": v2[0]["doc_id"],
             "spans": [{"kind": "text_block", "text": "fully rewritten",
                        "media_ref": "1,72,100,400,16,TOPLEFT,text",
                        "offset": 0}]}
    s = run_upsert(spark, spark.createDataFrame(v2, INPUT_SCHEMA), root,
                   n_buckets=N_BUCKETS, num_partitions=2, run_id="wave2")
    assert s["snapshot_id"] == 2 and len(s["buckets"]) >= 1

    store = SnapshotStore(root)
    ls = store.current_manifest()["lifetime_stats"]
    assert ls == _lineage_totals(spark, store)
    # N_DOCS initial + every doc in the rewritten dirty buckets re-booked.
    assert ls["docs"] == N_DOCS + s["docs"]
    assert store.live_doc_count() == N_DOCS


def test_compaction_carries_lifetime_forward_unchanged(spark, tmp_path):
    root = str(tmp_path / "table")
    inp = corpus_df(spark, N_DOCS, partitions=4)
    run_incremental(spark, inp, root, n_buckets=N_BUCKETS,
                    max_buckets_per_run=3, num_partitions=4, run_id="a")
    run_incremental(spark, inp, root, n_buckets=N_BUCKETS,
                    num_partitions=4, run_id="b")
    store = SnapshotStore(root)
    before = dict(store.current_manifest()["lifetime_stats"])
    c = compact(spark, root, max_live_runs=1, run_id="squash")
    assert c["snapshot_id"] is not None
    after = store.current_manifest()["lifetime_stats"]
    assert after == before  # a rewrite books no new extraction work
    assert after == _lineage_totals(spark, store)


def test_streaming_merge_lifetime_stays_lineage_equal(spark, tmp_path):
    """r7 verdict #6: micro-batches commit through the merge path, so
    lifetime stats accrue transitively — assert lifetime_totals == lineage
    sum after >= 3 micro-batches INCLUDING a no-op batch (identical docs
    re-sent: a micro-batch fires, the doc-level diff finds zero changes,
    no commit and no lifetime delta)."""
    import glob
    import shutil

    from docling_service_spark.sparkio.streaming import stream_merge_upsert

    def _land(path, docs, name):
        tmp = f"{path}.{name}.tmp"
        spark.createDataFrame(docs, INPUT_SCHEMA).coalesce(1).write.parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        os.makedirs(path, exist_ok=True)
        shutil.move(part, os.path.join(path, f"{name}.parquet"))
        shutil.rmtree(tmp)

    inp = str(tmp_path / "landing")
    root = str(tmp_path / "table")
    docs = make_corpus(20)

    _land(inp, docs, "w1")                       # batch 0: 20 fresh docs
    stream_merge_upsert(spark, inp, root, n_buckets=N_BUCKETS)

    changed = {"doc_id": docs[0]["doc_id"],
               "spans": [{"kind": "text_block", "text": "stream rev",
                          "media_ref": "1,72,100,400,16,TOPLEFT,text",
                          "offset": 0}]}
    _land(inp, [changed, docs[1]], "w2")         # batch 1: 1 changed + 1 resent
    stream_merge_upsert(spark, inp, root, n_buckets=N_BUCKETS)

    _land(inp, [docs[2], docs[3]], "w3")         # batch 2: pure no-op resend
    stream_merge_upsert(spark, inp, root, n_buckets=N_BUCKETS)

    store = SnapshotStore(root)
    snaps = store.current_manifest()["snapshot_id"]
    ls = store.current_manifest()["lifetime_stats"]
    assert ls == _lineage_totals(spark, store)   # transitively exact
    # 20 initial + the single changed doc; resends booked nothing.
    assert ls["docs"] == 21
    assert store.live_doc_count() == 20

    # A 4th run with no new files = zero micro-batches; totals untouched.
    stream_merge_upsert(spark, inp, root, n_buckets=N_BUCKETS)
    assert store.current_manifest()["snapshot_id"] == snaps
    assert store.current_manifest()["lifetime_stats"] == ls
