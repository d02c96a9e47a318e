"""Concurrency guards on the snapshot store (round-2 advice items):

- commit() snapshot-id allocation is the atomic commit point (os.link of a
  fully-written temp file): two committers that BOTH planned against the same
  parent serialize into parent→child snapshots — disjoint buckets merge, and
  a true bucket conflict raises for the loser even in the interleaved case
  that the old read-parent/swap-CURRENT flow silently lost.
- A no-op upsert is decided from manifest bucket summaries alone and reads
  zero committed data files.
- CURRENT is advisory and forward-only; readers trust the max manifest file.
"""

from __future__ import annotations

import os
import threading

import pytest

from docling_service_spark.sparkio.checkpoint import (
    SnapshotConflictError,
    SnapshotStore,
    run_incremental,
    run_upsert,
)
from tests.test_checkpoint import sums_for
from tests.test_upsert import INPUT_SCHEMA, make_corpus


def test_interleaved_disjoint_commits_both_land(tmp_path):
    root = str(tmp_path / "t")
    a, b = SnapshotStore(root), SnapshotStore(root)
    # Interleave: both read parent=None before either writes (the old flow
    # lost the first committer's buckets here).  With os.link claiming ids,
    # the second retries onto the first's manifest.
    barrier = threading.Barrier(2)
    ids = {}

    def commit(store, name, buckets):
        barrier.wait()
        ids[name] = store.commit(buckets, name, n_buckets=8,
                                bucket_sums=sums_for(buckets))

    t1 = threading.Thread(target=commit, args=(a, "ra", [0, 1]))
    t2 = threading.Thread(target=commit, args=(b, "rb", [2, 3]))
    t1.start(); t2.start(); t1.join(); t2.join()

    assert sorted(ids.values()) == [1, 2]
    m = SnapshotStore(root).current_manifest()
    assert m["snapshot_id"] == 2
    assert m["buckets"] == {"0": "ra", "1": "ra", "2": "rb", "3": "rb"}


def test_interleaved_conflicting_commit_raises_for_loser(tmp_path):
    root = str(tmp_path / "t")
    a, b = SnapshotStore(root), SnapshotStore(root)
    a.commit([0, 1], "ra", n_buckets=8, bucket_sums=sums_for([0, 1]))
    with pytest.raises(SnapshotConflictError):
        b.commit([1, 2], "rb", n_buckets=8, bucket_sums=sums_for([1, 2]))
    assert SnapshotStore(root).committed_buckets()["1"] == "ra"


def test_current_pointer_is_advisory_and_forward_only(tmp_path):
    root = str(tmp_path / "t")
    s = SnapshotStore(root)
    s.commit([0], "r1", n_buckets=4, bucket_sums=sums_for([0]))
    s.commit([1], "r2", n_buckets=4, bucket_sums=sums_for([1]))
    cur = os.path.join(s.manifest_dir, "CURRENT")
    # Regress CURRENT manually: readers must still see snapshot 2.
    with open(cur, "w") as f:
        f.write("manifest-1.json")
    assert s.current_manifest()["snapshot_id"] == 2
    # A late _advance_current for an older snapshot must not regress it.
    with open(cur, "w") as f:
        f.write("manifest-2.json")
    s._advance_current("manifest-1.json", 1)
    assert open(cur).read().strip() == "manifest-2.json"


def test_noop_upsert_reads_zero_data_files(spark, tmp_path):
    root = str(tmp_path / "t")
    docs = make_corpus(40)
    df = spark.createDataFrame(docs, INPUT_SCHEMA)
    run_incremental(spark, df, root, n_buckets=4, num_partitions=2, run_id="v1")
    m = SnapshotStore(root).current_manifest()
    assert set(m["bucket_sums"]) == {"0", "1", "2", "3"}

    # Make every committed data file unreadable: if the no-op upsert touched
    # any of them, the run would fail.
    data = os.path.join(root, "data")
    hidden = os.path.join(root, "data_hidden")
    os.rename(data, hidden)
    try:
        r = run_upsert(spark, df, root, n_buckets=4, num_partitions=2, run_id="v2")
    finally:
        os.rename(hidden, data)
    assert r["snapshot_id"] is None and r["buckets"] == []
