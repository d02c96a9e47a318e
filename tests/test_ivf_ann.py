"""IVF k-means ANN: the oracle-less iterative operator gets its exactness
from here instead (driver brief carve-out) — argmin-exact assignments vs a
NumPy recomputation, deterministic centroids, and recall@k against the q40
brute-force baseline."""

from __future__ import annotations

import numpy as np

from pyspark.sql import functions as F

from docling_service_spark.queries.ann import (
    IVF_K,
    N_QUERIES,
    TOP_K,
    TRAIN_SAMPLE_TARGET,
    q44_ivf_assignments,
    q45_ivf_ann_topk,
    train_ivf,
    training_sample,
)
from docling_service_spark.queries.ivf_centroids import FROZEN_CENTROIDS
from docling_service_spark.queries.similarity import q40_cosine_topk

SF_DIR = "/root/testdata/sf0.01"


def test_assignments_are_exact_argmin(spark):
    cents = np.array(FROZEN_CENTROIDS)
    rows = q44_ivf_assignments(spark, SF_DIR).collect()
    emb = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
           for r in spark.read.parquet(f"{SF_DIR}/embeddings.parquet").collect()}
    assert len(rows) == len(emb)
    for r in rows[:100]:
        v = emb[r["vec_id"]]
        d = ((cents - v) ** 2).sum(axis=1)
        assert int(d.argmin()) == r["cluster"], r["vec_id"]
        assert int(np.floor(d.min() * 1_000_000)) == r["sq_dist_e6"]


def test_centroids_deterministic(spark):
    c1 = train_ivf(spark, SF_DIR)
    c2 = train_ivf(spark, SF_DIR)
    assert c1 == c2
    assert len(c1) == IVF_K and len(c1[0]) == 64


def test_frozen_centroids_match_live_training_at_freeze_scale(spark):
    # sf0.01 is below the sample budget, so live training there reproduces
    # the shipped quantizer bit-for-bit (repr literals round-trip).
    assert train_ivf(spark, SF_DIR) == FROZEN_CENTROIDS


def _fake_embeddings(spark, n):
    # (vec_id, 64-double embedding) without Python row generation.
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(F.sequence(F.lit(1), F.lit(64)),
                    lambda i: (F.col("id") % 97 + i).cast("double")).alias("embedding"),
    )


def test_training_sample_bounded_and_deterministic(spark):
    n = 60_000
    emb = _fake_embeddings(spark, n)
    s1 = training_sample(emb, n)
    got = s1.count()
    # Uniform hash slice: expected = target, generous 2x band both ways.
    assert TRAIN_SAMPLE_TARGET / 2 <= got <= TRAIN_SAMPLE_TARGET * 2, got
    ids1 = {r["vec_id"] for r in s1.select("vec_id").collect()}
    ids2 = {r["vec_id"] for r in
            training_sample(_fake_embeddings(spark, n).repartition(7), n)
            .select("vec_id").collect()}
    assert ids1 == ids2  # pure function of vec_id, not of partition layout


def test_training_sample_passthrough_below_budget(spark):
    emb = _fake_embeddings(spark, 100)
    assert training_sample(emb, 100) is emb  # driver scales train on everything


def test_ivf_recall_vs_bruteforce(spark):
    exact = q40_cosine_topk(spark, SF_DIR).collect()
    approx = q45_ivf_ann_topk(spark, SF_DIR).collect()
    truth = {}
    for r in exact:
        truth.setdefault(r["probe_id"], set()).add(r["neighbor_id"])
    got = {}
    for r in approx:
        got.setdefault(r["probe_id"], set()).add(r["neighbor_id"])
    assert set(got) == set(range(N_QUERIES))
    recalls = [len(truth[p] & got[p]) / TOP_K for p in truth]
    # Near-orthogonal synthetic vectors are ANN's worst case; the probe's own
    # cluster always contains it, so recall is well above chance
    # (nprobe/k = 25% of the corpus scanned).
    assert sum(recalls) / len(recalls) >= 0.3, recalls
    # The probe itself (sim = 1.0) must always be found.
    for r in approx:
        if r["rank"] == 1:
            assert r["neighbor_id"] == r["probe_id"]


def test_ann_rows_shape(spark):
    df = q45_ivf_ann_topk(spark, SF_DIR)
    rows = df.collect()
    assert len(rows) == N_QUERIES * TOP_K
    assert df.columns == ["probe_id", "neighbor_id", "rank", "sim_e6"]
