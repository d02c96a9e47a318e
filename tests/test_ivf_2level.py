"""Two-level IVF quantizer (the 10^12-vector training path, r5 verdict
"What's missing #1"): the coarse level is a driver list of k1 centroids,
the fine level a DataFrame that never reaches the driver, while ivf_k_for
semantics survive as the product k1*k2.  The parity gate: with k1=1 the
hierarchy degenerates to flat k-means over the same sample and init, so it
must reproduce train_ivf's assignments exactly."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from docling_service_spark.queries.ann import (
    IVF_K,
    IVF2Quantizer,
    _assign_arrow,
    _frozen2_quantizer,
    assign_ivf_2level,
    ivf_k_for,
    ivf_split_for,
    train_ivf,
    train_ivf_2level,
)
from docling_service_spark.queries.ivf2_centroids import (
    FROZEN2_COARSE,
    FROZEN2_FINE,
    FROZEN2_K1,
    FROZEN2_K2,
)

SF_DIR = "/root/testdata/sf0.01"


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        F.col("vec_id").cast("bigint").alias("vec_id"), "embedding"
    )


def test_split_rule_sizing():
    # Balanced split: both levels stay ~sqrt(k); product always covers k.
    for k in (1, 2, 16, 100, 1000, 65537):
        k1, k2 = ivf_split_for(k)
        assert k1 * k2 >= k
        assert k1 <= int(np.ceil(np.sqrt(k)))
        assert k2 <= 2 * int(np.ceil(np.sqrt(k)))
    # The 10^12-vector sizing note, numerically: k ~ 3.9e9 splits to
    # 62500 x 62500 — the coarse list holds k1*DIM*8 = 32 MB on the
    # driver and the fine level never reaches it; the flat path would hold
    # k*DIM*8 = 2 TB on the driver.
    k = ivf_k_for(10**12)
    k1, k2 = ivf_split_for(k)
    assert k1 * k2 >= k
    assert k1 * 64 * 8 < 64 * 1024 * 1024  # coarse list stays closure-sized
    assert k2 * 64 * 8 < 64 * 1024 * 1024  # per-cell fine set likewise


def test_flat_parity_with_k1_1(spark):
    """k1=1 => one coarse cell => the fine trainer IS flat k-means over the
    identical deterministic sample and init — assignments must match
    train_ivf exactly, and the centroid sets must agree to FP noise."""
    flat = train_ivf(spark, SF_DIR, k=IVF_K)
    quant = train_ivf_2level(spark, SF_DIR, k=IVF_K, k1=1)
    try:
        assert quant.k1 == 1 and quant.k2 == IVF_K

        fine = sorted(quant.fine.collect(), key=lambda r: r["fine"])
        assert len(fine) == IVF_K
        # Same init + same empty-cell rule + same iteration count; numpy
        # means vs Spark avg differ only in summation order.
        assert np.allclose(np.array([r["w"] for r in fine]),
                           np.array(flat), rtol=1e-9, atol=1e-12)

        emb = _emb(spark)
        flat_asg = {r["vec_id"]: r["cluster"]
                    for r in _assign_arrow(emb, flat).collect()}
        two_asg = {r["vec_id"]: r["cluster"]
                   for r in assign_ivf_2level(emb, quant).collect()}
        # Global cluster id with k1=1 is 0*k2 + fine = the flat index.
        assert two_asg == flat_asg
    finally:
        quant.unpersist()


def test_frozen2_quantizer_matches_live_training_at_freeze_scale(spark):
    """The two-level twin of the flat frozen-centroid test: live training
    at the freeze parameters reproduces the shipped FROZEN2 literals
    bit-for-bit (repr literals round-trip)."""
    quant = train_ivf_2level(spark, SF_DIR, k=16, k1=4)
    try:
        assert (quant.k1, quant.k2) == (FROZEN2_K1, FROZEN2_K2)
        assert quant.coarse == FROZEN2_COARSE
        fine = sorted((r["coarse"], r["fine"], list(r["w"]))
                      for r in quant.fine.collect())
        assert fine == sorted((c, f, list(w)) for c, f, w in FROZEN2_FINE)
    finally:
        quant.unpersist()


def test_hierarchical_assignment_is_exact_descent(spark):
    """General split (k1=3, k2=3): the kernel assignment must equal a
    NumPy recomputation of the descent — coarse argmin, then argmin among
    that cell's fine centroids, lowest-index tie-break at both levels — and
    must never drop a vector (backfill rule)."""
    quant = train_ivf_2level(spark, SF_DIR, k=9, k1=3)
    try:
        assert quant.k2 == 3
        coarse = np.array(quant.coarse)
        fine = {}
        for r in quant.fine.collect():
            fine.setdefault(r["coarse"], {})[r["fine"]] = np.array(r["w"])
        assert coarse.shape == (3, 64)

        emb_rows = _emb(spark).collect()
        got = {r["vec_id"]: (r["cluster"], r["sq_dist"])
               for r in assign_ivf_2level(_emb(spark), quant).collect()}
        assert len(got) == len(emb_rows)  # every vector assigned
        for row in emb_rows[:100]:
            v = np.array(row["embedding"], dtype=np.float64)
            c1 = int(((coarse - v) ** 2).sum(axis=1).argmin())
            cell = fine[c1]
            ds = {j: ((w - v) ** 2).sum() for j, w in cell.items()}
            c2 = min(ds, key=lambda j: (ds[j], j))
            cluster, sq = got[row["vec_id"]]
            assert cluster == c1 * quant.k2 + c2, row["vec_id"]
            assert abs(sq - ds[c2]) <= 1e-9 * max(1.0, ds[c2])
    finally:
        quant.unpersist()


def test_vectors_in_a_cell_without_fine_centroids_are_refused(spark):
    """A quantizer whose fine table misses a populated coarse cell raises,
    naming the cell, instead of dropping that cell's vectors."""
    frozen = _frozen2_quantizer(spark)
    quant = IVF2Quantizer(frozen.coarse, frozen.fine.filter(F.col("coarse") != 3),
                          frozen.k1, frozen.k2)
    with pytest.raises(Exception, match="coarse cell 3 has no fine centroids"):
        assign_ivf_2level(_emb(spark), quant).collect()


def test_rule_sized_k_defaults(spark):
    """k=None sizes the product by ivf_k_for(n): at sf0.01 (500 vectors,
    target occupancy 256) that is k=2 — split 2x1, every vector assigned,
    cluster ids within the k1*k2 id space."""
    quant = train_ivf_2level(spark, SF_DIR)
    try:
        assert (quant.k1, quant.k2) == (2, 1) and quant.k1 * quant.k2 >= ivf_k_for(500)
        asg = assign_ivf_2level(_emb(spark), quant)
        rows = asg.collect()
        assert len(rows) == _emb(spark).count()
        clusters = {r["cluster"] for r in rows}
        assert clusters <= {0, 1} and len(clusters) == 2  # both cells populated
    finally:
        quant.unpersist()
