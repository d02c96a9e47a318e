"""Round-9 optimization guard: the NumPy Arrow kernels (veckernels.py) must be
BIT-FOR-BIT identical to the JVM expression paths they replaced — floor-scaled
ints make any FP-order drift a value change, so every pinned pair compares
exact tuples, no tolerance.

Runs at sf0.1 (2000 vectors — 4x the oracle mirror's sf0.01, more FP
diversity) against the frozen quantizers the driver queries use.  q43's
component-label helper is checked against a plain-Python union-find.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from docling_service_spark.queries import ann
from docling_service_spark.queries import similarity as sim
from docling_service_spark.queries.common import load
from docling_service_spark.queries.ivf_centroids import FROZEN_CENTROIDS
from docling_service_spark.queries.veckernels import component_min_labels, double_to_long

SF_DIR = "/root/testdata/sf0.1"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _emb(spark):
    return load(spark, SF_DIR, "embeddings").select(
        F.col("vec_id").cast("bigint").alias("vec_id"), "embedding"
    )


def test_assign_arrow_matches_jvm(spark):
    """Flat frozen-quantizer assignment: kernel vs literal-expression argmin,
    including the floor-scaled distance (q44's full output)."""
    emb = _emb(spark)
    jvm = ann._assign(emb, FROZEN_CENTROIDS).select(
        "vec_id",
        F.col("cluster").cast("bigint").alias("cluster"),
        F.floor(F.col("sq_dist") * 1_000_000).cast("bigint").alias("sq_dist_e6"),
    )
    arrow = ann._assign_arrow(emb, FROZEN_CENTROIDS, passthrough=False)
    assert _rows(arrow) == _rows(jvm)


def test_assign2_arrow_matches_dataframe_path(spark):
    """Two-level frozen assignment: one-kernel descent vs the DataFrame
    join/groupBy path (q47's full output)."""
    emb = _emb(spark)
    jvm = ann.assign_ivf_2level(emb, ann._frozen2_quantizer(spark)).select(
        "vec_id",
        F.col("cluster").cast("bigint").alias("cluster"),
        F.floor(F.col("sq_dist") * 1_000_000).cast("bigint").alias("sq_dist_e6"),
    )
    arrow = ann._assign2_frozen_arrow(emb)
    assert _rows(arrow) == _rows(jvm)


def test_lsh_pairs_arrow_matches_jvm(spark):
    """q42's bucket+normalize+pair kernel vs the JVM self-join fold."""
    emb = load(spark, SF_DIR, "embeddings")
    jvm = sim._lsh_bucketed_pairs_jvm(emb, n_planes=sim.N_PLANES)
    arrow = sim.lsh_bucketed_pairs(emb, n_planes=sim.N_PLANES)
    assert _rows(arrow) == _rows(jvm)


def test_q46_arrow_matches_jvm(spark):
    """q46's cluster-pair kernel vs the JVM cluster self-join fold."""
    arrow = ann.q46_ivf_cluster_pairs(spark, SF_DIR)
    jvm = ann._q46_jvm(spark, SF_DIR)
    assert _rows(arrow) == _rows(jvm)


def test_cosine_score_kernel_matches_jvm_expr(spark):
    """score_cosine_pairs vs the three-fold JVM cosine expression on the
    q40 probe×candidate shape."""
    emb = load(spark, SF_DIR, "embeddings")
    probes = emb.filter(F.col("vec_id") < sim.N_PROBES).select(
        F.col("vec_id").cast("bigint").alias("probe_id"),
        F.col("embedding").alias("pe"))
    cands = emb.select(F.col("vec_id").cast("bigint").alias("neighbor_id"),
                       F.col("embedding").alias("ce"))
    joined = cands.join(F.broadcast(probes))
    jvm_sim = sim._dot(F.col("pe"), F.col("ce")) / (
        F.sqrt(sim._dot(F.col("pe"), F.col("pe")))
        * F.sqrt(sim._dot(F.col("ce"), F.col("ce"))))
    jvm = joined.select("probe_id", "neighbor_id",
                        F.floor(jvm_sim * 1000000).cast("bigint").alias("sim_e6"))
    arrow = sim.score_cosine_pairs(joined)
    assert _rows(arrow) == _rows(jvm)


def test_double_to_long_jvm_semantics():
    """NaN→0 and saturation of ±inf and of finite doubles beyond the int64
    range — the Double.toLong rule the kernels apply before thresholds so
    edge rows cannot diverge from the JVM filter."""
    i64 = np.iinfo(np.int64)
    x = np.array([np.nan, np.inf, -np.inf, -2.0, 0.0, 3.9e5,
                  1e19, 2.0**63, -1e19])
    assert list(double_to_long(x)) == [0, i64.max, i64.min, -2, 0, 390000,
                                       i64.max, i64.max, i64.min]


def _union_find_min(ids, id_a, id_b):
    parent = {int(v): int(v) for v in ids}

    def find(v):
        while parent[v] != v:
            v = parent[v]
        return v

    for a, b in zip(id_a, id_b):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [find(int(v)) for v in ids]


@st.composite
def _graphs(draw):
    ids = draw(st.lists(st.integers(-10**12, 10**12), unique=True, max_size=40))
    ids = draw(st.permutations(ids))
    if not ids:
        return ids, [], []
    edges = draw(st.lists(st.tuples(st.sampled_from(ids), st.sampled_from(ids)),
                          max_size=80))
    return ids, [a for a, _ in edges], [b for _, b in edges]


@settings(max_examples=300, deadline=None)
@given(_graphs())
def test_component_min_labels_matches_union_find(graph):
    ids, id_a, id_b = graph
    got = component_min_labels(np.array(ids, dtype=np.int64),
                               np.array(id_a, dtype=np.int64),
                               np.array(id_b, dtype=np.int64))
    assert list(got) == _union_find_min(ids, id_a, id_b)


def test_component_min_labels_long_path_reversed_ids():
    """The long-diameter shape: a 1000-vertex path whose ids are listed in
    reverse order, so the minimum sits at the far end of the walk."""
    ids = np.arange(1000, dtype=np.int64)[::-1] * 7 + 3
    got = component_min_labels(ids, ids[:-1], ids[1:])
    assert set(got) == {3}


def test_component_min_labels_star():
    ids = np.array([50, 10, 40, 30, 20], dtype=np.int64)
    hub = np.full(4, 50, dtype=np.int64)
    got = component_min_labels(ids, hub, np.array([10, 40, 30, 20], dtype=np.int64))
    assert list(got) == [10] * 5


def test_component_min_labels_no_edges_and_empty_group():
    none = np.zeros(0, dtype=np.int64)
    ids = np.array([9, 4, 7], dtype=np.int64)
    assert list(component_min_labels(ids, none, none)) == [9, 4, 7]
    assert len(component_min_labels(none, none, none)) == 0


def test_component_min_labels_rejects_unknown_endpoint():
    ids = np.array([1, 2, 3], dtype=np.int64)
    with pytest.raises(ValueError, match="not in ids"):
        component_min_labels(ids, np.array([1]), np.array([99]))


def test_q43_build_starts_no_spark_jobs(spark, monkeypatch):
    """Building q43 is lazy: no job runs until the caller acts.  The table
    is loaded outside the job group, because the parquet read's own
    schema-inference job belongs to the scan, not to q43."""
    emb = load(spark, SF_DIR, "embeddings")
    monkeypatch.setattr(sim, "load", lambda *_: emb)
    sc = spark.sparkContext
    group = "q43-build-is-lazy"
    sc.setJobGroup(group, "build q43 without running it")
    try:
        sim.q43_embedding_near_dup_keepers(spark, SF_DIR)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
