"""The NumPy Arrow kernels (veckernels.py) must reproduce the DuckDB oracles
BIT-FOR-BIT — floor-scaled ints make any FP-order drift a value change, so
every comparison is exact, no tolerance.

The kernel queries run at sf0.1 (2000 vectors — 4x the oracle mirror's
sf0.01, more FP diversity) against their oracles.  NaN/inf edge cases check
the kernels' ordering and sign rules against DuckDB itself.  q43's
component-label helper is checked against a plain-Python union-find.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from docling_service_spark.queries import ORACLES, QUERIES, ann
from docling_service_spark.queries import similarity as sim
from docling_service_spark.queries.common import load
from docling_service_spark.queries.veckernels import (
    assign_argmin, component_min_labels, double_to_long, lsh_bucket_ids,
    nearest_centroids)

from tests.test_entry_contract import SF_DIR as ORACLE_SF_DIR, _canon_rows

SF_DIR = "/root/testdata/sf0.1"


def _oracle_rows(sf_dir, sql):
    con = duckdb.connect()
    try:
        con.sql("CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{sf_dir}/embeddings.parquet')")
        res = con.sql(sql)
        return res.columns, res.fetchall()
    finally:
        con.close()


def _assert_matches_oracle(spark, sf_dir, name):
    sdf = QUERIES[name](spark, sf_dir)
    o_cols, o_rows = _oracle_rows(sf_dir, ORACLES[name])
    assert sorted(sdf.columns) == sorted(o_cols)
    assert (_canon_rows(sdf.columns, [tuple(r) for r in sdf.collect()])
            == _canon_rows(o_cols, o_rows))


@pytest.mark.parametrize("name", [
    "q40_cosine_topk", "q41_lsh_buckets", "q42_lsh_bucketed_neighbors",
    "q44_ivf_assignments", "q45_ivf_ann_topk", "q46_ivf_cluster_pairs",
    "q47_ivf2_assignments", "q48_ivf2_ann_topk"])
def test_kernel_query_matches_oracle_at_sf0_1(spark, name):
    """The kernel queries against their DuckDB oracles at sf0.1."""
    _assert_matches_oracle(spark, SF_DIR, name)


# Centroids whose squared distances to the zero vector are [NaN, inf, 5, 5]:
# NaN must sort above inf and the tie must go to the lower index.
_EDGE_CENTROIDS = np.zeros((4, 4))
_EDGE_CENTROIDS[0, 0] = np.nan
_EDGE_CENTROIDS[1, 0] = np.inf
_EDGE_CENTROIDS[2, :2] = [1.0, 2.0]
_EDGE_CENTROIDS[3, :2] = [2.0, 1.0]
_EDGE_VECTORS = np.array([
    [0.0, 0.0, 0.0, 0.0],           # [NaN, inf, 5, 5]
    [np.nan] * 4,                   # all NaN
    [np.inf, 0.0, 0.0, 0.0],        # [NaN, NaN, inf, inf]
    [1.0, 2.0, 0.0, 0.0],           # [NaN, inf, 0, 2]
    [-np.inf, 1.0, 0.0, 0.0],       # [NaN, inf, inf, inf]
])


def _arrow_rows(key, col, M, value_type=pa.float64()):
    """(key int64, col list<value_type>) rows of matrix ``M``.  Arrow keeps
    NaN as a value; DuckDB's Python parameter binding would turn it into
    NULL."""
    return pa.table({key: pa.array(np.arange(len(M), dtype=np.int64)),
                     col: pa.array([list(v) for v in M], pa.list_(value_type))})


def _emb_table(X):
    """An embeddings table (vec_id, float32 embedding, label) over ``X``."""
    t = _arrow_rows("vec_id", "embedding", X, pa.float32())
    return t.append_column("label", pa.array(np.arange(len(X), dtype=np.int32)))


def _duck_dist_order():
    """Per vector, centroid indices in DuckDB's (dist, idx) order, using the
    oracles' sequential squared-distance fold and row order."""
    con = duckdb.connect()
    try:
        con.register("x", _arrow_rows("i", "v", _EDGE_VECTORS))
        con.register("c", _arrow_rows("c", "w", _EDGE_CENTROIDS))
        rows = con.sql("""
            SELECT i, list(c ORDER BY rn), min({'d': d, 'c': c}).c FROM (
              SELECT i, c, d, ROW_NUMBER() OVER (PARTITION BY i ORDER BY d, c) AS rn
              FROM (SELECT x.i, c.c,
                           list_aggregate(list_transform(generate_series(1, 4),
                             k -> (x.v[k] - c.w[k]) * (x.v[k] - c.w[k])), 'sum') AS d
                    FROM x CROSS JOIN c))
            GROUP BY i ORDER BY i""").fetchall()
    finally:
        con.close()
    return [r[1] for r in rows], [r[2] for r in rows]


def test_nearest_centroids_nan_inf_order_matches_duckdb():
    """Routing and argmin order NaN distances above +inf and break ties on
    the lower index, as DuckDB's ORDER BY (d, c) and min(struct) do."""
    order, argmin = _duck_dist_order()
    with np.errstate(invalid="ignore", over="ignore"):
        idx, _ = nearest_centroids(_EDGE_VECTORS, _EDGE_CENTROIDS, 3)
        cluster, _ = assign_argmin(_EDGE_VECTORS, _EDGE_CENTROIDS)
    assert idx.tolist() == [o[:3] for o in order]
    assert cluster.tolist() == argmin


def test_lsh_bucket_ids_nan_inf_match_duckdb():
    """A NaN projection sets its bit (NaN > 0 is true in Spark and DuckDB):
    an all-NaN row lands in the last bucket, and an inf element times a zero
    weight sets the bit too."""
    X = np.zeros((3, sim.DIM))
    X[0] = np.nan
    X[1, 0] = np.inf
    X[2, 0] = -np.inf
    con = duckdb.connect()
    try:
        con.register("embeddings", _emb_table(X))
        want = [r[0] for r in con.sql(
            f"SELECT bucket FROM ({sim.ORACLE_Q41}) ORDER BY vec_id").fetchall()]
    finally:
        con.close()
    W = np.array([[float(sim.hyperplane_weights(i, j)) for j in range(sim.N_PLANES)]
                  for i in range(sim.DIM)])
    with np.errstate(invalid="ignore"):
        got = lsh_bucket_ids(X, W)
    assert want[0] == (1 << sim.N_PLANES) - 1
    assert got.tolist() == want


def test_q41_adversarial_table_matches_oracle(spark, tmp_path):
    """q41 over NaN, inf and zero vectors agrees with ORACLE_Q41."""
    rng = np.random.default_rng(7)
    X = rng.standard_normal((8, sim.DIM)).astype(np.float32)
    X[0] = np.nan                 # all NaN
    X[1, 5] = np.nan              # one NaN
    X[2, 3] = np.inf              # one inf
    X[3] = 0.0                    # zero vector
    X[4, 0] = -np.inf
    pq.write_table(_emb_table(X), tmp_path / "embeddings.parquet")
    _assert_matches_oracle(spark, str(tmp_path), "q41_lsh_buckets")


_PLAN_CASES = {
    **{n: QUERIES[n] for n in QUERIES if "q40" <= n < "q49"},
    "assign_ivf_2level": lambda spark, sf_dir: ann.assign_ivf_2level(
        load(spark, sf_dir, "embeddings").select(
            F.col("vec_id").cast("bigint").alias("vec_id"), "embedding"),
        ann._frozen2_quantizer(spark)),
    "ivf2_ann_topk": lambda spark, sf_dir: ann.ivf2_ann_topk(
        spark, sf_dir, ann._frozen2_quantizer(spark)),
}


@pytest.mark.parametrize("name", sorted(_PLAN_CASES))
def test_kernel_query_plans_have_no_lambda_folds(spark, name):
    """q40–q48 and the two-level library paths take their hyperplanes or
    quantizer levels as Python lists or centroid tables, so all their
    embedding math runs in NumPy kernels: no Catalyst lambda fold may
    remain in the optimized plan."""
    df = _PLAN_CASES[name](spark, ORACLE_SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "lambdafunction" not in plan.lower()


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
