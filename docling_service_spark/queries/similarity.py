"""Similarity search over the embedding column (``embeddings.embedding``,
array<float>[64]).

- q40: brute-force cosine top-k — the correctness baseline.  Probe set is
  broadcast; candidates stream through one scan (the scale path for a small
  probe set against a huge corpus).
- q41: random-hyperplane LSH bucketing — the scale path for all-pairs work:
  bucket-join replaces the cross product.  Hyperplane weights are derived
  from (dim, plane) indices with integer arithmetic so both engines compute
  identical planes without a shared RNG.

Scores are floor-scaled ints.  Spark computes them in NumPy kernels
(veckernels.py) and DuckDB in the oracles; both widen float32 to double and
fold sequentially over the dims, so the values match bit for bit.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .common import load

N_PROBES = 5
TOP_K = 10
N_PLANES = 8
DIM = 64

# --- hyperplane-count sizing rule (round-2 verdict item) ---------------------
#
# Same-bucket pair work grows with per-bucket occupancy SQUARED, so a fixed
# plane count is a scale-killer: occupancy n/2^planes grows linearly with the
# corpus and pair count ~quadratically.  The rule below keeps expected
# occupancy pinned at TARGET_BUCKET_SIZE — planes = ceil(log2(n / target)) —
# so a 10x corpus adds ~3-4 planes and per-bucket pair cost stays flat while
# total candidate pairs grow ~linearly (tests/test_lsh_sizing.py proves both
# properties numerically on gaussian vectors).
#
# The DRIVER QUERIES pin n_planes=N_PLANES: their DuckDB oracles are static
# SQL built at import, and at the driver's scales (sf0.01: 500 vectors,
# sf0.1: 5000) the rule yields <= 8 planes anyway, so the pinned constant IS
# the rule's output there.  Library callers at real scale pass
# n_planes_for(n) explicitly.

TARGET_BUCKET_SIZE = 32
_MAX_PLANES = 62  # bucket ids are bigint bit-ors: 1 << j must fit


def n_planes_for(n_vecs: int, target: int = TARGET_BUCKET_SIZE) -> int:
    """Plane count that keeps expected bucket occupancy ~= ``target``."""
    import math

    if n_vecs <= target:
        return 1
    return min(_MAX_PLANES, math.ceil(math.log2(n_vecs / target)))


# --- Arrow-native scoring/pairing kernels ------------------------------------
#
# Catalyst evaluates a per-element fold (aggregate(zip_with(...))) on its
# INTERPRETED higher-order-function path, ~1 µs per element op measured at
# sf1.  These kernels hand whole Arrow batches to NumPy with the oracles'
# fold order (sequential across dims, vectorized across rows —
# veckernels.py), so results are bit-identical to the static DuckDB oracles,
# which are the only parity reference.

_SCORE_DDL = "probe_id long, neighbor_id long, sim_e6 long"


def _cosine_score_batches(batches):
    import numpy as np
    import pyarrow as pa

    from docling_service_spark.queries.veckernels import (
        cosine_sim_e6, double_to_long, list_to_matrix)

    for b in batches:
        if b.num_rows == 0:
            continue
        P = list_to_matrix(b.column("pe"), DIM)
        C = list_to_matrix(b.column("ce"), DIM)
        with np.errstate(divide="ignore", invalid="ignore"):
            s = double_to_long(cosine_sim_e6(P, C))
        yield pa.RecordBatch.from_arrays(
            [b.column("probe_id"), b.column("neighbor_id"), pa.array(s)],
            ["probe_id", "neighbor_id", "sim_e6"])


def score_cosine_pairs(cands):
    """(probe_id, pe, neighbor_id, ce) → (probe_id, neighbor_id, sim_e6):
    the floor-scaled cosine expression as one NumPy pass per Arrow batch.
    Also narrows the window shuffle that follows — the probe/candidate
    vectors no longer flow past the scoring."""
    return cands.select("probe_id", "neighbor_id", "pe", "ce").mapInArrow(
        _cosine_score_batches, _SCORE_DDL)


def rank_topk(scored, top_k: int = TOP_K):
    """The shared top-k tail: rank per probe by (sim desc, neighbor asc)."""
    w = Window.partitionBy("probe_id").orderBy(
        F.col("sim_e6").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("probe_id", "neighbor_id",
                F.col("rank").cast("bigint").alias("rank"), "sim_e6")
    )


def _group_pair_sims(pdf, threshold_e6: int):
    """One group's (vec_id, embedding) rows → ``(ids, id_a, id_b, sim_e6)``:
    ids sorted ascending, then all (id_a < id_b) pair sims at or above
    ``threshold_e6`` over raw float32 embeddings — normalize-once then the
    blocked sequential-fold pair kernel (veckernels.pair_sims_e6),
    bit-identical to the oracles' self-join fold, including the NaN→0 floor
    rule."""
    import numpy as np

    from docling_service_spark.queries.veckernels import (
        list_to_matrix, pair_sims_e6, seq_inv_norm)

    pdf = pdf.sort_values("vec_id", kind="stable")
    ids = pdf["vec_id"].to_numpy()
    X = list_to_matrix(pdf["embedding"], DIM)
    with np.errstate(divide="ignore", invalid="ignore"):
        N = X * seq_inv_norm(X)[:, None]
        return (ids, *pair_sims_e6(ids, N, threshold_e6))


def _make_group_pairs_fn(threshold_e6: int, cluster_col: str | None):
    """applyInPandas factory: a group's pair rows from _group_pair_sims,
    tagged with the group's ``cluster_col`` value when given."""
    def fn(pdf):
        import numpy as np
        import pandas as pd

        _, a, b, s = _group_pair_sims(pdf, threshold_e6)
        data = {"id_a": a, "id_b": b}
        if cluster_col is not None:
            data[cluster_col] = np.full(
                len(a), np.int64(pdf[cluster_col].iloc[0]), dtype=np.int64)
        data["sim_e6"] = s
        return pd.DataFrame(data)

    return fn


def q40_cosine_topk(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").cast("bigint").alias("probe_id"), F.col("embedding").alias("pe")
    )
    cands = emb.select(F.col("vec_id").cast("bigint").alias("neighbor_id"),
                       F.col("embedding").alias("ce"))
    scored = score_cosine_pairs(
        cands.join(F.broadcast(probes))  # scan candidates once; probes broadcast
    )
    return rank_topk(scored)


_SQL_DOT = (
    "list_aggregate(list_transform(generate_series(1, {n}), "
    "i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE), 'sum')"
)


def _sql_dot(a, b, n=DIM):
    return _SQL_DOT.format(a=a, b=b, n=n)


ORACLE_Q40 = f"""
WITH probes AS (
  SELECT vec_id AS probe_id, embedding AS pe FROM embeddings WHERE vec_id < {N_PROBES}),
cands AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings),
scored AS (
  SELECT probe_id, neighbor_id,
         CAST(FLOOR({_sql_dot('pe', 'ce')} /
              (sqrt({_sql_dot('pe', 'pe')}) * sqrt({_sql_dot('ce', 'ce')})) * 1000000) AS BIGINT) AS sim_e6
  FROM cands CROSS JOIN probes),
ranked AS (
  SELECT probe_id, neighbor_id, sim_e6,
         ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY sim_e6 DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT probe_id, neighbor_id, CAST(rank AS BIGINT) AS rank, sim_e6
FROM ranked WHERE rank <= {TOP_K}
"""


def hyperplane_weights(i: int, j: int) -> int:
    """weight(i, j) = ((i*37 + j*101) mod 13) - 6, i 0-based — deterministic
    integer "pseudo-random" hyperplanes, identical in SQL (no shared RNG)."""
    return (i * 37 + j * 101) % 13 - 6


def lsh_buckets(emb, *, n_planes: int = N_PLANES):
    """Bucket every vector: the library entry point (parameterized planes).
    ``n_planes`` follows ``n_planes_for`` at real scale; driver queries pin
    N_PLANES for static-oracle parity (see module header)."""
    return _bucketed(emb, n_planes, ("label",) if "label" in emb.columns else ())


def q41_lsh_buckets(spark, sf_dir):
    """Sign-random-projection bucket per vector + bucket occupancy."""
    return lsh_buckets(load(spark, sf_dir, "embeddings"), n_planes=N_PLANES)


_sql_proj = (
    "list_aggregate(list_transform(generate_series(1, {n}), "
    "i -> embedding[i]::DOUBLE * ((((i-1)*37 + {j}*101) % 13) - 6)::DOUBLE), 'sum')"
)
_sql_bucket = " + ".join(
    f"CASE WHEN {_sql_proj.format(n=DIM, j=j)} > 0 THEN {1 << j} ELSE 0 END"
    for j in range(N_PLANES)
)
ORACLE_Q41 = f"""
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       CAST({_sql_bucket} AS BIGINT) AS bucket,
       label
FROM embeddings
"""


def _make_bucket_arrow_kernel(n_planes: int, passthrough: tuple[str, ...]):
    """mapInArrow kernel: sign-random-projection bucket per vector, with the
    ``passthrough`` columns copied through unchanged (the raw embedding for
    the q42/q43 pair kernels, the label for q41)."""
    W = [[float(hyperplane_weights(i, j)) for j in range(n_planes)]
         for i in range(DIM)]

    def kernel(batches):
        import numpy as np
        import pyarrow as pa

        from docling_service_spark.queries.veckernels import (
            list_to_matrix, lsh_bucket_ids)

        Wm = np.array(W, dtype=np.float64)
        for b in batches:
            if b.num_rows == 0:
                continue
            X = list_to_matrix(b.column("embedding"), DIM)
            bucket = lsh_bucket_ids(X, Wm)
            yield pa.RecordBatch.from_arrays(
                [b.column("vec_id"), pa.array(bucket),
                 *(b.column(c) for c in passthrough)],
                ["vec_id", "bucket", *passthrough])

    return kernel


def _bucketed(emb, n_planes: int, passthrough: tuple[str, ...] = ("embedding",)):
    """(vec_id, bucket, *passthrough) through the bucket Arrow kernel; the
    passthrough columns keep their input types."""
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([StructField("vec_id", LongType()),
                         StructField("bucket", LongType()),
                         *(emb.schema[c] for c in passthrough)])
    cols = dict.fromkeys(("embedding", *passthrough))
    return emb.select(F.col("vec_id").cast("bigint").alias("vec_id"), *cols) \
        .mapInArrow(_make_bucket_arrow_kernel(n_planes, passthrough), schema)


def lsh_bucketed_pairs(emb, *, n_planes: int = N_PLANES):
    """IVF/LSH-style ANN: candidates restricted to same-bucket pairs.

    Round-9 shape (guide §2.3/§4.2): ONE Arrow kernel computes every
    vector's bucket (no interpreted projection folds), the raw float32
    embedding shuffles ONCE on the bucket key (half the bytes of the old
    normalized-double column), and a per-bucket ``applyInPandas`` kernel
    normalizes + scores all (id_a < id_b) pairs in NumPy — the quadratic
    pair set never materializes as JVM rows.  Values are bit-identical to
    ORACLE_Q42's self-join fold.  ``n_planes`` must track corpus size
    (``n_planes_for``) to keep per-bucket pair counts flat — see module
    header."""
    return _bucketed(emb, n_planes).groupBy("bucket").applyInPandas(
        _make_group_pairs_fn(0, None),
        schema="id_a long, id_b long, sim_e6 long")


def q42_lsh_bucketed_neighbors(spark, sf_dir):
    return lsh_bucketed_pairs(load(spark, sf_dir, "embeddings"), n_planes=N_PLANES)


_SQL_NEMB = (
    f"list_transform(embedding, x -> x::DOUBLE * (1.0 / sqrt({_sql_dot('embedding', 'embedding')})))"
)
_SQL_PAIR_DOT = ("list_aggregate(list_transform(generate_series(1, 64), "
                 "i -> a.nemb[i] * c.nemb[i]), 'sum')")
ORACLE_Q42 = f"""
WITH b AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         {_SQL_NEMB} AS nemb,
         CAST({_sql_bucket} AS BIGINT) AS bucket
  FROM embeddings)
SELECT id_a, id_b, sim_e6 FROM (
  SELECT a.vec_id AS id_a, c.vec_id AS id_b,
         CAST(FLOOR({_SQL_PAIR_DOT} * 1000000) AS BIGINT) AS sim_e6
  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id)
WHERE sim_e6 >= 0
"""


QUERIES = {
    "q40_cosine_topk": q40_cosine_topk,
    "q41_lsh_buckets": q41_lsh_buckets,
    "q42_lsh_bucketed_neighbors": q42_lsh_bucketed_neighbors,
}

ORACLES = {
    "q40_cosine_topk": ORACLE_Q40,
    "q41_lsh_buckets": ORACLE_Q41,
    "q42_lsh_bucketed_neighbors": ORACLE_Q42,
}


NEAR_DUP_SIM_E6 = 350_000  # cosine >= 0.35 (synthetic vectors are near-orthogonal)


def _near_dup_keepers(pdf):
    """applyInPandas: one bucket's rows → (vec_id, keeper_id) for every row,
    keeper = the smallest vec_id in its near-dup component."""
    import pandas as pd

    from docling_service_spark.queries.veckernels import component_min_labels

    ids, a, b, _ = _group_pair_sims(pdf, NEAR_DUP_SIM_E6)
    return pd.DataFrame({"vec_id": ids, "keeper_id": component_min_labels(ids, a, b)})


def q43_embedding_near_dup_keepers(spark, sf_dir):
    """Embedding-cosine near-dup dedup: vectors in the same *connected
    component* of the near-dup graph (LSH-bucketed pairs at or above
    NEAR_DUP_SIM_E6) collapse to the component's minimum vec_id — the
    group-minimum keeper rule of content-hash dedup, and idempotent: every
    keeper_id is itself a keeper even through similarity chains (cosine is
    not transitive).  The oracle computes the exact transitive closure with
    a recursive CTE.

    Near-dup edges only join vectors of one bucket, so every component lies
    inside one bucket and the whole query is q42's bucket kernel plus one
    per-bucket pass: score the bucket's pairs, label its components in
    NumPy (veckernels.component_min_labels), emit a keeper for every row.
    One shuffle, no iteration, and nothing runs until the caller acts."""
    # Bucket-local components are exact under two conditions: each row gets
    # exactly one bucket (one hash table), and vec_id is the table's key
    # (pair_sims_e6 already assumes it).  Multi-table LSH would need a merge
    # pass over bucket representatives; this query has one table.
    return _bucketed(load(spark, sf_dir, "embeddings"), N_PLANES) \
        .groupBy("bucket").applyInPandas(
            _near_dup_keepers, schema="vec_id long, keeper_id long")


# Composes ORACLE_Q42 as a subquery (single source of truth for the pair
# generation); the recursive CTE is the exact transitive closure.
ORACLE_Q43 = f"""
WITH RECURSIVE pairs AS (
  SELECT id_a, id_b FROM ({ORACLE_Q42}) WHERE sim_e6 >= {NEAR_DUP_SIM_E6}),
edges AS (
  SELECT id_a AS vec_id, id_b AS peer FROM pairs
  UNION ALL
  SELECT id_b AS vec_id, id_a AS peer FROM pairs),
reach(vec_id, peer) AS (
  SELECT vec_id, peer FROM edges
  UNION
  SELECT r.vec_id, e.peer FROM reach r JOIN edges e ON r.peer = e.vec_id),
keepers AS (SELECT vec_id, MIN(peer) AS min_reach FROM reach GROUP BY vec_id)
SELECT e.vec_id,
       LEAST(e.vec_id, COALESCE(k.min_reach, e.vec_id)) AS keeper_id
FROM (SELECT CAST(vec_id AS BIGINT) AS vec_id FROM embeddings) e
LEFT JOIN keepers k ON k.vec_id = e.vec_id
"""

QUERIES["q43_embedding_near_dup_keepers"] = q43_embedding_near_dup_keepers
ORACLES["q43_embedding_near_dup_keepers"] = ORACLE_Q43
