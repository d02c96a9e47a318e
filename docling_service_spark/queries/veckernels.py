"""Vectorized NumPy kernels for the embedding math (guide §4.2: hand whole
Arrow batches to native code instead of interpreted per-element expression
evaluation).  All embedding math runs on these kernels: q40–q48 and the
live flat and two-level quantizers (the two-level fine level through a
cogroup kernel); no Catalyst lambda fold is left.

**The parity invariant.**  Every declared query's values are floor-scaled
floats, so the kernels must reproduce the DuckDB oracles' sequential
``list_aggregate`` folds BIT-FOR-BIT, not approximately.  Each kernel
therefore accumulates **sequentially across dims but vectorized across
rows** — ``acc += X[:, i] * Y[:, i]`` performs, per row, the identical
IEEE-754 double multiply-then-add sequence as a left fold over the 64 dims
(NumPy does not fuse multiply-add, and float32→float64 widening is exact).
``np.dot``/BLAS would NOT be (pairwise/SIMD summation reorders the adds);
nothing here may use them.

**NaN follows the JVM and DuckDB.**  Both order NaN above +inf and evaluate
``NaN > 0`` as true: nearest-centroid order is (dist, idx) with NaN last
(``nearest_centroids``), and a NaN projection sets its LSH bit.

Every kernel is pinned to the DuckDB oracles: the sf0.01 mirror
(tests/test_entry_contract.py), the sf0.1 kernel-query parity test and the
NaN/inf edge cases (tests/test_veckernels.py).
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "list_to_matrix",
    "seq_dot",
    "seq_inv_norm",
    "nearest_centroids",
    "assign_argmin",
    "lsh_bucket_ids",
    "pair_sims_e6",
    "cosine_sim_e6",
    "component_min_labels",
    "double_to_long",
    "doubles_to_list_array",
]

_I64_MAX = np.iinfo(np.int64).max
_I64_MIN = np.iinfo(np.int64).min


def double_to_long(x: np.ndarray) -> np.ndarray:
    """float64 → int64 with the JVM's Double.toLong semantics (NaN → 0,
    out-of-range values and ±inf saturate) — the exact twin of Spark's
    floor-result long and double→bigint casts, so NaN/inf edge rows cannot
    silently diverge.  Saturation is by mask, not ``np.clip``:
    ``float(INT64_MAX)`` rounds up to 2^63, which would wrap again."""
    out = np.zeros(x.shape, dtype=np.int64)
    high = x >= 2.0 ** 63
    low = x < -2.0 ** 63
    inside = ~(high | low | np.isnan(x))
    out[inside] = x[inside].astype(np.int64)
    out[high] = _I64_MAX
    out[low] = _I64_MIN
    return out


def doubles_to_list_array(M: np.ndarray):
    """(n, dim) float64 → pyarrow list<double> array (zero row-loop)."""
    import pyarrow as pa

    n, dim = M.shape
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(M.reshape(-1)))


def list_to_matrix(arr, dim: int) -> np.ndarray:
    """pyarrow ListArray / pandas Series of float32 vectors → (n, dim)
    float64 matrix (exact widening)."""
    import pyarrow as pa

    if isinstance(arr, (pa.ChunkedArray,)):
        arr = arr.combine_chunks()
    if isinstance(arr, pa.Array):
        flat = arr.flatten().to_numpy(zero_copy_only=False)
        m = flat.reshape(len(arr), dim)
    else:  # pandas Series of np.ndarray / list
        m = np.array([np.asarray(v) for v in arr], dtype=np.float32).reshape(-1, dim)
    return np.ascontiguousarray(m, dtype=np.float64)


def seq_dot(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Row-wise dot with the JVM's sequential-fold add order."""
    acc = np.zeros(A.shape[0])
    for i in range(A.shape[1]):
        acc += A[:, i] * B[:, i]
    return acc


def seq_inv_norm(X: np.ndarray) -> np.ndarray:
    """1.0 / sqrt(seq_dot(x, x)) per row — the q42/q46 inv_norm column."""
    return 1.0 / np.sqrt(seq_dot(X, X))


def nearest_centroids(X: np.ndarray, C: np.ndarray,
                      m: int) -> tuple[np.ndarray, np.ndarray]:
    """(idx, sq_dist), each (n, min(m, k)): every row's ``m`` nearest
    centroids of ``C`` (k, dim) in (dist, idx) order.

    Distance per centroid is the sequential ``(x-c)^2`` fold.  The order is
    the struct order of Spark's ``array_min`` and DuckDB's ``min({d, c})``:
    NaN sorts above +inf and ties go to the lower index.  A stable argsort
    gives exactly that (NumPy sorts NaN last, keeping index order), so an
    all-NaN row ranks centroid 0 first; ``np.argmin`` would instead return
    the first NaN."""
    n, k = X.shape[0], C.shape[0]
    D = np.empty((k, n))
    for j in range(k):
        acc = np.zeros(n)
        cj = C[j]
        for i in range(X.shape[1]):
            diff = X[:, i] - cj[i]
            acc += diff * diff
        D[j] = acc
    D = D.T
    idx = np.argsort(D, axis=1, kind="stable")[:, :m]
    return idx.astype(np.int64), np.take_along_axis(D, idx, axis=1)


def assign_argmin(X: np.ndarray, C: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(cluster, sq_dist) per row: the first column of nearest_centroids."""
    idx, d = nearest_centroids(X, C, 1)
    return idx[:, 0], d[:, 0]


def lsh_bucket_ids(X: np.ndarray, W: np.ndarray) -> np.ndarray:
    """Sign-random-projection bucket ids against weight matrix ``W``
    (dim, planes): bucket = Σ_j (proj_j > 0) · 2^j with the sequential
    projection fold.  A NaN projection (a NaN element, or an inf element
    times a zero weight) sets its bit: Spark and DuckDB both evaluate
    ``NaN > 0`` as true."""
    n = X.shape[0]
    bucket = np.zeros(n, dtype=np.int64)
    for j in range(W.shape[1]):
        acc = np.zeros(n)
        wj = W[:, j]
        for i in range(X.shape[1]):
            acc += X[:, i] * wj[i]
        bit = (acc > 0) | np.isnan(acc)
        bucket += np.where(bit, np.int64(1) << j, np.int64(0))
    return bucket


def pair_sims_e6(ids: np.ndarray, N: np.ndarray, threshold_e6: int,
                 block_doubles: int = 4_000_000):
    """All (i < j) pair cosine sims within one bucket/cluster group over
    PRE-NORMALIZED vectors ``N``; returns (id_a, id_b, sim_e6) arrays for
    pairs with ``sim_e6 >= threshold_e6``.

    ``ids`` must be sorted ascending so i < j ⇔ id_a < id_b.  The pair dot
    accumulates per dim via ``np.outer`` — for every pair the add order is
    the identical sequential fold.  ``floor(sim·1e6)`` converts to int64 via
    ``double_to_long`` (NaN → 0, the JVM rule) BEFORE the threshold, so the
    result is bit-identical to the JVM ``filter(sim_e6 >= T)`` even on
    zero-norm edge rows.  Peak accumulator memory is ~``block_doubles``
    doubles per block."""
    n = N.shape[0]
    out_a, out_b, out_s = [], [], []
    block_rows = max(16, block_doubles // max(n, 1))
    for s in range(0, max(n - 1, 0), block_rows):
        e = min(s + block_rows, n - 1)
        A = N[s:e]
        B = N[s + 1:]           # columns start one past the block's first row
        acc = np.zeros((e - s, B.shape[0]))
        for i in range(N.shape[1]):
            acc += np.outer(A[:, i], B[:, i])
        sim_e6 = double_to_long(np.floor(acc * 1000000.0))
        # mask to strictly-upper-triangle in global indices: row s+r pairs
        # with columns s+1+c where c >= r  ⇔  global j > global i
        rows, cols = np.indices(acc.shape, sparse=True)
        keep = (cols >= rows) & (sim_e6 >= threshold_e6)
        r, c = np.nonzero(keep)
        out_a.append(ids[s + r])
        out_b.append(ids[s + 1 + c])
        out_s.append(sim_e6[r, c])
    if not out_a:
        z = np.zeros(0, dtype=np.int64)
        return z, z, z
    return np.concatenate(out_a), np.concatenate(out_b), np.concatenate(out_s)


def cosine_sim_e6(P: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Row-wise floor-scaled cosine of probe/candidate matrices — the JVM
    ``dot/(sqrt(dot)·sqrt(dot))`` expression with sequential folds.  Returns
    float64 (caller applies thresholds/casts so NaN semantics stay exact)."""
    return np.floor(
        seq_dot(P, C) / (np.sqrt(seq_dot(P, P)) * np.sqrt(seq_dot(C, C)))
        * 1000000.0
    )


def component_min_labels(ids: np.ndarray, id_a: np.ndarray,
                         id_b: np.ndarray) -> np.ndarray:
    """Connected-component label per vertex: the smallest id reachable from
    it over the undirected edges ``(id_a[k], id_b[k])``.  ``ids`` holds
    distinct vertex ids in any order; every edge endpoint must be one of
    them.  Returns an int64 array aligned with ``ids``.

    Min-label propagation with pointer jumping over local indices (sorted
    position, so the smallest index is the smallest id): each round hooks
    every edge's larger label onto its smaller one, then jumps labels to
    their roots.  Labels only decrease and every label stays inside its
    vertex's component, so the loop ends when a round changes nothing —
    no round cap is needed."""
    ids = np.asarray(ids, dtype=np.int64)
    order = np.argsort(ids, kind="stable")
    sorted_ids = ids[order]
    n = len(ids)
    lab = np.arange(n)
    if n and len(id_a):
        a = np.minimum(np.searchsorted(sorted_ids, id_a), n - 1)
        b = np.minimum(np.searchsorted(sorted_ids, id_b), n - 1)
        if not (np.array_equal(sorted_ids[a], id_a)
                and np.array_equal(sorted_ids[b], id_b)):
            raise ValueError("component_min_labels: an edge endpoint is not in ids")
        while True:
            prev = lab
            lo = np.minimum(lab[a], lab[b])
            hi = np.maximum(lab[a], lab[b])
            lab = lab.copy()
            np.minimum.at(lab, hi, lo)
            while True:  # pointer jumping until every label is a root
                jumped = lab[lab]
                if np.array_equal(jumped, lab):
                    break
                lab = jumped
            if np.array_equal(lab, prev):
                break
    out = np.empty(n, dtype=np.int64)
    out[order] = sorted_ids[lab]
    return out
