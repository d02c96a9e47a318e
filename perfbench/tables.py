"""Seeded synthetic input tables for the ``operator_suite`` workload.

The suite's queries read three tables: ``lineitem`` (q01), ``documents``
(q20) and ``embeddings`` (q41, q43, q46).  They are generated here, so the
benchmark reads nothing outside its checkout, with the schema and the value
distributions measured on the repository's sf0.01 and sf0.1 test tables
(perfbench/README.md, "Suite tables", lists each parameter and its
source): TPC-H-shaped line items, text over a 30-word vocabulary with 5%
near-duplicate docs, unit-norm 64-d vectors.  Row counts are chosen for
the run budget, not measured.  The program sees only the written parquet
files.

Generation is NumPy + pyarrow in the benchmark process, a pure function of
the seed and the row counts: the same seed writes the same tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SUITE_TABLES = ("lineitem", "documents", "embeddings")

_VOCAB = ("spark window merge table column vector stream value data small join "
          "filter big group hash customer sort order slow line part fast row the "
          "agg key query a scan batch").split()
_LANGS = ["en", "zh", "de", "fr", "es"]
_LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
_N_SUPPLIERS = 1000
_EMB_DIM = 64


def _lineitem(rng: np.random.Generator, n: int) -> pa.Table:
    start = np.datetime64("1995-01-01", "us")
    days = rng.integers(0, 2500, n)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, max(1, n // 4), n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, max(1, n // 30), n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, _N_SUPPLIERS, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(start + days.astype("timedelta64[D]"), pa.timestamp("us")),
    })


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = []
    for i in range(n):
        # Every 20th doc (after the first few) repeats an earlier doc plus a
        # marker token: the near-duplicate share the dedup/LSH queries find.
        if i >= 20 and i % 20 == 11:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(_VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(_VOCAB[w] for w in words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(np.array(_LANGS)[rng.choice(len(_LANGS), n, p=_LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, _EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * _EMB_DIM + 1, _EMB_DIM), pa.int32()), flat),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def write_suite_tables(out_dir: str, seed: int, *, n_lineitem: int,
                       n_documents: int, n_embeddings: int) -> dict[str, int]:
    """Write the suite's tables as ``<out_dir>/<name>.parquet`` (one file,
    one row group each, like the test tables).  Returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 0x5B17E])
    tables = {
        "lineitem": _lineitem(rng, n_lineitem),
        "documents": _documents(rng, n_documents),
        "embeddings": _embeddings(rng, n_embeddings),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))
    return {name: t.num_rows for name, t in tables.items()}

