#!/usr/bin/env python3
"""sf1 scale probe (r4 verdict next-round #5).

The int32 ``length*10000`` overflow was only caught by running at sf0.1
(SURVEY §10.6) — each 10x scale step exposes the next overflow/codegen/
driver-memory class BEFORE a cluster run does.  This probe synthesizes a
10x-sf0.1 table set at /tmp/sf1 (driver tables stay untouched — the driver's
oracle corpus is never replaced, this is a stress input only) and runs the
five most expensive queries once each, reporting wall + row count or the
failure.

Scaling recipe (deterministic):
- documents: 10 copies, ``doc_id = old*10 + k`` (INTERLEAVED, so the
  quadratic-oracle queries' ``doc_id < PAIR_LIMIT`` slice still contains
  copy groups); word-rotation by a per-copy prime offset varies the copies
  while preserving vocabulary/length stats — note a rotation PRESERVES all
  but ~2 word-3-gram shingles, so copy groups are genuine near-dups: the
  dedup queries face real 10-deep duplicate clusters, the intended stress.
- embeddings: 10 copies, ``vec_id = old*10 + k``; vector rolled by k dims
  (norm-preserving; cosine between a vector and its roll is decorrelated).

Beyond the driver queries, the probe also runs the LIBRARY-scale jaccard
path (``jaccard_pairs`` over the FULL corpus with sampled-DF mode) — the
driver's q31 is oracle-bounded to PAIR_LIMIT docs by design and cannot
stress the join at sf1.

Usage: python3 scripts/sf1_probe.py [--queries q31,...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = "/root/testdata/sf0.1"
DST = "/tmp/sf1"
COPIES = 10
PROBE_QUERIES = ["q31_ngram_jaccard_pairs", "q33_lsh_candidate_pairs",
                 "q43_embedding_near_dup_keepers", "q45_ivf_ann_topk",
                 "q46_ivf_cluster_pairs"]


def build_sf1() -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(DST, exist_ok=True)

    docs = pq.read_table(os.path.join(SRC, "documents.parquet")).to_pylist()
    out_docs = []
    for k in range(COPIES):
        for d in docs:
            d2 = dict(d)
            d2["doc_id"] = d["doc_id"] * COPIES + k
            if k:
                toks = (d["text"] or "").split()
                if toks:
                    r = (k * 29) % len(toks)
                    d2["text"] = " ".join(toks[r:] + toks[:r])
            out_docs.append(d2)
    pq.write_table(pa.Table.from_pylist(out_docs), os.path.join(DST, "documents.parquet"))

    emb = pq.read_table(os.path.join(SRC, "embeddings.parquet"))
    m = emb.num_rows
    vec_ids = emb.column("vec_id").to_pylist()
    vecs = np.array(emb.column("embedding").to_pylist(), dtype=np.float32)
    labels = emb.column("label").to_pylist()
    ids_out, vecs_out, labels_out = [], [], []
    for k in range(COPIES):
        ids_out.extend(v * COPIES + k for v in vec_ids)
        vecs_out.append(np.roll(vecs, k, axis=1))
        labels_out.extend(labels)
    tbl = pa.table({
        "vec_id": pa.array(ids_out, type=pa.int64()),
        "embedding": pa.array([row.tolist() for row in np.vstack(vecs_out)],
                              type=pa.list_(pa.float32())),
        "label": pa.array(labels_out, type=pa.int32()),
    })
    pq.write_table(tbl, os.path.join(DST, "embeddings.parquet"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default=",".join(PROBE_QUERIES))
    ap.add_argument("--repeats", type=int, default=1,
                    help="runs per probe; reports min + all samples (the "
                         "bench.py best-of rule — single-pass probes can't "
                         "distinguish a slow host window from a regression)")
    args = ap.parse_args()

    if not os.path.exists(os.path.join(DST, "embeddings.parquet")):
        build_sf1()

    from docling_service_spark.queries import QUERIES
    from docling_service_spark.sparkio.session import get_spark

    spark = get_spark(None, app_name="sf1-probe")
    spark.sparkContext.setLogLevel("ERROR")
    results = {}
    _quants: list = []  # persisted two-level quantizers across repeats

    def _lib_jaccard(spark, sf_dir):
        # The 100-TB jaccard path: FULL corpus, sampled-DF stop-shingle mode
        # (q31 itself is oracle-bounded to PAIR_LIMIT docs by design).
        from docling_service_spark.queries.common import load
        from docling_service_spark.queries.dedup import jaccard_pairs

        return jaccard_pairs(load(spark, sf_dir, "documents"),
                             max_df=64, df_sample_mod=4)

    def _lib_ivf2_rule_sized(spark, sf_dir):
        # r6 verdict #2: the two-level trainer at RULE-sized k — ivf_k_for
        # (20k) = 79 → split 9x9 — runs the applyInPandas fine trainer and
        # the live assignment (coarse argmin kernel + the fine cogroup
        # kernel) at a k no driver query reaches (the frozen q47/q48
        # hierarchy is 4x4).  Wall includes train + full-table assignment.
        from docling_service_spark.queries.ann import (
            assign_ivf_2level,
            train_ivf_2level,
        )

        if _quants:  # drop the previous repeat's persisted levels
            _quants.pop().unpersist()
        quant = train_ivf_2level(spark, sf_dir)
        _quants.append(quant)
        from docling_service_spark.queries.common import load
        emb = load(spark, sf_dir, "embeddings").select(
            F.col("vec_id").cast("bigint").alias("vec_id"), "embedding")
        return assign_ivf_2level(emb, quant)

    def _lib_flat_train_assign_k160(spark, sf_dir):
        # Flat path at a k no driver query reaches (they pin k=16): train at
        # k=160 and assign the full table with the NumPy argmin kernel, the
        # flat counterpart of lib_ivf2_rule_sized.
        from docling_service_spark.queries.ann import (
            _CENTROID_CACHE,
            IVF_ITERS,
            _assign_arrow,
            train_ivf,
        )
        from docling_service_spark.queries.common import load

        # train_ivf memoizes per (sf_dir, k, iters); bust it so every repeat
        # times the full train+assign, not a cache hit.
        _CENTROID_CACHE.pop((sf_dir, 160, IVF_ITERS), None)
        cents = train_ivf(spark, sf_dir, k=160)
        emb = load(spark, sf_dir, "embeddings").select(
            F.col("vec_id").cast("bigint").alias("vec_id"), "embedding")
        return _assign_arrow(emb, cents)

    def _lib_ivf2_search_rule_sized(spark, sf_dir):
        # r7 verdict #3: q48's hierarchical-descent SEARCH through the
        # live-trained rule-sized quantizer (ivf_k_for(20k) = 79 → 9×9) —
        # the descent had only run at the frozen 4×4 / sf0.01 scale.  Wall
        # = routing + full-table assignment + in-cluster cosine top-k; the
        # probe set and TOP_K mirror q48.  nprobe₁=3 / nprobe₂=9 keeps the
        # same ~1/9-of-clusters search fraction as the frozen 2-of-16/4.
        # Reuses the quantizer lib_ivf2_rule_sized left persisted when both
        # probes run (the default); a solo run trains it on the FIRST
        # repeat, so with --repeats > 1 the best-of min is pure search.
        from docling_service_spark.queries.ann import (
            ivf2_ann_topk,
            train_ivf_2level,
        )

        if not _quants:
            _quants.append(train_ivf_2level(spark, sf_dir))
        return ivf2_ann_topk(spark, sf_dir, _quants[-1], n_probe1=3, n_probe2=9)

    from pyspark.sql import functions as F

    lib = {"lib_jaccard_full_sampled_df": _lib_jaccard,
           "lib_ivf2_rule_sized": _lib_ivf2_rule_sized,
           "lib_ivf2_search_rule_sized": _lib_ivf2_search_rule_sized,
           "lib_flat_train_assign_k160": _lib_flat_train_assign_k160}
    wanted = args.queries.split(",")
    if args.queries == ",".join(PROBE_QUERIES):  # default = everything
        wanted = PROBE_QUERIES + list(lib)
    probes = {name: lib.get(name) or QUERIES[name] for name in wanted}
    for name, fn in probes.items():
        walls, rows, err = [], None, None
        for rep in range(max(1, args.repeats)):
            t0 = time.perf_counter()
            try:
                rows = fn(spark, DST).count()
                walls.append(round(time.perf_counter() - t0, 2))
            except Exception as exc:  # the probe's whole point: surface the class
                walls.append(round(time.perf_counter() - t0, 2))
                # A failed later repeat invalidates the probe: reporting the
                # prior repeat's row count beside err would read as partial
                # success (advice r7) — the repeat index names the culprit.
                rows = None
                err = (f"repeat {rep + 1}/{max(1, args.repeats)}: "
                       f"{type(exc).__name__}: {str(exc)[:400]}")
                break
        results[name] = {"wall_sec": min(walls), "rows": rows, "err": err}
        if len(walls) > 1:
            results[name]["samples"] = walls
        print(json.dumps({name: results[name]}), flush=True)
    if (_quants
            and results.get("lib_ivf2_search_rule_sized", {}).get("err") is None
            and "lib_ivf2_search_rule_sized" in results):
        # Recall@10 spot-check vs brute force (r7 verdict #3): both result
        # sets are k-bounded (N probes × TOP_K rows), so the collects are
        # driver-safe by construction.
        from docling_service_spark.queries.ann import ivf2_ann_topk
        from docling_service_spark.queries.similarity import q40_cosine_topk

        exact = {(r["probe_id"], r["neighbor_id"])
                 for r in q40_cosine_topk(spark, DST).collect()}
        got = {(r["probe_id"], r["neighbor_id"])
               for r in ivf2_ann_topk(spark, DST, _quants[-1],
                                      n_probe1=3, n_probe2=9).collect()}
        rec = {"ivf2_search_recall10_vs_q40": round(len(exact & got) / len(exact), 3),
               "exact_pairs": len(exact)}
        results["lib_ivf2_search_rule_sized"].update(rec)
        print(json.dumps(rec), flush=True)
    print(json.dumps({"sf1_probe": results}))
    spark.stop()


if __name__ == "__main__":
    main()
