#!/usr/bin/env python3
"""Regenerate PLANS.md: `.explain(mode='formatted')` of the headline queries
at sf0.1 with hand-written notes on the plan properties that matter at 100 TB
(pushdown, pruning, broadcast, shuffle count, Python-stage feed)."""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.1"

# (query name, note) — order = document order.
PLAN_NOTES = [
    ("q61_extract_html_docs",
     "Flagship extraction over the DRIVER's documents table: one salted "
     "Exchange spreads the corpus before MapInArrow (r9) — the driver table "
     "is ONE file with ONE row group, so the no-shuffle scan fed the whole "
     "extraction to a single task (measured 5.5 s serial vs 1.8 s spread at "
     "50k docs); these 1-span rows make the nested-row codec toll ~0.2 s, "
     "dwarfed by the parallelism win.  Library ingestion over splittable "
     "corpora keeps the zero-Exchange shape (pipeline.run_extraction "
     "default + 4 MB row groups on our own writes)."),
    ("q62_extract_spreadsheet",
     "Spreadsheet-family extraction (sheet_grid path): same spread-then-"
     "extract shape as q61 (r9) — the JVM builds the workbook JSON "
     "(to_json), the salted Exchange spreads the unsplittable driver table, "
     "MapInArrow consumes the spread batches."),
    ("q01_pricing_summary",
     "Single Exchange, partial+final HashAggregate, 5/11 lineitem columns read, "
     "filter pushed to the scan."),
    ("q09_revenue_by_nation",
     "Both dimension hops broadcast (BroadcastHashJoin x2): the fact side never "
     "shuffles for dims; one Exchange for the final aggregate only."),
    ("q40_cosine_topk",
     "Brute-force cosine top-k: probes broadcast, candidates stream through one "
     "scan; r9: scoring is the Arrow cosine kernel (bit-identical NumPy "
     "fold) and the rank window's Exchange carries only (probe, neighbor, "
     "sim), never the vectors."),
    ("q03_dedup_first_wins",
     "Exact dedup: one Exchange on the hash key (uniform by construction), "
     "row_number window picks the first writer."),
    ("q31_ngram_jaccard_pairs",
     "Shingle self-join with the stop-shingle DF cap applied BEFORE the join "
     "(one extra aggregate + semi-join on shingle) — candidate fan-out per "
     "shingle bounded by MAX_SHINGLE_DF^2; token arrays materialized as a "
     "column before the shingle transform (21x: inlined split+filter was "
     "re-evaluated per element).  The per-doc sizes joins carry NO broadcast "
     "hint (round-3 fix): sizes is corpus-cardinality, so the join strategy "
     "is size-driven.  This plan is the EXECUTED AQE plan (isFinalPlan=true, "
     "query run before explain): at sf0.1 AQE converted BOTH de-hinted sizes "
     "joins to BroadcastHashJoin on id_a/id_b at runtime — removing the "
     "hints cost nothing locally, while past the broadcast threshold the "
     "same joins become shuffle joins on uniform doc-id keys (scale-safe)."),
    ("q33_lsh_candidate_pairs",
     "MinHash band join over the FULL table: one base hash per shingle + K "
     "universal-hash min-aggregates (single shuffle), explode to (band, key), "
     "self-join on the band key — candidate generation touches only bucket "
     "collisions, never the full pair space.  r9: a deterministic "
     "xxhash64(doc_id) spread follows the scan — the driver table is one "
     "unsplittable row group and the shingle chain otherwise runs in ONE "
     "task (3 s serial at sf1).  This is the EXECUTED AQE plan: "
     "at sf0.1 one side broadcasts at runtime; past the broadcast threshold "
     "AQE picks SMJ and the two identical signature subplans collapse under "
     "the ReuseExchange rule."),
    ("q45_ivf_ann_topk",
     "IVF ANN search (frozen quantizer): assignment, probe routing and "
     "scoring are NumPy kernels with the oracle's fold order.  Routing is a "
     "MapInArrow over the probes that emits each probe's nprobe nearest "
     "centroids in (dist, idx) order, a k-bounded route table (N_QUERIES x "
     "N_PROBE rows) that broadcasts safely at any corpus size; the exact "
     "cosine top-k runs only over the joined clusters' vectors — nprobe/k of "
     "the corpus scanned per probe instead of all of it.  At 100 TB, cluster "
     "is the vector table's partition key, so the route join prunes "
     "partitions."),
    ("q18_map_rollup",
     "Map functions: per-type partial+final aggregate, map_from_entries over "
     "sorted entries (deterministic key order), map_keys/element_at reads — "
     "two Exchanges (user_id+event_type, then user_id), both on uniform keys."),
    ("q17_sessionization",
     "Per-user sessions: two stacked windows (lag -> running sum) over ONE "
     "partitioning (user_id) — a single Exchange feeds both."),
    ("q14_event_type_pivot",
     "Pivot as conditional aggregation: one partial+final HashAggregate pair, one "
     "Exchange on user_id — no distinct-values pre-job (pivot() would add a whole "
     "extra action to discover the domain)."),
    ("q64_extract_flowdoc",
     "Flow-family extraction (.docx analog): same spread-then-extract shape "
     "as q61 (r9) — five flow_block spans built JVM-side, salted Exchange, "
     "MapInArrow."),
    ("q44_ivf_assignments",
     "Frozen-quantizer assignment: ZERO shuffles — Scan feeds ONE MapInArrow "
     "whose NumPy argmin kernel is bit-identical to the old literal-"
     "expression fold (r9: the interpreted HOF path cost ~1 us/element and "
     "evaluated the argmin twice, under the optimizer's isnotnull filter "
     "AND the projection; the kernel removes both).  Scales embarrassingly."),
    ("q47_ivf2_assignments",
     "Two-level frozen-quantizer assignment: ONE zero-shuffle MapInArrow "
     "kernel descends coarse-then-fine per batch with the frozen 4x4 "
     "quantizer in its closure, bit-identical tie-breaks at both levels.  "
     "The live path (assign_ivf_2level) is the 10^12-vector story: the "
     "coarse argmin kernel over a <= 32 MB driver list, then one cogroup "
     "kernel per coarse cell against the fine table, which never leaves "
     "the executors."),
    ("q48_ivf2_ann_topk",
     "Hierarchical-descent ANN over the frozen quantizer through the live "
     "code path: the probe route kernel takes nprobe1 nearest of the "
     "coarse list, the coarse routes and the assigned vectors each meet "
     "the fine table in the fine cogroup kernel (FlatMapCoGroupsInArrow; "
     "the fine level is never broadcast — at rule-sized k it is sqrt(k) "
     "rows per coarse cell), a per-probe window cuts the nprobe1*nprobe2 "
     "fine routes to nprobe2, and that route table broadcasts into the "
     "assigned vectors — a partition-prune on cluster at 100 TB.  Per-"
     "probe routing work is k1 + nprobe1*k2 ~ (1+nprobe1)*sqrt(k) distance "
     "folds vs q45's flat k; no Catalyst lambda fold remains.  Candidate "
     "scoring is the Arrow cosine kernel, so the rank window's Exchange "
     "carries only (probe, neighbor, sim)."),
    ("q24_chunking",
     "Sliding-window chunking: tokens materialize once, chunks slice INSIDE "
     "a transform and posexplode — ZERO shuffles, output-sized bytes "
     "(an id-explode followed by slicing would carry the whole token array "
     "into every exploded row, O(n^2/S) per doc)."),
    ("q26_vocabulary",
     "Corpus vocabulary: explode -> single Exchange on the token key with "
     "map-side partial aggregation (tf count + df distinct), deterministic "
     "top-k cut — the canonical word-count shape at any scale."),
    ("q46_ivf_cluster_pairs",
     "SemDeDup-shaped near-dup candidates (r9 shape): MapInArrow assigns "
     "cluster per batch, ONE Exchange on cluster (was a SortMergeJoin with "
     "2 Exchanges of normalized 64-double arrays), and a per-cluster "
     "applyInPandas kernel scores all (a<b) pairs in NumPy with the "
     "threshold in-kernel — the quadratic pair set never materializes as "
     "JVM rows.  cluster stays the vector table's natural partition key, "
     "so at scale the single Exchange is the co-location shuffle."),
    ("q43_embedding_near_dup_keepers",
     "Near-dup component keepers, bucket-local: MapInArrow buckets every "
     "vector, ONE Exchange on bucket, and a per-bucket FlatMapGroupsInPandas "
     "kernel scores the bucket's pairs at the near-dup threshold and labels "
     "its components in NumPy, emitting (vec_id, keeper_id) for every row.  "
     "Near-dup edges never leave a bucket (one LSH table), so no component "
     "spans two groups: no iterative join loop, no checkpoint, and the plan "
     "stays lazy until the caller acts."),
    ("q51_frame_sample",
     "Frame sampling: columnar scan feeds mapInPandas directly — the 1-to-"
     "many fan-out (variable rows per video) happens INSIDE the Arrow "
     "batch, so there is no explode, no shuffle, and output partitioning "
     "inherits the scan's; ReadSchema pruned to (doc_id, text)."),
]

HEADER = """# PLANS — physical plans of headline queries (sf0.1, local[8])

Generated by `scripts/gen_plans.py` (`.explain(mode='formatted')`); notes call
out the plan properties that matter at 100 TB (pushdown, pruning, broadcast,
shuffle count, Python-stage feed).  Queries in EXECUTE_FIRST are RUN before
explaining, so their plan is the final AQE plan (isFinalPlan=true) showing the
runtime-chosen join strategies for the de-hinted corpus-cardinality joins.
"""

# AQE-sensitive plans: the static explain shows isFinalPlan=false with the
# default SMJ; executing first captures the runtime strategy decisions
# (round-3 verdict #2's last clause — evidence the removed broadcast hints
# cost nothing at local scale).  Both queries return bounded pair lists.
EXECUTE_FIRST = {"q31_ngram_jaccard_pairs", "q33_lsh_candidate_pairs"}


def main() -> None:
    from docling_service_spark.queries import QUERIES
    from docling_service_spark.sparkio.session import get_spark

    spark = get_spark("local[8]", app_name="gen-plans", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    out = [HEADER]
    for name, note in PLAN_NOTES:
        df = QUERIES[name](spark, SF_DIR)
        if name in EXECUTE_FIRST:
            df.collect()
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain(mode="formatted")
        plan = buf.getvalue().rstrip()
        out.append(f"\n## {name}\n\n{note}\n\n```\n{plan}\n```\n")

    with open("PLANS.md", "w") as f:
        f.write("".join(out))
    print(f"PLANS.md: {len(PLAN_NOTES)} plans written")
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
