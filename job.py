#!/usr/bin/env python3
"""spark-submit entrypoint: extraction over an interleaved-span corpus.

Usage (north_rule packaging: ``spark-submit --py-files engine.zip job.py``;
in-sandbox the package dir is importable from the repo root):

    spark-submit [--master local[N]] job.py \
        --output /path/to/table --n-docs 10000 [--input /path/corpus.parquet] \
        [--n-buckets 64] [--max-buckets-per-run K] [--partitions P] [--run-id ID]

Input: either an existing parquet corpus (``--input``) with the canonical
(doc_id, spans) schema, or a deterministic synthetic corpus generated
*inside executors* (``--n-docs``).  Output: snapshot-committed parquet table
+ lineage at ``--output`` (see sparkio/checkpoint.py for the layout).
Re-running with the same output dir resumes from the last committed snapshot.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--output", required=True)
    ap.add_argument("--input", default=None, help="parquet corpus path (doc_id, spans)")
    ap.add_argument("--n-docs", type=int, default=None, help="synthesize N docs instead of --input")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument("--max-buckets-per-run", type=int, default=None)
    ap.add_argument("--partitions", type=int, default=None,
                    help="force a salted repartition to P before extraction (skewed inputs)")
    ap.add_argument("--gen-partitions", type=int, default=None,
                    help="parallelism of synthetic corpus generation (default 4x cores)")
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--master", default=None)
    ap.add_argument("--no-warm", action="store_true",
                    help="skip the steady-state warm-up (include worker spawn in the timing)")
    ap.add_argument("--upsert", action="store_true",
                    help="copy-on-write full-sync mode: reprocess only buckets with "
                         "new/changed docs; docs ABSENT from the input are deleted "
                         "from their (dirty) buckets")
    ap.add_argument("--merge-upsert", action="store_true",
                    help="doc-level MERGE mode for partial inputs: input docs "
                         "insert/update, absent docs stay untouched")
    ap.add_argument("--max-doc-bytes", type=int, default=None,
                    help="oversized-doc reject cap in bytes (default 25 MiB, the "
                         "reference upload limit); rejected docs are counted in lineage")
    ap.add_argument("--callback-log", default=None,
                    help="post-commit hook sink: append the completion payload as a JSON "
                         "line to this file on commit, no-op, and failure (webhook analog)")
    ap.add_argument("--markdown-store", default=None,
                    help="upload this run's completed markdown blobs under "
                         "markdown/{doc_id}/{filename} at this store path "
                         "(reference app/main.py:855-868)")
    ap.add_argument("--compact", action="store_true",
                    help="after the run, when live buckets scatter across more "
                         "than --compact-max-runs run dirs, keep the largest "
                         "runs and merge the rest into one dir so the table "
                         "lands at --compact-max-runs dirs (long-lived "
                         "merge/upsert tables fragment; Iceberg "
                         "rewrite_data_files binpack analog)")
    ap.add_argument("--compact-max-runs", type=int, default=4,
                    help="fragmentation budget for --compact: live run-dir "
                         "count that triggers a rewrite (default 4)")
    ap.add_argument("--compact-lineage-max-runs", type=int, default=32,
                    metavar="N",
                    help="with --compact: also fold the lineage table's "
                         "per-run dirs into one when the manifest references "
                         "more than N of them (the list grows by one per "
                         "commit forever; default 32)")
    ap.add_argument("--vacuum-keep", type=int, default=None, metavar="N",
                    help="after the run, vacuum the table: keep the last N "
                         "manifests, delete orphan run dirs older than "
                         "--vacuum-grace-hours (reference analog: retention "
                         "cleanup, app/storage_cleanup.py)")
    ap.add_argument("--vacuum-grace-hours", type=float, default=6.0,
                    help="orphan-dir age guard for --vacuum-keep (in-flight "
                         "runs write data before committing; default 6h)")
    args = ap.parse_args(argv)
    if (args.input is None) == (args.n_docs is None):
        ap.error("exactly one of --input / --n-docs is required")

    from docling_service_spark.corpus import corpus_df
    from docling_service_spark.sparkio.checkpoint import (
        SnapshotStore,
        run_incremental,
        run_merge_upsert,
        run_upsert,
    )
    from docling_service_spark.sparkio.session import get_spark

    if args.upsert and args.merge_upsert:
        ap.error("--upsert and --merge-upsert are mutually exclusive")

    spark = get_spark(args.master, app_name="dss-extract-job")
    if not args.no_warm:
        # Spin up python workers + whole-stage codegen once so the reported
        # throughput is steady-state (a cluster amortizes this over hours).
        from docling_service_spark.sparkio.pipeline import run_extraction as _rx
        _rx(corpus_df(spark, 64, partitions=spark.sparkContext.defaultParallelism)) \
            .write.format("noop").mode("overwrite").save()
    t0 = time.perf_counter()
    if args.input:
        try:
            inp = spark.read.parquet(args.input)
            inp.schema  # force resolution for a clean early error
        except Exception as exc:
            spark.stop()
            raise SystemExit(f"--input {args.input} is not a readable parquet corpus: {exc}") from None
    else:
        gen_p = args.gen_partitions or spark.sparkContext.defaultParallelism * 4
        inp = corpus_df(spark, args.n_docs, seed=args.seed, partitions=gen_p)
    input_ms = int((time.perf_counter() - t0) * 1000)

    on_complete = None
    if args.callback_log:
        def on_complete(payload, _path=args.callback_log):
            with open(_path, "a") as f:
                f.write(json.dumps(payload) + "\n")

    if args.merge_upsert:
        summary = run_merge_upsert(
            spark, inp, args.output,
            n_buckets=args.n_buckets,
            num_partitions=args.partitions,
            run_id=args.run_id,
            on_complete=on_complete,
            max_doc_bytes=args.max_doc_bytes,
        )
    elif args.upsert:
        summary = run_upsert(
            spark, inp, args.output,
            n_buckets=args.n_buckets,
            num_partitions=args.partitions,
            run_id=args.run_id,
            on_complete=on_complete,
            max_doc_bytes=args.max_doc_bytes,
        )
    else:
        summary = run_incremental(
            spark, inp, args.output,
            n_buckets=args.n_buckets,
            max_buckets_per_run=args.max_buckets_per_run,
            num_partitions=args.partitions,
            run_id=args.run_id,
            on_complete=on_complete,
            max_doc_bytes=args.max_doc_bytes,
        )
    wall = time.perf_counter() - t0

    store = SnapshotStore(args.output)
    # Work totals come from the manifest's lifetime_stats (accumulated at
    # commit time from each run's run_stats, carried rows excluded) and the
    # live table size from its bucket summaries — zero jobs on ANY path.
    totals = store.lifetime_totals()
    report = {
        "run_id": summary["run_id"],
        "snapshot_id": summary["snapshot_id"],
        "buckets_processed": len(summary["buckets"]),
        "docs_this_run": summary["docs"],
        # Lineage books one row per Python task that extracted a row.
        "python_tasks": summary.get("python_tasks", 0),
        # lineage totals record WORK done across all runs (upserts reprocess);
        # docs_in_snapshot is the live table size.
        "docs_processed_all_runs": totals["docs"],
        "docs_in_snapshot": store.live_doc_count(),
        "parse_failures_total": totals["parse_failures"],
        "rejected_total": totals["rejected"],
        # Per-stage walls: extract_wall_ms_total is the lineage-summed pure-
        # Python extraction time across partitions; stage_timings_ms splits
        # this run's driver wall into fused extract+write / summarize /
        # commit / lineage segments (100x plan-audit support).
        "extract_wall_ms_total": totals["wall_ms"],
        # input_ms = source listing + schema resolution (or synth plan),
        # timed so run_wall_sec fully partitions into named segments — the
        # scaling study's fixed-cost leg can then be audited per component.
        "stage_timings_ms": {"input_ms": input_ms, **summary.get("timings_ms", {})},
        "run_wall_sec": round(wall, 2),
        "docs_per_sec": round(summary["docs"] / wall, 2) if wall > 0 else None,
    }
    if args.merge_upsert:
        report["docs_changed"] = summary["docs_changed"]
    if args.markdown_store:
        from docling_service_spark.sparkio.media_sink import upload_batch_markdown

        if args.merge_upsert:
            # A no-op merge still uploads from its batch's buckets: a re-run
            # after a crash between the merge's commit and its upload diffs
            # to zero changes, yet the batch's docs are live there.
            batch, buckets = inp, summary["buckets"] or summary["batch_buckets"]
        else:
            # The run's buckets hold only this input's docs; the input is
            # needed only to name the blobs after their source files.
            batch = inp if "source" in inp.columns else None
            buckets = summary["buckets"]
        report["markdown_uploaded"] = upload_batch_markdown(
            spark, args.output, batch, buckets, args.markdown_store)
    if args.compact:
        from docling_service_spark.sparkio.checkpoint import (
            SnapshotConflictError, compact, compact_lineage)

        # The run's own commit already succeeded; a concurrent writer racing
        # the post-commit maintenance must not abort the process and lose
        # the run report callers parse from stdout (advice r8).  Record the
        # conflict and keep going.
        try:
            c = compact(spark, args.output, max_live_runs=args.compact_max_runs,
                        on_complete=on_complete)
            report["compact"] = {k: c[k] for k in
                                 ("snapshot_id", "runs_before", "runs_after")}
            cl = compact_lineage(spark, args.output,
                                 max_lineage_runs=args.compact_lineage_max_runs,
                                 on_complete=on_complete)
            report["compact_lineage"] = {k: cl[k] for k in
                                         ("snapshot_id", "runs_before", "runs_after")}
        except SnapshotConflictError as exc:
            report["compact_conflict"] = str(exc)
    if args.vacuum_keep is not None:
        # After --compact the superseded dirs become vacuum-eligible once
        # the retained manifests referencing them expire.
        from docling_service_spark.sparkio.checkpoint import vacuum

        report["vacuum"] = vacuum(args.output, keep_manifests=args.vacuum_keep,
                                  min_age_hours=args.vacuum_grace_hours)
    print(json.dumps(report))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
