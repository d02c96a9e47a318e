"""Extraction pipeline: salted repartition → mapInArrow → output + lineage.

Physical-plan choices (SURVEY.md §4):

- **Zero shuffles on the happy path.**  A shuffle boundary feeding a Python
  stage forces a JVM row-codec round trip of the heavyweight nested ``spans``
  column (measured ~2x the whole extraction cost at 120k docs); a columnar
  parquet scan (or executor-side generation) feeds ``mapInArrow`` through the
  vectorized Arrow path instead.  Balance comes from *size-based input
  splitting* (``spark.sql.files.maxPartitionBytes`` for scans, even range
  splits for generation) — that IS the partitioner at 100 TB.
- **Skew defusal, when actually needed.**  Documents are atomic (one doc
  cannot split across tasks).  Size-based file splitting already spreads
  bytes uniformly; the explicit salted repartition
  (``xxhash64(doc_id, salt) % P``) is kept for inputs whose *layout* is
  pathological — e.g. clustered by a hot key with row-group boundaries that
  prevent splitting.  It is opt-in (``num_partitions=P``) because it pays the
  row-codec toll.  AQE cannot rebalance a Python-UDF stage either way.
- **Straggler amortization without a shuffle**: generate/scan with several
  partitions per core; the oversized-doc tail then costs one late batch, not
  a late stage.
- **Bounded batch memory.** ``spark.sql.execution.arrow.maxRecordsPerBatch``
  caps docs per Arrow batch so a tail of oversized documents (huge ``spans``
  arrays) cannot blow Python-worker memory (set in ``session.get_spark``).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F

from .batch import (INSTRUMENTATION_COLS, INSTRUMENTED_DDL, MAX_DOC_BYTES,
                    make_extract_kernel)

SALT = 0x5EED  # fixed salt: decorrelates the partition key from other uses of xxhash64(doc_id)


def salted_repartition(df: DataFrame, num_partitions: int) -> DataFrame:
    # Repartition on the RAW 64-bit hash: Spark re-hashes the key expression
    # with murmur3 before modding, so pre-modding to P values would make the
    # partitioner play balls-into-bins with only P distinct keys (measured:
    # 8 keys → 4 non-empty partitions, 2.6x imbalance).
    return df.repartition(num_partitions, F.xxhash64(F.col("doc_id"), F.lit(SALT)))


def run_extraction(input_df: DataFrame, *, num_partitions: Optional[int] = None,
                   max_doc_bytes: Optional[int] = None,
                   stats_acc=None) -> DataFrame:
    """Raw corpus → instrumented extraction output (lazy; no action taken).

    No shuffle by default: trust the scan/generator partitioning — the
    vectorized Arrow path feeds Python directly, no row-codec round trip.
    Passing ``num_partitions`` forces the salted shuffle to that many
    partitions first — for skewed/clustered inputs.  ``max_doc_bytes`` overrides
    the oversized-doc reject cap (batch.MAX_DOC_BYTES, the reference's
    25 MiB upload limit).  ``stats_acc`` (optional accumulator) makes the
    kernel fold per-partition/per-bucket run stats into the write action
    itself — see make_extract_kernel.
    """
    df = input_df
    if num_partitions is not None:
        df = salted_repartition(df, num_partitions)
    kernel = make_extract_kernel(
        MAX_DOC_BYTES if max_doc_bytes is None else max_doc_bytes, stats_acc=stats_acc)
    return df.mapInArrow(kernel, INSTRUMENTED_DDL)


def strip_instrumentation(out_df: DataFrame) -> DataFrame:
    return out_df.drop(*INSTRUMENTATION_COLS)


def derive_lineage(out_df: DataFrame, run_id: str, snapshot_id: int) -> DataFrame:
    """Per-partition lineage rows (north_rule) from instrumented output.

    Columnar aggregation over three narrow columns — when the instrumented
    output has been written to Parquet, this scan prunes to just those
    columns, so lineage costs a metadata-sized read, not a re-extraction.
    """
    return (
        out_df.groupBy(F.col("_pid").alias("partition_id"))
        .agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.sum("_bytes").alias("bytes"),
            F.sum(F.when(F.col("status") == "failed", 1).otherwise(0)).alias("parse_failures"),
            F.sum(F.when(F.col("status") == "rejected", 1).otherwise(0)).alias("rejected"),
            F.sum("_wall_ms").alias("wall_ms"),
        )
        .select(
            F.lit(run_id).alias("run_id"),
            F.lit(snapshot_id).cast("bigint").alias("snapshot_id"),
            "partition_id", "doc_count", "bytes", "parse_failures", "rejected", "wall_ms",
        )
    )
