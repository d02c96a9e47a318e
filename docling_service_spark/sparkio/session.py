"""SparkSession builder with scale-appropriate defaults."""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import SparkSession

# SQL defaults, applied after the session exists and only to keys nothing
# pinned (see get_spark).
_SQL_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "256",
    "spark.sql.session.timeZone": "UTC",
}


def get_spark(
    master: Optional[str] = None,
    *,
    app_name: str = "docling-service-spark",
    shuffle_partitions: Optional[int] = None,
    extra_conf: Optional[dict] = None,
) -> SparkSession:
    """Build a session.

    - AQE on: runtime shuffle coalescing + skew-join splitting for the
      relational operators and the merge (it cannot fix Python-stage skew —
      the pipeline's explicit salted repartition does that).
    - Bounded Arrow batches (256 docs): one document row can carry a
      multi-megabyte span array; the batch-size cap bounds Python-worker
      memory (the engine analog of the reference's 25 MiB upload cap +
      8 G container limit, app/config.py:14, docker-compose.yml:23-32).

    Every SQL default here (``_SQL_DEFAULTS`` and the layout keys below)
    yields to a value a spark-submit ``--conf`` or ``extra_conf`` pinned.
    """
    # Respect spark-submit's --master: it arrives via PYSPARK_SUBMIT_ARGS and
    # builder.master() would OVERRIDE it (measured: a `spark-submit --master
    # local[4]` job silently ran 32 task slots time-slicing on the 4 pinned
    # cores — 32 concurrent Arrow batches, 3x-inflated per-batch walls, and a
    # wrecked N-vs-4N scaling measurement).  The local[CPUS] fallback applies
    # only when nothing else chose a master.
    under_submit = (
        "PYSPARK_GATEWAY_PORT" in os.environ  # JVM already up with submit conf
        or "--master" in os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    )
    # Only an EXPLICIT function arg may override spark-submit; the env vars
    # are fallbacks for bare-python runs (a leftover SPARK_GRAFT_MASTER in a
    # bench shell must not re-introduce the override bug).
    if master is None and not under_submit:
        master = (os.environ.get("SPARK_GRAFT_MASTER")
                  or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
    builder = SparkSession.builder
    if master:
        builder = builder.master(master)
    builder = (
        builder
        .appName(app_name)
        .config("spark.python.worker.reuse", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # SQL defaults are applied POST-create and only where nothing has
    # pinned them yet: builder.config would override a spark-submit --conf
    # (measured — an explicit 16m split pin from scaling_bench.py silently
    # became the split default below), so a --conf or extra_conf value
    # always wins.
    conf = getattr(spark, "conf", None)  # absent on test fakes
    if conf is not None:
        for key, value in _SQL_DEFAULTS.items():
            if conf.get(key, None) is None:
                conf.set(key, value)
        # Parquet row-group size for OUR writes (r9, guide §2.5/§6):
        # documents are atomic multi-100-KB rows, and the default 128 MB row
        # group makes a 130 MB corpus file ONE row group — unsplittable, so a
        # clustered-giant file becomes a single straggler task no matter the
        # split size (measured: the sf1 skew table wrote 15000 rows/1 row
        # group per file; the direct scan ran 62% of the work in one task).
        # ~4 MB groups keep every file splittable at a granularity where
        # bytes ∝ extraction work, which is what lets size-based splitting
        # defuse clustered giants WITHOUT the salted shuffle.  Session conf
        # entries reach the write's Hadoop conf.
        if not any(conf.get(k, None) for k in
                   ("spark.hadoop.parquet.block.size", "parquet.block.size")):
            conf.set("parquet.block.size", str(4 * 1024 * 1024))
        # Scan-split granularity, only when still at Spark's stock 128 MB.
        # 4 MB splits match the row-group size above: a multi-row-group file
        # spreads across tasks in proportion to bytes, and bytes track
        # extraction work.  Local default; cluster deployments scanning
        # ordinary relational tables should pin their own (see
        # OPTIMIZATION_r09.md — at PB scale coarse splits cut scheduling
        # overhead; the fine default exists for the giant-atomic-row corpus
        # shape this engine ingests).
        if conf.get("spark.sql.files.maxPartitionBytes") == "134217728b":
            conf.set("spark.sql.files.maxPartitionBytes", "4m")
    return spark
