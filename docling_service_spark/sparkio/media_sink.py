"""Content-hash media dedup + upload (SURVEY.md §2 A8/A20).

The reference dedups per-image at upload time (``object_exists`` then
``upload_bytes``, app/main.py:717-729) and has an offline migration that
dedups a whole bucket (``scripts/r2_migrate_xxhash.py``).  The batch engine
form: one columnar pass collects every kept image's content key, a
``dropDuplicates`` on the content hash makes upload exactly-once *per
content*, and a ``foreachPartition`` sink writes only blobs the store does
not already have — first-writer-wins, idempotent on re-run.

Scale shape: the only shuffle is on ``content_hash`` (uniform by
construction); upload parallelism is partition-level with per-key existence
checks, exactly like the reference but distributed.

In-sandbox the media "bytes" are the synthetic content keys (the corpus
encodes payloads as strings); a real deployment swaps ``payload_col`` for
the decoded blob column.
"""

from __future__ import annotations

from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..hashing import media_key, xxh64_hexdigest


def _with_content_hash(df: DataFrame) -> DataFrame:
    """Engine media hash (seed-0 XXH64 hex of the payload) as a column —
    vectorized pandas batches (Spark's builtin xxhash64 is seed-42 over
    typed values, not byte-compatible with the engine's keys)."""
    def add_hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["content_hash"] = [xxh64_hexdigest(k.encode("utf-8")) for k in pdf["content_key"]]
            yield pdf

    return df.mapInPandas(add_hash, "content_key string, content_hash string")


def distinct_media(corpus_df: DataFrame, output_df: Optional[DataFrame] = None) -> DataFrame:
    """The upload work-list: one row per distinct media payload.

    With ``output_df`` (the extraction output) the list is exactly the KEPT
    images — a semi-join of candidate payloads against the content hashes the
    extractor actually emitted, so filtered images and failed documents never
    upload (reference semantics, app/main.py:701-729).  Without it, the list
    is every distinct candidate payload (a superset: use for pre-staging).

    Columnar: explode → filter kind → parse the content key (9th field of
    the image media_ref, which may itself contain commas → split with a
    field cap).
    """
    spans = corpus_df.select(F.explode("spans").alias("s"))
    imgs = spans.filter(F.col("s.kind") == "image").select(F.col("s.media_ref").alias("ref"))
    parts = F.split(F.col("ref"), ",", 9)
    cands = (
        imgs.select(F.element_at(parts, 9).alias("content_key"))
        .filter(F.col("content_key").isNotNull())
        .dropDuplicates(["content_key"])
    )
    if output_df is not None:
        kept = (
            output_df.select(F.explode("images").alias("img"))
            .select(F.col("img.content_hash").alias("content_hash"))
            .dropDuplicates(["content_hash"])
        )
        # NOT broadcast: ``kept`` is one row per distinct image payload in the
        # corpus — unbounded at scale.  A plain left-semi join on the uniform
        # content hash is the scale-safe plan; AQE broadcasts when small.
        cands = _with_content_hash(cands).join(kept, "content_hash", "left_semi") \
            .select("content_key")
    return cands.select("content_key", F.encode("content_key", "utf-8").alias("payload"))


def upload_media(corpus_df: DataFrame, base_path: Optional[str],
                 output_df: Optional[DataFrame] = None,
                 store_factory=None) -> int:
    """Upload every distinct media blob; returns the distinct count.

    ``foreachPartition`` keeps the store client per-partition (reference
    builds one backend per request; we build one per task).  The work-list
    is persisted across the two actions (sink + count) so the explode/dedup
    shuffle runs once.

    ``store_factory`` (a picklable zero-arg callable returning a MediaStore)
    selects the backend per task — pass one built from ``make_remote_store``
    for S3/R2 uploads; default is the local/null store at ``base_path``."""
    work = distinct_media(corpus_df, output_df).persist()

    def sink(rows) -> None:
        from ..storage import make_store

        store = store_factory() if store_factory is not None else make_store(base_path)
        for row in rows:
            payload = bytes(row["payload"])
            key = media_key(payload)
            if not store.exists(key):  # dedup-skip, app/main.py:721-725
                store.put_bytes(key, payload)

    try:
        work.foreachPartition(sink)
        return work.count()
    finally:
        work.unpersist()


# ---------------------------------------------------------------------------
# Markdown-blob upload sink (reference app/main.py:855-868 + 1115-1117)
# ---------------------------------------------------------------------------


def markdown_filename(doc_id: str, original_name: Optional[str]) -> str:
    """Reference naming (app/main.py:860-862): the source's original name
    when present, else ``{task_id}.md``; ``.md`` appended when missing."""
    filename = original_name or f"{doc_id}.md"
    if not filename.endswith(".md"):
        filename = f"{filename}.md"
    return filename


def markdown_key(doc_id: str, original_name: Optional[str] = None) -> str:
    """``markdown/{task_id}/{filename}`` (app/main.py:864) with doc_id as
    the engine's task identity."""
    return f"markdown/{doc_id}/{markdown_filename(doc_id, original_name)}"


def _markdown_worklist(output_df: DataFrame,
                       names_df: Optional[DataFrame] = None,
                       *, on: tuple = ("doc_id",), how: str = "left") -> DataFrame:
    """(doc_id, key, markdown) for every completed doc.  ``names_df``
    (the ``on`` columns + original_name) supplies upload filenames, joined
    to the output on ``on``; url-kind and unnamed docs fall back to
    ``{doc_id}.md`` like the reference.  ``how="inner"`` also drops the
    docs ``names_df`` does not match."""
    keys = list(on)
    work = output_df.filter(F.col("status") == "completed") \
                    .select(*keys, "markdown")
    if names_df is not None:
        # NOT broadcast: names_df is one row per doc (same cardinality as the
        # output), so at scale this is an equi-join that AQE plans as
        # SMJ/shuffle-hash; forcing broadcast would ship the whole corpus'
        # names to every task.  dropDuplicates is a fan-out SAFETY NET only
        # (an undeduped join would duplicate upload rows).  Its pick is
        # arbitrary on doc_id alone; on (doc_id, _input_hash) the rows it
        # chooses between carry the same source, hence the same name.
        names = names_df.select(*keys, "original_name").dropDuplicates(keys)
        work = work.join(names, keys, how)
    else:
        work = work.withColumn("original_name", F.lit(None).cast("string"))
    fname = F.coalesce(F.col("original_name"), F.concat(F.col("doc_id"), F.lit(".md")))
    fname = F.when(fname.endswith(".md"), fname).otherwise(F.concat(fname, F.lit(".md")))
    return work.select(
        "doc_id",
        F.concat(F.lit("markdown/"), F.col("doc_id"), F.lit("/"), fname).alias("key"),
        "markdown",
    )


def upload_markdown(output_df: DataFrame, base_path: Optional[str] = None,
                    names_df: Optional[DataFrame] = None,
                    store_factory=None) -> int:
    """Upload every completed doc's markdown blob through the MediaStore;
    returns the upload count.

    Unlike the content-addressed image sink, markdown keys are
    DOC-addressed (``markdown/{doc_id}/...``) and an upsert legitimately
    changes the bytes behind a key — so puts are unconditional
    last-writer-wins (the reference's ``storage_backend.upload`` never
    exists-checks markdown either, app/main.py:866), which also makes
    re-runs idempotent: same input ⇒ same bytes.
    """
    return _put_markdown(_markdown_worklist(output_df, names_df), base_path,
                         store_factory)


def _put_markdown(work: DataFrame, base_path: Optional[str],
                  store_factory=None) -> int:
    """Put each (key, markdown) row of ``work``; returns the row count."""
    work = work.persist()

    def sink(rows) -> None:
        from ..storage import make_store

        store = store_factory() if store_factory is not None else make_store(base_path)
        for row in rows:
            store.put_bytes(row["key"], row["markdown"].encode("utf-8"))

    try:
        work.foreachPartition(sink)
        return work.count()
    finally:
        work.unpersist()


def upload_batch_markdown(spark, table_root: str, batch: Optional[DataFrame],
                          buckets: list, store_path) -> int:
    """Upload one batch's markdown blobs, read back from the table's
    ``buckets`` through the snapshot store — THE upload rule behind
    ``job.py --markdown-store`` and ``stream_merge_upsert(markdown_store=)``,
    so batch and stream cannot drift.  Returns the upload count.

    ``buckets`` is the run's committed buckets, or, for a no-op merge, the
    buckets the batch hashes to (``run_merge_upsert``'s ``batch_buckets``):
    a merge that crashed between its commit and its upload replays as a
    zero-changed no-op, yet its docs are live there, and re-putting
    doc-addressed blobs is idempotent.

    ``batch`` is the raw input the run was given.  A merge's buckets also
    hold same-bucket siblings absent from the batch, and uploading those
    would mint a new ``{doc_id}.md`` key beside their original upload, so
    only stored rows that match a batch row on ``(doc_id, _input_hash)``
    upload (the batch is hashed again by ``checkpoint.input_hash``), named
    by that row's ``source.original_name`` when it has one: of two versions
    in one batch only the kept one matches, so name and content come from
    the same row.  ``None``: the buckets hold nothing but this run's own
    docs (an incremental or wholesale-upsert run over an input without
    ``source``), so every doc uploads as ``{doc_id}.md``."""
    if not buckets:
        return 0
    from .checkpoint import SnapshotStore, input_hash

    rows = SnapshotStore(table_root).read_buckets(spark, buckets)
    if batch is None:
        return upload_markdown(rows, store_path)
    name = (F.col("source.original_name") if "source" in batch.columns
            else F.lit(None).cast("string"))
    names = batch.select("doc_id", input_hash(batch).alias("_input_hash"),
                         name.alias("original_name"))
    return _put_markdown(_markdown_worklist(rows, names, on=("doc_id", "_input_hash"),
                                            how="inner"), store_path)


def markdown_urls(output_df: DataFrame, store,
                  names_df: Optional[DataFrame] = None) -> DataFrame:
    """(doc_id, markdown_url) — the reference's derived public URL
    (app/main.py:866 → url_for), computed WITHOUT touching the sink: every
    backend's url_for is prefix+key, so the prefix comes from one driver-side
    call and the key is a column expression."""
    prefix = store.url_for("")
    return _markdown_worklist(output_df, names_df).select(
        "doc_id", F.concat(F.lit(prefix), F.col("key")).alias("markdown_url")
    )


def media_dedup_stats(corpus_df: DataFrame) -> DataFrame:
    """Dedup ratio report (migration `stats` analog, r2_migrate:173-179)."""
    spans = corpus_df.select(F.explode("spans").alias("s"))
    imgs = spans.filter(F.col("s.kind") == "image").select(
        F.element_at(F.split(F.col("s.media_ref"), ",", 9), 9).alias("content_key")
    )
    return imgs.agg(
        F.count(F.lit(1)).cast("bigint").alias("total_images"),
        F.countDistinct("content_key").cast("bigint").alias("distinct_blobs"),
    )
