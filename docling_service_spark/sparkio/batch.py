"""Vectorized batch extractor: Arrow RecordBatches in, Arrow RecordBatches out.

Why ``mapInArrow`` and not a pandas UDF: the input column is
``array<struct<...>>``; Series-to-Series pandas UDFs do not accept nested
struct input, while Arrow record batches carry it natively (SURVEY.md §2
Part B, UDF surface row).  There is no per-row Python at the Spark API level
(north_rule) — Python receives whole columnar batches over Arrow.

Instrumentation: every row carries its task partition id and payload byte
count; the first row of each batch carries the batch's extraction wall time.
Summing ``_wall_ms`` per partition therefore yields the partition's total
extraction time — lineage is derived downstream with one cheap columnar
aggregation instead of a second execution of the extractor.
"""

from __future__ import annotations

import time
from typing import Iterator

import pyarrow as pa

from ..engine.extract import extract_document_cols
from ..schemas import OUTPUT_ARROW_INSTRUMENTED

INSTRUMENTED_DDL = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>, "
    "images array<struct<id:string,page:int,x:double,y:double,width:double,height:double,"
    "coord_origin:string,x_norm:double,y_norm:double,width_norm:double,height_norm:double,"
    "content_hash:string>>, "
    "tables array<struct<id:string,page:int,x:double,y:double,width:double,height:double,"
    "num_rows:int,num_cols:int,caption:string>>, "
    "pages array<struct<page:int,width:double,height:double>>, "
    "markdown string, status string, detail string, "
    "_pid int, _bytes bigint, _wall_ms bigint, _bucket int, _input_hash bigint"
)

INSTRUMENTATION_COLS = ["_pid", "_bytes", "_wall_ms", "_bucket", "_input_hash"]

# Passthrough columns: computed JVM-side before the Python stage and echoed
# by the kernel — `_bucket` (resume/upsert granularity) and `_input_hash`
# (change detection for copy-on-write upserts, checkpoint.run_upsert).
PASSTHROUGH_COLS = ["_bucket", "_input_hash"]


# Oversized-document cap — the reference rejects uploads > 25 MiB with a 413
# before any conversion work (app/config.py:14 max_upload_mb,
# app/main.py:1083-1087).  The batch analog: a doc whose total span payload
# exceeds the cap is routed to a status='rejected' row WITHOUT running the
# extractor (the size check reuses the instrumentation byte count, so the
# reject path costs O(bytes-scan), not O(extraction)), and rejects are
# counted per-partition in lineage.
MAX_DOC_BYTES = 25 * 1024 * 1024


def _failed_row(doc_id: str, exc: Exception) -> dict:
    # Mirrors the reference's catch-all per-task failure path
    # (app/main.py:338-345): record detail, never kill the job.
    return {
        "doc_id": doc_id,
        "spans": None,
        "images": None,
        "tables": None,
        "pages": None,
        "markdown": None,
        "status": "failed",
        "detail": f"{type(exc).__name__}: {exc}",
    }


def _rejected_row(doc_id: str, nbytes: int, cap: int) -> dict:
    # Reference raises 413 REQUEST_ENTITY_TOO_LARGE with detail
    # "Uploaded file exceeds 25 MiB limit" (app/main.py:1084-1087).
    return {
        "doc_id": doc_id,
        "spans": None,
        "images": None,
        "tables": None,
        "pages": None,
        "markdown": None,
        "status": "rejected",
        "detail": f"document too large ({nbytes} bytes > {cap} byte cap)",
    }


def _span_bytes(spans) -> int:
    """Reject-cap size rule for dict-shaped spans.  The kernel computes the
    SAME rule inline over the columnar text/media_ref slices — keep the two
    in sync (tested: oversize reject boundary in tests/test_oversize_reject.py)."""
    if not spans:
        return 0
    total = 0
    for s in spans:
        t = s.get("text")
        m = s.get("media_ref")
        total += (len(t) if t else 0) + (len(m) if m else 0) + 8
    return total


def _fold_bucket_sums(local: dict, bucket_arr: pa.Array, hash_arr: pa.Array) -> None:
    """Fold this batch's per-bucket content fingerprints into ``local``:
    ``("b", bucket) -> (n, sum(_input_hash), sum(xxhash64(_input_hash)))``.

    Exact integer sums (Spark's decimal(38,0) twin): each int64 is split
    into arithmetic-shift high and unsigned low 32-bit halves, group-summed
    in int64 (no overflow below 2^31 rows/batch), and reassembled as Python
    big ints — bit-for-bit checkpoint._bucket_summaries, at the cost of one
    vectorized pass inside the extraction batch instead of a second Spark
    job over the written files."""
    import numpy as np

    from ..hashing import xxh64_long_spark_np

    if bucket_arr.null_count or hash_arr.null_count:
        # A null would round-trip float→NaN→INT64_MIN in the astype below
        # and commit a wrong fingerprint; these sums are the only record of
        # the bucket, so refuse the batch instead.
        raise ValueError(
            "null _bucket or _input_hash in the extraction input: "
            "prepare_input's passthrough columns must be non-null")
    b = bucket_arr.to_numpy(zero_copy_only=False).astype(np.int64)
    h = hash_arr.to_numpy(zero_copy_only=False).astype(np.int64)
    uniq, inv = np.unique(b, return_inverse=True)
    cnt = np.bincount(inv, minlength=len(uniq))

    def _group_sums(vals):
        lo = np.zeros(len(uniq), np.int64)
        hi = np.zeros(len(uniq), np.int64)
        np.add.at(lo, inv, vals & np.int64(0xFFFFFFFF))
        np.add.at(hi, inv, vals >> np.int64(32))
        return [(int(a) << 32) + int(c) for a, c in zip(hi, lo)]

    s = _group_sums(h)
    s2 = _group_sums(xxh64_long_spark_np(h))
    for i, bk in enumerate(uniq):
        key = ("b", int(bk))
        cur = local.get(key)
        add = (int(cnt[i]), s[i], s2[i])
        local[key] = add if cur is None else tuple(x + y for x, y in zip(cur, add))


def make_extract_kernel(max_doc_bytes: int = MAX_DOC_BYTES, stats_acc=None):
    """Build the mapInArrow kernel with an oversized-doc cap (see
    MAX_DOC_BYTES).  Pure w.r.t. row content; safe under task retry.

    Arrow boundary is COLUMNAR both ways (r4 verdict #1 — the kernel is
    allocation-bound): input columns decode individually (no per-row wrapper
    dicts, and columns the kernel doesn't read are never converted), output
    builds per-field lists encoded with ``RecordBatch.from_arrays`` (measured
    ~40% cheaper than ``from_pylist``'s per-row per-field dict lookups +
    type dispatch).

    ``stats_acc``: optional Spark accumulator (dict-merging param, see
    checkpoint._RunStatsParam).  When set, the kernel folds per-partition
    lineage stats ``("p", pid) -> (docs, bytes, failures, rejects, wall_ms)``
    and per-bucket content fingerprints (_fold_bucket_sums) into it, one
    ``add`` per task at iterator end.  The write action is a single result
    stage (no Exchange before mapInArrow by design), so Spark applies each
    task's update exactly once — retried/failed attempts are discarded with
    the task.  It is the run's only source of lineage rows, bucket
    fingerprints and run_stats (checkpoint._process_and_commit)."""

    def extract_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        try:
            from pyspark import TaskContext

            ctx = TaskContext.get()
            pid = ctx.partitionId() if ctx is not None else -1
        except Exception:  # pragma: no cover - outside Spark
            pid = -1

        schema = pa.schema(list(OUTPUT_ARROW_INSTRUMENTED))
        # Output fields the extractor produces, in schema order (the
        # instrumentation tail is built directly below).
        res_fields = ["doc_id", "spans", "images", "tables", "pages",
                      "markdown", "status", "detail"]
        local_stats: dict = {}
        for batch in batches:
            t0 = time.perf_counter()
            in_names = batch.schema.names
            have_passthrough = "_bucket" in in_names
            n = batch.num_rows
            doc_ids = batch.column("doc_id").to_pylist()
            # Span decode is COLUMNAR: the list offsets + each struct child
            # convert via the primitive C path; per-doc slices of the four
            # parallel lists feed extract_document_cols.  (Whole-column
            # ``to_pylist`` built 1 dict per span through the Mapping-
            # protocol StructScalar path — the input side's dominant
            # allocation.)  ``.values`` carries physical offsets, so the
            # slice indices are valid even for sliced batches.
            spans_arr = batch.column("spans")
            valid = (spans_arr.is_valid().to_pylist()
                     if spans_arr.null_count else None)
            off_list = spans_arr.offsets.to_pylist()
            # ``.values`` is the PARENT child array: for a sliced batch (e.g.
            # chunked reads) it spans the whole parent, so slice to this
            # batch's window first (zero-copy) or every batch would convert
            # every span in the file.
            first = off_list[0]
            vals = spans_arr.values[first:off_list[-1]]
            if first:
                off_list = [o - first for o in off_list]
            k_all = vals.field("kind").to_pylist()
            t_all = vals.field("text").to_pylist()
            r_all = vals.field("media_ref").to_pylist()
            o_all = vals.field("offset").to_pylist()
            src_col = (batch.column("source").to_pylist()
                       if "source" in in_names else None)
            cols: dict[str, list] = {f: [] for f in res_fields}
            appends = [cols[f].append for f in res_fields]
            bytes_col: list[int] = []
            for i in range(n):
                if valid is not None and not valid[i]:
                    # Same failure contract as extract_document(spans=None).
                    nbytes = 0
                    res = _failed_row(doc_ids[i],
                                      ValueError("document has no spans"))
                else:
                    lo, hi = off_list[i], off_list[i + 1]
                    texts = t_all[lo:hi]
                    refs = r_all[lo:hi]
                    nbytes = sum((len(t) if t else 0) + (len(m) if m else 0) + 8
                                 for t, m in zip(texts, refs))
                    if nbytes > max_doc_bytes:
                        res = _rejected_row(doc_ids[i], nbytes, max_doc_bytes)
                    else:
                        try:
                            res = extract_document_cols(
                                doc_ids[i], k_all[lo:hi], texts, refs,
                                o_all[lo:hi], src_col[i] if src_col else None)
                        except Exception as exc:  # noqa: BLE001 — per-doc failure isolation
                            res = _failed_row(doc_ids[i], exc)
                for app, f in zip(appends, res_fields):
                    app(res[f])
                bytes_col.append(nbytes)
            if n:
                arrays = [pa.array(cols[f], type=schema.field(f).type)
                          for f in res_fields]
                if stats_acc is not None:
                    # Stats folding is part of the batch (and so of its
                    # booked wall below): per-partition lineage counters +
                    # per-bucket fingerprints, replacing the post-write
                    # summarize/lineage jobs entirely.
                    st = cols["status"]
                    key = ("p", pid)
                    cur = local_stats.get(key, (0, 0, 0, 0, 0))
                    local_stats[key] = (cur[0] + n, cur[1] + sum(bytes_col),
                                        cur[2] + st.count("failed"),
                                        cur[3] + st.count("rejected"), cur[4])
                    if have_passthrough:
                        _fold_bucket_sums(local_stats, batch.column("_bucket"),
                                          batch.column("_input_hash"))
                arrays.append(pa.array([pid] * n, type=pa.int32()))
                arrays.append(pa.array(bytes_col, type=pa.int64()))
                # Batch wall includes the Arrow decode/encode, not just the
                # extractor — lineage wall_ms is the true Python-stage cost.
                wall_ms = int((time.perf_counter() - t0) * 1000)
                if stats_acc is not None:
                    key = ("p", pid)
                    cur = local_stats[key]
                    local_stats[key] = cur[:4] + (cur[4] + wall_ms,)
                arrays.append(pa.array(
                    [wall_ms] + [0] * (n - 1), type=pa.int64()))
                if have_passthrough:
                    arrays.append(batch.column("_bucket").cast(pa.int32()))
                    arrays.append(batch.column("_input_hash").cast(pa.int64()))
                else:
                    arrays.append(pa.nulls(n, type=pa.int32()))
                    arrays.append(pa.nulls(n, type=pa.int64()))
                yield pa.RecordBatch.from_arrays(arrays, schema=schema)
        if stats_acc is not None and local_stats:
            # One add per task, at iterator end: ships with the task result
            # through the standard accumulator path (exactly-once for this
            # single result stage).
            stats_acc.add(local_stats)

    return extract_batches
