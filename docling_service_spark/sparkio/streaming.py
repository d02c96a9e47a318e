"""Structured Streaming ingestion of arriving span documents.

The reference is request/response (no streaming; SURVEY.md §2 Part B), but a
landing-zone ingest is the natural continuous form of the batch job: new
parquet files of (doc_id, spans) appear under a directory, and each
micro-batch doc-level-MERGEs into the snapshot table through the SAME
``run_merge_upsert`` a batch job runs.  Spark's streaming checkpoint is the
arrival cursor; the snapshot store is the only table layout, so a stream-fed
table answers every store reader (``register_views``, ``compact``,
``vacuum``, lifetime totals) like a batch-fed one.

Exactly-once: each landed file feeds exactly one micro-batch, each
micro-batch commits one snapshot, and a replayed micro-batch re-merges the
same docs, diffs to zero changes and no-ops — so a document re-sent in a
later file is stored once, not twice.
"""

from __future__ import annotations

import os
import uuid
from typing import Optional

from pyspark.sql import SparkSession

INPUT_DDL = "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
INPUT_DDL_WITH_SOURCE = (
    INPUT_DDL + ", source struct<kind:string,value:string,original_name:string>"
)


def stream_merge_upsert(
    spark: SparkSession,
    input_path: str,
    table_root: str,
    *,
    n_buckets: int = 64,
    max_files_per_trigger: Optional[int] = None,
    await_termination: bool = True,
    markdown_store: Optional[str] = None,
    input_ddl: Optional[str] = None,
):
    """Continuous ingestion INTO the snapshot table: every micro-batch
    doc-level-MERGEs into the committed snapshot (new docs insert, changed
    docs replace, absent docs untouched) — the streaming twin of
    ``run_merge_upsert`` and the batch engine's answer to the reference's
    task-by-task arrival (each upload becomes a merged doc, not a bucket
    wipe).

    Exactly-once composition: Spark's streaming checkpoint makes each file
    feed exactly one batch id, and a REPLAYED batch (crash between sink and
    checkpoint advance) re-merges the same docs → the doc-level diff finds
    zero changes and no-ops.  Run ids are ``stream-{batch_id}-{suffix}``:
    the batch id traces a commit to its micro-batch, and the random suffix
    keeps ids unique after a checkpoint reset restarts batch ids at 0 (the
    store refuses a run id it already references).

    ``markdown_store`` uploads each micro-batch's markdown blobs through the
    SAME rule as ``job.py --merge-upsert --markdown-store``
    (``upload_batch_markdown`` over the raw micro-batch: batch docs only,
    kept-version names) — pass ``input_ddl=INPUT_DDL_WITH_SOURCE`` when
    the landing files carry source metadata so reference filenames resolve
    (else ``{doc_id}.md``).
    Replay-safe WITHOUT loss: a batch replayed after a crash between the
    merge commit and the upload merges as a zero-changed no-op, and the
    no-op re-uploads the batch's blobs from the buckets its docs hash to —
    puts are doc-addressed last-writer-wins, so re-uploading an
    already-delivered batch is idempotent and the crash window cannot
    silently drop blobs."""
    from .checkpoint import run_merge_upsert
    from .media_sink import upload_batch_markdown

    reader = spark.readStream.schema(input_ddl or INPUT_DDL)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_path)

    def sink(batch_df, batch_id: int) -> None:
        s = batch_df.sparkSession
        summary = run_merge_upsert(s, batch_df, table_root, n_buckets=n_buckets,
                                   run_id=f"stream-{batch_id}-{uuid.uuid4().hex[:6]}")
        if markdown_store:
            upload_batch_markdown(s, table_root, batch_df,
                                  summary["buckets"] or summary["batch_buckets"],
                                  markdown_store)

    query = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(table_root, "_stream_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        query.awaitTermination()
    return query


# ---------------------------------------------------------------------------
# Event-stream operators: watermark + windowed aggregation, and a custom
# stateful sessionizer (applyInPandasWithState) — the streaming twins of the
# batch q16/q17 queries.
# ---------------------------------------------------------------------------

EVENTS_DDL = "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string, value double"


def _events_reader(spark: SparkSession, input_path: str,
                   max_files_per_trigger: Optional[int]):
    """Shared event-stream source (schema + trigger pacing + parquet) for
    the three event operators below — one copy of the reader boilerplate."""
    reader = spark.readStream.schema(EVENTS_DDL)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_path)


def _parquet_sink(df, output_root: str, await_termination: bool):
    """Shared append-mode parquet sink with availableNow + checkpoint."""
    query = (
        df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", os.path.join(output_root, "data"))
        .option("checkpointLocation", os.path.join(output_root, "_stream_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        query.awaitTermination()
    return query


def stream_window_counts(
    spark: SparkSession,
    input_path: str,
    output_root: str,
    *,
    window: str = "1 hour",
    watermark: str = "30 minutes",
    max_files_per_trigger: Optional[int] = None,
    await_termination: bool = True,
):
    """Tumbling-window per-type event counts with late-data handling.

    ``withWatermark`` bounds state: a window's aggregate is emitted exactly
    once (append mode) when the watermark passes its end, and events later
    than the watermark are dropped instead of growing state forever — the
    100-TB-stream requirement.  With ``availableNow`` the watermark advances
    between micro-batches, so finalized windows flush as newer files arrive
    (batch-mode replay of the continuous semantics)."""
    from pyspark.sql import functions as F

    ev = _events_reader(spark, input_path, max_files_per_trigger)
    agg = (
        ev.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type", "n_events", "total_value",
        )
    )
    return _parquet_sink(agg, output_root, await_termination)


def stream_dedup(
    spark: SparkSession,
    input_path: str,
    output_root: str,
    *,
    keys: tuple = ("event_id",),
    watermark: str = "30 minutes",
    max_files_per_trigger: Optional[int] = None,
    await_termination: bool = True,
):
    """Streaming exact dedup with BOUNDED state: at-least-once upstream
    delivery (replayed files, reconnecting producers) becomes exactly-once
    downstream by key.

    ``dropDuplicatesWithinWatermark`` is the scale-safe form: plain
    ``dropDuplicates`` on a stream keeps every key ever seen (state grows
    forever), while the watermark variant expires a key's dedup state once
    the event-time watermark passes it — duplicates arriving within the
    watermark window collapse, state stays O(keys-per-window).  Duplicates
    straddling a longer gap than the watermark would pass through: size the
    watermark to the upstream's maximum replay horizon."""
    from pyspark.sql import functions as F

    ev = (
        _events_reader(spark, input_path, max_files_per_trigger)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
    )
    return _parquet_sink(ev.dropDuplicatesWithinWatermark(list(keys)),
                         output_root, await_termination)


SESSION_GAP_MIN = 30

_SESSION_OUT_DDL = ("user_id bigint, session_start timestamp, session_end timestamp, "
                    "n_events bigint")
_SESSION_STATE_DDL = "start long, last long, n long"


def stream_sessionize(
    spark: SparkSession,
    input_path: str,
    output_root: str,
    *,
    gap_minutes: int = SESSION_GAP_MIN,
    watermark: Optional[str] = "30 minutes",
    max_files_per_trigger: Optional[int] = None,
    await_termination: bool = True,
):
    """Custom stateful operator: gap-based sessionization over an event
    stream via ``applyInPandasWithState`` (the streaming twin of batch q17).

    Per-user state = the open session (start, last-event, count) as epoch
    micros; a micro-batch's events extend it or close it (gap > threshold →
    the CLOSED session is emitted and a new one opens).  State persists in
    the streaming checkpoint, so sessions span micro-batches — the property
    the batch sessionizer gets for free from a window, and exactly what
    distributed per-key state is for.

    State is BOUNDED by ``EventTimeTimeout``: every update arms a timeout at
    ``session_end + gap`` event time, so once the watermark passes that point
    with no new events for the user, the open session is flushed as closed
    and the user's state is removed.  Without this, state grows O(distinct
    users ever seen) — an idle user's open session would be pinned forever.
    (A flushed session cannot be reopened retroactively: an even-later event
    for that user starts a fresh session, same as the gap rule.)

    Late-data policy (cross-batch out-of-order events): an event at or
    before the open session's frontier is ABSORBED into the open session
    when it is within the gap of the frontier (it belongs by the gap rule;
    session_start moves back if needed), and DROPPED when older than that.
    Independently, the ``withWatermark`` below lets Spark drop input rows
    older than the watermark before they reach the operator — the two rules
    compose (engine-level drop first, then the gap rule).

    BEHAVIOR NOTE (changed in round 3): the default ``watermark="30
    minutes"`` means events later than the watermark are ENGINE-dropped
    before the gap-rule absorption ever sees them — and a single user's
    session frontier can lag far behind the global max event time, so a
    per-user-valid event can still be globally late.  Callers who need the
    pre-watermark behavior (absorb any event within the gap of the user's
    own frontier, at the cost of O(users-ever-seen) unbounded state) can
    pass ``watermark=None``: no engine drop, ``NoTimeout`` (idle users'
    open sessions are never auto-flushed and their state is pinned until
    the stream ends)."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000

    def sessionize(key, pdf_iter, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            # Watermark passed session_end + gap with no new events: the open
            # session can never be extended — flush it and free the state.
            start, last, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [pd.Timestamp(start, unit="us")],
                    "session_end": [pd.Timestamp(last, unit="us")],
                    "n_events": [n],
                }
            )
            return
        if state.exists:
            start, last, n = state.get
        else:
            start = last = None
            n = 0
        closed: list[tuple] = []
        ts_us: list[int] = []
        for pdf in pdf_iter:
            ts_us.extend(int(t.value // 1000) for t in pd.to_datetime(pdf["ts"]))
        for t in sorted(ts_us):
            if start is None:
                start = last = t
                n = 1
            elif t <= last:  # late arrival vs state from a previous batch
                if last - t <= gap_us:
                    start = min(start, t)
                    n += 1
                # else: older than the gap behind the frontier — dropped
            elif t - last > gap_us:
                closed.append((user_id, start, last, n))
                start = last = t
                n = 1
            else:
                last = t
                n += 1
        if start is not None:
            state.update((start, last, n))
            if watermark is not None:
                # Arm the expiry: fires once the watermark passes the earliest
                # instant the open session could still be extended.  Spark
                # requires the timestamp to be beyond the current watermark —
                # clamp for the (late-heavy) case where last + gap already is not.
                timeout_ms = (last + gap_us) // 1000
                state.setTimeoutTimestamp(max(timeout_ms, state.getCurrentWatermarkMs() + 1))
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [c[0] for c in closed],
                    "session_start": [pd.Timestamp(c[1], unit="us") for c in closed],
                    "session_end": [pd.Timestamp(c[2], unit="us") for c in closed],
                    "n_events": [c[3] for c in closed],
                }
            )

    from pyspark.sql import functions as F

    ev = _events_reader(spark, input_path, max_files_per_trigger) \
        .select("user_id", F.col("ts").cast("timestamp").alias("ts"))
    if watermark is not None:
        ev = ev.withWatermark("ts", watermark)
    sessions = ev.groupBy("user_id").applyInPandasWithState(
        sessionize,
        outputStructType=_SESSION_OUT_DDL,
        stateStructType=_SESSION_STATE_DDL,
        outputMode="append",
        timeoutConf=(GroupStateTimeout.EventTimeTimeout if watermark is not None
                     else GroupStateTimeout.NoTimeout),
    )
    return _parquet_sink(sessions, output_root, await_termination)
