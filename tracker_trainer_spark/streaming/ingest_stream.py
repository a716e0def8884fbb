"""Structured Streaming ingest: the Firehose → timeline path as a stream.

Reference shape (reference: src/ingest/ingest_firehose.py:18-62): Kinesis
Firehose buffers ~15 min of track records into a gzipped JSONL S3 object;
an S3-event Lambda parses, validates, merges rewards onto decisions
within the window, and appends to the partitioned timeline. Late rewards
land as orphan partial rows repaired later by groom ("eventual
consistency", src/ingest/partition.py:448-453).

Spark-native mapping (SURVEY §2.11):
- the S3-event-per-file trigger becomes a file-source stream
  (``readStream.text``) with ``Trigger.AvailableNow`` for batch-drain or
  ``Trigger.ProcessingTime`` for continuous operation; source-side file
  tracking replaces the Lambda's at-least-once S3 event handling with
  exactly-once file accounting via the checkpoint;
- the Lambda body becomes ``foreachBatch(merge_micro_batch)`` — the SAME
  batch operators (parse → validate → project → merge → finalize →
  write) so stream and batch ingest cannot diverge;
- the future-KSUID guard (src/ingest/utils.py:62-67) is the stream's
  watermark-analogue: records whose key timestamp is ahead of wall clock
  are dropped at validation, bounding the hot partition;
- late rewards still become orphan rows in their decision's own dt
  partition; groom (batch compaction) remains the repair path — the
  retention-unbounded alternative (applyInPandasWithState keyed by
  decision_id) would cap reward lateness at the state watermark, which
  the reference explicitly does not do.

At scale: each micro-batch shuffles once on (model, decision_id) — the
same single-shuffle shape as batch ingest; the timeline append is
partition-local. No state store is held (merge state lives in the table,
repaired by groom), so executor memory is flat regardless of stream age.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ingest.merge import finalize_for_storage, merge_rewarded_decisions
from ..ingest.project import to_rewarded_decisions
from ..ingest.reader import parse_track_records
from ..ingest.sink import MAX_RECORDS_PER_FILE, write_timeline
from ..ingest.validate import INVALID_REASONS, REASON_COL, with_invalid_reason
from ..observability import (
    merge_metrics,
    observe_frame,
    observed_metrics,
    validation_metric_exprs,
)


def read_track_stream(spark: SparkSession, path: str,
                      max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream of raw track lines (gz transparently decoded).

    ``maxFilesPerTrigger`` bounds micro-batch size the way Firehose's
    15-minute buffer bounds a Lambda invocation.
    """
    reader = spark.readStream.format("text")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path).withColumnRenamed("value", "line")


def merge_micro_batch(batch: DataFrame, timeline_path: str,
                      group_cols=("model", "decision_id"),
                      max_records_per_file: int = MAX_RECORDS_PER_FILE,
                      on_invalid=None) -> dict:
    """The foreachBatch body: parse → validate → project → merge → append,
    as ONE Spark action.

    The same body serves batch ingest (scripts/ingest_job.py); merging
    within the micro-batch window before the append mirrors the
    reference's within-window merge (src/ingest/ingest_firehose.py:23-25).

    Every count rides the timeline write as ``observe()`` metrics, so
    nothing re-reads the batch — except a batch with no valid record,
    whose counts take one more pass (adaptive execution drops the
    observed node when the merge shuffle is empty). Returns the batch's
    record::

        {"rows_read", "valid", "invalid": {reason: count},
         "rows_written", "rewarded_rows", "reward_mass"}

    ``invalid`` holds only reasons with records; ``rows_written`` and
    the reward figures describe the appended (merged) rows.

    ``on_invalid``: optional callable receiving the batch's invalid-record
    histogram as ``{reason: count}`` — the streaming surface of the
    reference's per-batch exception counting (A9,
    src/ingest/firehose_record.py:223-232). It fires after the append
    commits, and only when the batch has invalid records.
    """
    # one wall-clock instant for the whole batch: the future-KSUID guard
    # must not move between the rows that are counted and those written
    now_ts = time.time()
    checked = with_invalid_reason(parse_track_records(batch), now_ts)
    read_obs, observed = observe_frame(checked, "ingest_validation",
                                       *validation_metric_exprs())
    valid = observed.where(F.col(REASON_COL).isNull())
    merged = merge_rewarded_decisions(to_rewarded_decisions(valid),
                                      group_cols=group_cols)
    write_obs, final = merge_metrics(finalize_for_storage(merged), "ingest_write")
    write_timeline(final, timeline_path,
                   max_records_per_file=max_records_per_file)
    # The read-side metrics go missing when no valid row reached the
    # merge shuffle (see observed_metrics); the counts of such a batch,
    # which wrote nothing, take one more pass. The write-side observe
    # sits above the shuffle and always reports.
    read = (observed_metrics(read_obs)
            or checked.agg(*validation_metric_exprs()).first().asDict())
    wrote = write_obs.get
    invalid = {r: read[r] for r in INVALID_REASONS if read[r]}
    if invalid and on_invalid is not None:
        on_invalid(invalid)
    return {
        "rows_read": read["rows_read"],
        "valid": read["valid"],
        "invalid": invalid,
        "rows_written": wrote["n_rows"],
        "rewarded_rows": wrote["n_rewarded"],
        "reward_mass": wrote["reward_sum"],
    }


def start_timeline_stream(spark: SparkSession, source_path: str,
                          timeline_path: str, checkpoint_path: str,
                          available_now: bool = True,
                          processing_time: str | None = None,
                          group_cols=("model", "decision_id"),
                          max_files_per_trigger: int | None = None,
                          on_invalid=None):
    """Start the ingest stream; returns the StreamingQuery.

    ``available_now=True`` drains the backlog and stops (the testing /
    cron-batch mode); pass ``processing_time='15 minutes'`` for the
    Firehose-cadence continuous mode. ``max_files_per_trigger`` bounds a
    micro-batch to N source files (a Firehose-buffer-sized work unit) —
    without it AvailableNow may drain the whole backlog in one batch.
    ``on_invalid`` receives each batch's invalid-record histogram (A9).
    """
    stream = read_track_stream(spark, source_path, max_files_per_trigger)
    writer = (
        stream.writeStream
        .foreachBatch(lambda df, _id: merge_micro_batch(
            df, timeline_path, group_cols, on_invalid=on_invalid))
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def _normalize_event_time(df: DataFrame, ts_col: str) -> DataFrame:
    """TIMESTAMP passes through; TIMESTAMP_NTZ (the parquet default)
    casts to TIMESTAMP (required by watermarks; session tz is a constant
    offset). Anything else RAISES: a blind cast on e.g. the bigint-nanos
    column that spark.sql.legacy.parquet.nanosAsLong=true (this repo's
    session default) delivers would interpret the value as SECONDS and
    silently compute windows billions of years out — callers must
    convert explicitly (``F.timestamp_micros(ns / 1000)``)."""
    from pyspark.sql.types import TimestampNTZType, TimestampType

    dt = df.schema[ts_col].dataType
    if isinstance(dt, TimestampType):
        return df
    if isinstance(dt, TimestampNTZType):
        return df.withColumn(ts_col, F.col(ts_col).cast(TimestampType()))
    raise TypeError(
        f"event-time column {ts_col!r} is {dt.simpleString()}; expected "
        "timestamp/timestamp_ntz — convert explicitly (e.g. "
        "timestamp_micros for integer nanos/1000) before windowing"
    )


def windowed_event_stats(events: DataFrame, ts_col: str = "ts",
                         window_duration: str = "1 hour",
                         watermark_delay: str = "2 hours",
                         group_col: str = "event_type") -> DataFrame:
    """Watermarked tumbling-window aggregation over an event stream.

    The §2.11 late-data primitive: events later than ``watermark_delay``
    past the max seen timestamp are dropped from their window, bounding
    state exactly the way the future-KSUID guard bounds the hot
    partition. Works on both streaming and batch DataFrames (the batch
    plan ignores the watermark — useful for oracle comparisons).
    """
    df = _normalize_event_time(events, ts_col)
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark_delay)
    return (
        df.groupBy(F.window(ts_col, window_duration).alias("win"), group_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col(group_col),
            "n",
            "sum_value",
        )
    )


def session_window_stats(events: DataFrame, ts_col: str = "ts",
                         gap: str = "30 minutes",
                         watermark_delay: str = "2 hours",
                         key_col: str = "user_id") -> DataFrame:
    """Gap-based session windows per key — the streaming twin of the
    batch `user_sessions` lag+running-sum sessionization (same 30-min
    gap rule; session_window merges events closer than ``gap``, the lag
    rule splits on gap > threshold — identical partitions except the
    measure-zero exact-boundary tie).

    Streaming state is bounded by the watermark: a session closes once
    the watermark passes its end, exactly the late-reward retention
    trade the reference makes with its 15-min Firehose window + groom
    repair (SURVEY §2.11). Works on batch frames too (watermark
    skipped) so the same operator is oracle-checkable.
    """
    df = _normalize_event_time(events, ts_col)
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark_delay)
    return (
        df.groupBy(F.session_window(F.col(ts_col), gap).alias("win"), key_col)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("session_value"),
        )
        .select(
            F.col(key_col),
            F.col("win.start").alias("session_start"),
            "n_events",
            "session_value",
        )
    )


def dedup_stream(events: DataFrame, key_cols=("message_id",),
                 ts_col: str = "ts",
                 watermark_delay: str = "2 hours") -> DataFrame:
    """In-stream exactly-once dedup of duplicate message ids with
    BOUNDED state — the streaming twin of the batch LAST_WIN rewards-map
    union (ingest/merge.py; reference dict.update semantics,
    src/ingest/partition.py:202-210).

    ``dropDuplicatesWithinWatermark`` keeps one row per key and expires
    each key's state once the watermark passes its event time, so
    executor memory tracks the lateness bound, not stream age — the same
    retention trade the Firehose 15-minute buffer makes for the Lambda.
    A duplicate arriving later than ``watermark_delay`` is NOT caught
    here; it lands in the timeline as a partial row and the batch merge
    dedups it by key exactly as the reference repairs late rewards via
    groom. On a batch frame this degrades to plain ``dropDuplicates``
    (full-history dedup: batch has no state to bound, and the merge's
    map union is insensitive to which duplicate survives) — the event-
    time column is neither required nor validated there, since only the
    streaming watermark uses it.
    """
    if events.isStreaming:
        df = _normalize_event_time(events, ts_col)
        return df.withWatermark(ts_col, watermark_delay) \
            .dropDuplicatesWithinWatermark(list(key_cols))
    return events.dropDuplicates(list(key_cols))
