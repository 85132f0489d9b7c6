"""Structured Streaming over the events table (SURVEY.md 2b).

The reference is batch-only (monthly files, SURVEY.md section 2.9); this
module adds the streaming surface a continuous ingest would need:

- file-source stream with explicit schema (new parquet drops in a dir ->
  incremental processing; the streaming twin of the reference's monthly
  backfill loop)
- event-time tumbling-window aggregation with a watermark for late data
- gap-based sessionization via ``applyInPandasWithState`` (custom
  stateful operator -- the extension path for semantics Spark's built-in
  windows can't express)
- ``foreachBatch`` parquet sink: the committed batch log of
  streaming/state.py, the equivalent of the reference's transactional
  executemany exporter (``.../exporter_taxi.py/1759109036:178-233``)

The events parquet has shipped both as TIMESTAMP(NANOS) and as
TIMESTAMP(MICROS) without UTC adjustment (Spark 4 infers TIMESTAMP_NTZ);
``read_events_stream`` probes one file's footer, declares the matching
stream schema and normalizes ``ts`` through the batch reader's
``sources.readers.events_ts_utc``.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from taxi_data_pipeline_pset2_spark.sources.readers import events_ts_utc
from taxi_data_pipeline_pset2_spark.streaming.state import (
    drain,
    read_batches,
    write_batch,
)


def _events_raw_schema(ts_type) -> StructType:
    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", ts_type),  # nanos-as-long OR timestamp_ntz
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )


EVENTS_RAW_SCHEMA = _events_raw_schema(LongType())

SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
    ]
)


def read_events_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """File-source stream over a directory of events parquet files.

    Streams need an explicit schema up front, so probe one already-staged
    file with a batch read (footer only) to learn which ``ts`` physical
    type this directory carries; fall back to the nanos-as-long layout if
    the directory is still empty."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    from pyspark.errors import AnalysisException

    ts_type: object = LongType()
    try:
        ts_type = spark.read.parquet(events_dir).schema["ts"].dataType
    except AnalysisException:
        # path-not-found / empty dir: keep the legacy nanos-as-long
        # default. Anything else (permissions, corrupt footer) propagates
        # as the real error instead of a confusing stream-schema mismatch.
        pass
    return events_ts_utc(
        spark.readStream.schema(_events_raw_schema(ts_type))
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )


def hourly_event_counts(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Event-time tumbling 1h window with late-data watermark. At scale
    the state store holds only windows newer than the watermark -- bounded
    state regardless of stream length."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_event_counts(
    stream: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Sliding event-time windows: each event lands in window/slide
    overlapping windows (here 2). State cost scales with windows-open x
    groups, still bounded by the watermark -- the standard
    trailing-window rate metric a monitoring pipeline emits."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sessionize(
    stream: DataFrame, gap_minutes: int = 30, watermark: str = "1 hour"
) -> DataFrame:
    """Gap-based sessionization per user via ``applyInPandasWithState``:
    events closer than ``gap_minutes`` chain into one session; an
    event-time timeout flushes a session once the watermark passes
    session_end + gap. The canonical custom-stateful-operator shape
    (state = open session aggregates, bounded per active user; the
    watermark bounds both state age and late data).

    Event-time (not processing-time) timeouts matter twice: sessions
    close by stream-time semantics regardless of wall-clock replay
    speed, and timers only fire as the watermark advances, so a finite
    ``availableNow`` drain terminates (processing-time timers keep
    requesting micro-batches forever)."""
    gap_ms = gap_minutes * 60 * 1000

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            start_ms, end_ms, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [pd.Timestamp(start_ms, unit="ms")],
                    "session_end": [pd.Timestamp(end_ms, unit="ms")],
                    "n_events": [n],
                }
            )
            return
        rows = pd.concat(list(pdfs)).sort_values("ts")
        ts_ms = (rows["ts"].astype("int64") // 1_000_000).tolist()
        closed: list[tuple[int, int, int]] = []
        if state.exists:
            start_ms, end_ms, n = state.get
        else:
            start_ms, end_ms, n = ts_ms[0], ts_ms[0], 0
        for t in ts_ms:
            if t - end_ms > gap_ms:
                closed.append((start_ms, end_ms, n))
                start_ms, end_ms, n = t, t, 1
            else:
                end_ms = max(end_ms, t)
                n += 1
        state.update((start_ms, end_ms, n))
        # timer must be strictly ahead of the current watermark
        state.setTimeoutTimestamp(max(end_ms + gap_ms, state.getCurrentWatermarkMs() + 1))
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(closed),
                    "session_start": [pd.Timestamp(s, unit="ms") for s, _, _ in closed],
                    "session_end": [pd.Timestamp(e, unit="ms") for _, e, _ in closed],
                    "n_events": [c for _, _, c in closed],
                }
            )

    return (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_SCHEMA,
            stateStructType="start_ms long, end_ms long, n long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    on: str,
    window_minutes: int = 60,
    left_watermark: str = "1 hour",
    right_watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join bounded by an event-time interval: left
    rows match right rows with the same key and right.ts in
    (left.ts - window, left.ts]. The watermarks + the time-bound
    predicate are what make the state finite -- each side buffers only
    rows newer than its watermark, so state size tracks the join window,
    not the stream length. The streaming twin of the batch interval join
    (queries/pipeline_ops.py recent_clicks_before_error)."""
    l = left.alias("l").withWatermark("ts", left_watermark)
    r = right.alias("r").withWatermark("ts", right_watermark)
    cond = (
        (F.col(f"l.{on}") == F.col(f"r.{on}"))
        & (F.col("r.ts") > F.col("l.ts") - F.expr(f"INTERVAL {window_minutes} MINUTES"))
        & (F.col("r.ts") <= F.col("l.ts"))
    )
    return l.join(r, cond, "inner")


def interval_join_streams_outer(
    left: DataFrame,
    right: DataFrame,
    on: str,
    window_minutes: int = 60,
    left_watermark: str = "1 hour",
    right_watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: like
    :func:`interval_join_streams`, but left rows with no match emit a
    null-padded row once the watermark proves no match can still arrive.
    That proof is the point -- outer results are held in state until the
    right watermark passes the join window, so correctness depends on
    BOTH watermarks, and state stays bounded by the same windows."""
    l = left.alias("l").withWatermark("ts", left_watermark)
    r = right.alias("r").withWatermark("ts", right_watermark)
    cond = (
        (F.col(f"l.{on}") == F.col(f"r.{on}"))
        & (F.col("r.ts") > F.col("l.ts") - F.expr(f"INTERVAL {window_minutes} MINUTES"))
        & (F.col("r.ts") <= F.col("l.ts"))
    )
    return l.join(r, cond, "leftOuter")


def enrich_with_dim(stream: DataFrame, dim: DataFrame, on: str) -> DataFrame:
    """Stream-static join: every micro-batch joins against the (small)
    static dimension -- planned as a broadcast hash join per batch, no
    streaming state at all. The streaming twin of the star-schema
    enrichment joins (SURVEY.md J1-J3)."""
    return stream.join(F.broadcast(dim), on, "left")


def dedup_stream(
    stream: DataFrame, keys: list[str], watermark: str = "1 hour"
) -> DataFrame:
    """Streaming exact dedup with bounded state:
    ``dropDuplicatesWithinWatermark`` keeps each key only until the
    watermark passes it, so state size tracks the duplicate-arrival
    window, not the stream length -- the streaming twin of
    ``exact_dedup_groups`` (operators/dedup.py) and the idempotent-ingest
    guard for at-least-once sources."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def run_batchwise_to_parquet(
    agg_stream: DataFrame, out_dir: str, checkpoint_dir: str
) -> None:
    """foreachBatch sink: each micro-batch becomes one entry of the
    committed batch log (streaming/state.py) -- replayed batches
    overwrite their own directory, so restarts are idempotent (the Spark
    equivalent of the reference exporter's BEGIN/executemany/COMMIT +
    rollback).

    READ CONTRACT: under ``update`` output mode a window re-emitted in a
    later micro-batch lands in a NEWER batch without removing the older
    partial row, so reading the whole log double-counts updated windows.
    Consumers must read through :func:`read_batchwise_result`, which
    keeps only each key's latest batch (last-writer-wins). That pairing
    -- not the raw log -- is what is exactly-once. (``append`` output
    mode would avoid the discipline but withholds every window still
    inside the watermark when an ``availableNow`` drain ends; the
    update+reader pair delivers the complete, final result.)"""
    spark = agg_stream.sparkSession
    drain(
        agg_stream,
        checkpoint_dir,
        lambda batch_df, batch_id: write_batch(spark, out_dir, batch_id, batch_df),
        output_mode="update",
    )


def read_batchwise_result(
    spark: SparkSession, out_dir: str, key_cols: list[str]
) -> DataFrame:
    """The read side of :func:`run_batchwise_to_parquet`'s exactly-once
    contract: over the committed log (``state.read_batches``), keep for
    each aggregation key only the row from the highest batch_id (the
    final value of that window). One window over the (small, result-
    sized) sink table."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(*key_cols).orderBy(F.desc("batch_id"))
    return (
        read_batches(spark, out_dir)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "batch_id")
    )


def run_complete_to_memory(
    agg_stream: DataFrame, spark: SparkSession, table_name: str
) -> DataFrame:
    """Drain a finite stream (availableNow) into a memory sink; returns
    the final result table. Test/debug harness."""
    (
        agg_stream.writeStream.format("memory")
        .queryName(table_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return spark.table(table_name)
