"""Streaming heavy hitters with BOUNDED state: a Misra-Gries summary
of capacity m maintained across micro-batches, merged per batch with
the mergeable-summaries rule (Agarwal, Cormode et al., PODS 2012):

    1. add the batch's EXACT counts into the carried summary,
    2. find the (m+1)-th largest counter d,
    3. subtract d from every counter and drop the non-positives.

The result keeps <= m counters with the classic deterministic
guarantee: every value with true frequency > N/(m+1) is IN the
summary, and each kept estimate undercounts its true count by at most
its ``max_undercount`` -- the bounded-state answer to "top
sources/domains/tokens so far" over an unbounded key domain, where
exact streaming counts would grow without limit. The batch complement
is the two-phase exact heavy hitters (operators/frequency.py); this is
what runs when the data never stops.

``max_undercount`` is only a valid per-value bound if a value that
ENTERS the summary starts from the stream-global accumulated deduction
D, not from zero: occurrences it lost while absent (dropped earlier,
or never yet counted) are bounded by D, the total mass ever subtracted
-- a re-entering value with a zero floor silently violated
``true <= est + max_undercount`` (the drop-lose-re-enter case; found
by definition audit, the test reference shared the misconception).
D itself must survive even a TOTAL counter wipe (all merged counts can
tie at the deduction threshold), so the state carries one metadata row
with ``value NULL, est NULL`` and ``max_undercount = D``; counter
consumers filter ``est IS NOT NULL`` (or use :func:`topk_counters`).

State discipline: per batch, work is O(batch + m) -- one exact
batch-sized aggregate, one outer join against the m-row summary, one
(m+1)-th order statistic. The summary of batch i is batch i's entry of
the committed batch log (streaming/state.py), folded from exactly batch
i - 1's; a replayed batch overwrites byte-identical state, so
at-least-once foreachBatch delivery keeps the summary exact. All counts
are exact integers; ties at the deduction threshold resolve by (count
desc, value asc), so state is deterministic under any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from taxi_data_pipeline_pset2_spark.streaming.state import (
    drain,
    read_batch,
    write_batch,
)

_STATE_SCHEMA = "value string, est bigint, max_undercount bigint"


def topk_counters(state: DataFrame) -> DataFrame:
    """The counter rows of a summary (drops the deduction-total
    metadata row)."""
    return state.filter(F.col("est").isNotNull())


def mg_merge(
    state: DataFrame, batch_counts: DataFrame, capacity: int
) -> DataFrame:
    """One Misra-Gries merge step: carried summary + exact batch counts
    -> new summary of <= ``capacity`` counter rows plus the metadata
    row (value NULL, est NULL, max_undercount = accumulated deduction
    D). Batch counts enter schema (value, est, max_undercount = 0);
    values NOT already in the summary get D as their undercount floor
    (see the module docstring -- a zero floor breaks the guarantee for
    re-entering values)."""
    if capacity < 1:
        raise ValueError(f"capacity must be >= 1, got {capacity}")
    counters = topk_counters(state)
    # the stream-global accumulated deduction; lives on the metadata
    # row but max() over all rows is equivalent (every counter's
    # undercount is <= D) and tolerates legacy counter-only states
    d_old_row = state.agg(
        F.coalesce(F.max("max_undercount"), F.lit(0))
        .cast("bigint")
        .alias("d_old")
    )
    known = counters.select("value")
    fresh = (
        batch_counts.join(F.broadcast(known), "value", "left_anti")
        .crossJoin(F.broadcast(d_old_row))
        .select("value", "est", F.col("d_old").alias("max_undercount"))
    )
    seen = batch_counts.join(F.broadcast(known), "value", "left_semi").select(
        "value", "est", "max_undercount"
    )
    merged = (
        counters.unionByName(fresh)
        .unionByName(seen)
        .groupBy("value")
        .agg(
            F.sum("est").cast("bigint").alias("est"),
            F.sum("max_undercount").cast("bigint").alias("max_undercount"),
        )
    )
    # the (capacity+1)-th largest counter; 0 when <= capacity survive.
    # The summary frame is <= capacity + batch-distinct rows: the sort
    # is summary-sized, never stream-sized.
    d_row = (
        merged.orderBy(F.desc("est"), F.asc("value"))
        .limit(capacity + 1)
        .agg(
            F.when(F.count("*") > capacity, F.min("est"))
            .otherwise(F.lit(0))
            .alias("d")
        )
    )
    kept = (
        merged.crossJoin(F.broadcast(d_row))
        .filter(F.col("est") > F.col("d"))
        .select(
            "value",
            (F.col("est") - F.col("d")).cast("bigint").alias("est"),
            (F.col("max_undercount") + F.col("d"))
            .cast("bigint")
            .alias("max_undercount"),
        )
    )
    meta = (
        d_old_row.crossJoin(F.broadcast(d_row))
        .select(
            F.lit(None).cast("string").alias("value"),
            F.lit(None).cast("bigint").alias("est"),
            (F.col("d_old") + F.col("d")).cast("bigint").alias("max_undercount"),
        )
    )
    return kept.unionByName(meta)


def read_topk_state(
    spark: SparkSession, state_base: str, batch_id: int
) -> DataFrame:
    """The summary as of ``batch_id`` (``state.read_batch``: empty only
    for ``batch_id < 0``, a missing or uncommitted batch raises)."""
    return read_batch(spark, state_base, batch_id, _STATE_SCHEMA)


def run_streaming_topk(
    stream_df: DataFrame,
    col: str,
    state_base: str,
    checkpoint_dir: str,
    capacity: int = 64,
) -> None:
    """Drain the stream; each batch folds its exact value counts into
    the carried summary and writes the new summary under
    ``state_base``."""
    spark = stream_df.sparkSession

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        prev = read_topk_state(spark, state_base, batch_id - 1)
        counts = (
            batch_df.filter(F.col(col).isNotNull())
            .groupBy(F.col(col).cast("string").alias("value"))
            .agg(F.count("*").cast("bigint").alias("est"))
            .withColumn("max_undercount", F.lit(0).cast("bigint"))
        )
        write_batch(spark, state_base, batch_id, mg_merge(prev, counts, capacity))

    drain(stream_df, checkpoint_dir, on_batch)
