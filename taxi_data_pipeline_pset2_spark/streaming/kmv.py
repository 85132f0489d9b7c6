"""Streaming distinct-count monitoring with BOUNDED state: a per-key
KMV sketch (the k smallest md5 hashes of the monitored column,
operators/kmv.py) carried across micro-batches and merged per batch by
the exact k-smallest-of-union rule.

Unlike the Misra-Gries heavy-hitter summary next door
(streaming/topk.py), whose state is an APPROXIMATION with an error
bound, the KMV merge is EXACT in the sketch sense: k-smallest of
(carried union batch) equals the k-smallest over all data seen so far,
so the streaming sketch is PATH-INDEPENDENT -- any batching of the same
rows (one batch, ten batches, a replay) lands on the byte-identical
state, and the per-key estimate equals what a from-scratch batch build
would report (pinned in tests/test_streaming_kmv.py). That is the
property a 100 TB ingest monitor needs: "distinct users/documents per
source so far" at k rows per key, with estimates that do not drift
with micro-batch boundaries.

State discipline (the streaming/topk.py contract): per batch, work is
O(batch + keys * k) -- one batch-sized distinct, one union with the
carried state, one per-key rank over the (key, distinct hash) frame.
The sketch of batch i is batch i's entry of the committed batch log
(streaming/state.py), folded from exactly batch i - 1's; a replayed
batch overwrites byte-identical state, so at-least-once foreachBatch
delivery keeps the sketch exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from taxi_data_pipeline_pset2_spark.operators.kmv import _h
from taxi_data_pipeline_pset2_spark.streaming.state import (
    drain,
    read_batch,
    write_batch,
)

_STATE_SCHEMA = "key string, h bigint"


def kmv_state_merge(
    state: DataFrame, batch_df: DataFrame, key_col: str, col: str, k: int
) -> DataFrame:
    """One merge step: carried (key, h) sketch rows + a raw batch ->
    new per-key sketch of <= k rows (the exact k-smallest-of-union
    rule). NULL keys and values are excluded, like the batch sketch."""
    from pyspark.sql.window import Window

    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    batch_h = (
        batch_df.filter(
            F.col(key_col).isNotNull() & F.col(col).isNotNull()
        )
        .select(
            F.col(key_col).cast("string").alias("key"),
            _h(F.col(col)).alias("h"),
        )
        .distinct()
    )
    w = Window.partitionBy("key").orderBy("h")
    return (
        state.unionByName(batch_h)
        .distinct()
        .withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= k)
        .drop("_r")
    )


def read_kmv_state(
    spark: SparkSession, state_base: str, batch_id: int
) -> DataFrame:
    """The (key, h) sketch as of ``batch_id`` (``state.read_batch``:
    empty only for ``batch_id < 0``, a missing or uncommitted batch
    raises)."""
    return read_batch(spark, state_base, batch_id, _STATE_SCHEMA)


def read_kmv_estimates(
    spark: SparkSession, state_base: str, batch_id: int, k: int
) -> DataFrame:
    """Per-key (n_kept, est_distinct) as of ``batch_id`` -- the same
    estimator as the batch rollup (operators/kmv.py
    kmv_grouped_estimate), so streaming and batch numbers agree
    bit-for-bit on the same data."""
    from taxi_data_pipeline_pset2_spark.operators.kmv import (
        kmv_grouped_estimate,
    )

    return kmv_grouped_estimate(
        read_kmv_state(spark, state_base, batch_id), ["key"], k
    )


def run_streaming_kmv(
    stream_df: DataFrame,
    key_col: str,
    col: str,
    state_base: str,
    checkpoint_dir: str,
    k: int = 64,
) -> None:
    """Drain the stream; each batch folds its distinct (key, hash)
    pairs into the carried sketch and writes the new sketch under
    ``state_base``."""
    spark = stream_df.sparkSession

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        prev = read_kmv_state(spark, state_base, batch_id - 1)
        write_batch(
            spark, state_base, batch_id,
            kmv_state_merge(prev, batch_df, key_col, col, k),
        )

    drain(stream_df, checkpoint_dir, on_batch)
