"""Streaming mean-shift monitor: sequential Page CUSUM (Page 1954) of
a numeric column's batch means against a fixed reference -- the
streaming complement of the offline change-point operator
(operators/changepoint.py finds WHERE a recorded series shifted; this
raises the alarm WHILE it shifts).

Per micro-batch (foreachBatch):

 1. one batch-sized aggregate -> (n, mean) via exact decimal sums;
 2. standardized batch score z = (mean - mu0) / (sigma0 / sqrt(n))
    against the reference mean/sd fixed at monitor start (the
    reference frame is scanned exactly ONCE -- the O(batch) discipline
    of streaming/drift.py);
 3. two one-sided CUSUM statistics with the textbook drift allowance
    ``k`` (default 0.5 sd) and alarm threshold ``h`` (default 5):
        s_pos = max(0, s_pos_prev + z - k)
        s_neg = max(0, s_neg_prev - z - k)
 4. ONE audit row (batch_id, n_rows, batch_mean, z, s_pos, s_neg,
    alarmed) as that batch's entry of the committed batch log
    (streaming/state.py).

The carried state is the audit row of the exact predecessor, batch
``id - 1``, read through ``state.read_batch`` -- the rule top-k and KMV
follow -- so an at-least-once replay of batch i re-reads exactly the
state that preceded i and rewrites an identical row. A missing or
uncommitted predecessor raises instead of folding from an older state.
Empty batches carry state forward unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from taxi_data_pipeline_pset2_spark.streaming.state import (
    drain,
    read_batch,
    write_batch,
)


def reference_moments(df: DataFrame, col: str) -> tuple[float, float]:
    """(mean, sd_pop) of the reference column from exact decimal sums;
    raises on an empty/zero-variance reference (no basis to monitor)."""
    r = df.agg(
        F.count(F.col(col)).alias("n"),
        F.sum(F.col(col).cast("decimal(28,6)")).cast("double").alias("s"),
        F.sum(
            (F.col(col).cast("double") * F.col(col).cast("double")).cast(
                "decimal(38,10)"
            )
        )
        .cast("double")
        .alias("ss"),
    ).first()
    n = int(r["n"] or 0)
    if n < 2:
        raise ValueError(f"reference needs >= 2 non-null rows, got {n}")
    mean = r["s"] / n
    var = r["ss"] / n - mean * mean
    if var <= 0:
        raise ValueError("reference has zero variance; nothing to scale by")
    return mean, var ** 0.5


def batch_cusum_row(
    spark: SparkSession,
    batch_df: DataFrame,
    col: str,
    mu0: float,
    sigma0: float,
    batch_id: int,
    s_pos_prev: float,
    s_neg_prev: float,
    k: float = 0.5,
    h: float = 5.0,
) -> DataFrame:
    """One audit row for one batch given the carried state. Exposed for
    the stream = batch equality test."""
    r = batch_df.agg(
        F.count(F.col(col)).alias("n"),
        F.sum(F.col(col).cast("decimal(28,6)")).cast("double").alias("s"),
    ).first()
    n = int(r["n"] or 0)
    if n == 0:
        mean, z = None, 0.0  # empty batch: state carries unchanged
        s_pos, s_neg = s_pos_prev, s_neg_prev
    else:
        mean = r["s"] / n
        z = (mean - mu0) / (sigma0 / n ** 0.5)
        s_pos = max(0.0, s_pos_prev + z - k)
        s_neg = max(0.0, s_neg_prev - z - k)
    return spark.createDataFrame(
        [
            (
                int(batch_id),
                n,
                None if mean is None else round(mean, 6),
                round(z, 6),
                round(s_pos, 6),
                round(s_neg, 6),
                bool(max(s_pos, s_neg) > h),
            )
        ],
        "batch_id long, n_rows long, batch_mean double, z double, "
        "s_pos double, s_neg double, alarmed boolean",
    )


def run_streaming_meanshift_monitor(
    stream_df: DataFrame,
    reference: DataFrame,
    col: str,
    audit_dir: str,
    checkpoint_dir: str,
    k: float = 0.5,
    h: float = 5.0,
) -> None:
    """Drain the stream, one audit row per batch under ``audit_dir``."""
    spark = reference.sparkSession
    mu0, sigma0 = reference_moments(reference, col)

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        prev = read_batch(
            spark, audit_dir, batch_id - 1, "s_pos double, s_neg double"
        ).collect()
        s_pos_prev, s_neg_prev = prev[0] if prev else (0.0, 0.0)
        row = batch_cusum_row(
            spark, batch_df, col, mu0, sigma0, batch_id,
            s_pos_prev, s_neg_prev, k, h,
        )
        write_batch(spark, audit_dir, batch_id, row)

    drain(stream_df, checkpoint_dir, on_batch)
