"""Streaming distribution-drift monitor: per-micro-batch PSI of a
categorical column against a fixed reference distribution, appended to
an idempotent audit log.

The streaming complement of the batch drift audits (operators/drift.py)
and the quality.py row tests: row tests catch broken VALUES in a batch,
this catches a batch whose category MIX silently shifted -- the
upstream-feed failure mode that passes every not_null/accepted_values
test and still poisons a model trained on the mix.

Per micro-batch (foreachBatch):
 1. count the batch's categories (batch-sized aggregate);
 2. PSI against the PRE-AGGREGATED reference counts (category-sized
    frame, aggregated exactly once at monitor start -- the reference
    corpus is never re-scanned per batch, the same O(batch) discipline
    as streaming/incremental.py);
 3. write ONE audit row (batch_id, n_rows, psi, drifted) as that
    batch's entry of the committed batch log (streaming/state.py);
    read the log back with ``state.read_batches``.

Thresholds follow the PSI folklore the batch operator documents
(< 0.1 stable, 0.1-0.25 drifting, > 0.25 shifted); ``threshold`` is the
alert line, default 0.25.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from taxi_data_pipeline_pset2_spark.operators.drift import (
    SCALE,
    category_counts,
    psi_from_counts,
)
from taxi_data_pipeline_pset2_spark.streaming.state import drain, write_batch


def batch_psi_row(
    spark: SparkSession,
    batch_df: DataFrame,
    ref_counts: DataFrame,
    col: str,
    batch_id: int,
    threshold: float,
    smoothing: float = 0.5,
) -> DataFrame:
    """One audit row for one batch. Exposed for the stream ≡ batch
    equality test: the monitor's output for a batch must equal this
    function applied to the same rows."""
    # ONE batch scan: the category counts serve both n_rows (their sum)
    # and the PSI join -- pinned with localCheckpoint so the PSI pass
    # reads the tiny count frame, not the batch files again
    counts = category_counts(batch_df, col, "n_actual").localCheckpoint(
        eager=True
    )
    n_row = counts.agg(F.sum("n_actual").alias("n")).first()
    n_rows = int(n_row["n"] or 0)
    if n_rows == 0:
        psi = 0.0  # an empty batch has nothing to drift
    else:
        contribs = psi_from_counts(ref_counts, counts, smoothing)
        m = contribs.agg(
            F.sum(F.round(F.col("psi_contrib") * SCALE).cast("bigint")).alias("s")
        ).first()
        psi = (m["s"] or 0) / SCALE
    return spark.createDataFrame(
        [(int(batch_id), int(n_rows), float(psi), bool(psi > threshold))],
        "batch_id long, n_rows long, psi double, drifted boolean",
    )


def run_streaming_drift_monitor(
    stream_df: DataFrame,
    reference: DataFrame,
    col: str,
    audit_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.25,
    smoothing: float = 0.5,
) -> None:
    """Drain the stream, one audit row per batch under ``audit_dir``.
    ``reference`` is aggregated to category counts once and pinned with
    localCheckpoint."""
    spark = reference.sparkSession
    ref_counts = category_counts(reference, col, "n_expected").localCheckpoint(
        eager=True
    )

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        row = batch_psi_row(
            spark, batch_df, ref_counts, col, batch_id, threshold, smoothing
        )
        write_batch(spark, audit_dir, batch_id, row)

    drain(stream_df, checkpoint_dir, on_batch)
