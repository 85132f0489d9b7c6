"""Streaming NUMERIC drift monitor: per-micro-batch two-sample KS
against a fixed reference distribution -- the binning-free sibling of
the categorical PSI monitor (streaming/drift.py). PSI with quantile
bins can sleep through a shape change that stays inside its bins; KS
compares full CDFs at every observed value.

Same discipline as the PSI monitor:
 1. batch value counts (batch-sized aggregate, ONE scan);
 2. KS via ks_from_counts against the reference's PRE-AGGREGATED
    per-value counts (aggregated once at monitor start, localCheckpoint
    pinned -- the reference corpus is never re-scanned; per batch only
    its value-vocabulary-sized count frame re-windows);
 3. one audit row (batch_id, n_rows, ks_d, ks_lambda, drifted) as
    that batch's entry of the committed batch log (streaming/state.py).

``threshold`` is on ks_lambda, the scale-free statistic: the classic
asymptotic alpha=0.05 rejection sits near 1.36 (alpha=0.01 near 1.63).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from taxi_data_pipeline_pset2_spark.operators.drift import ks_from_counts
from taxi_data_pipeline_pset2_spark.streaming.state import drain, write_batch


def _value_counts(df: DataFrame, col: str) -> DataFrame:
    return (
        df.filter(F.col(col).isNotNull())
        .groupBy(F.col(col).cast("double").alias("v"))
        .agg(F.count("*").cast("bigint").alias("n"))
    )


def batch_ks_row(
    spark: SparkSession,
    batch_df: DataFrame,
    ref_counts: DataFrame,
    col: str,
    batch_id: int,
    threshold: float,
) -> DataFrame:
    """One audit row for one batch; exposed for the stream == batch
    equality test."""
    counts = _value_counts(batch_df, col).localCheckpoint(eager=True)
    n_row = counts.agg(F.sum("n").alias("n")).first()
    n_rows = int(n_row["n"] or 0)
    if n_rows == 0:
        d, lam = None, None
    else:
        r = ks_from_counts(counts, ref_counts).first()
        d, lam = r["ks_d"], r["ks_lambda"]
    return spark.createDataFrame(
        [
            (
                int(batch_id),
                int(n_rows),
                d,
                lam,
                bool(lam is not None and lam > threshold),
            )
        ],
        "batch_id long, n_rows long, ks_d double, ks_lambda double, "
        "drifted boolean",
    )


def run_streaming_ks_monitor(
    stream_df: DataFrame,
    reference: DataFrame,
    col: str,
    audit_dir: str,
    checkpoint_dir: str,
    threshold: float = 1.36,
) -> None:
    """Drain the stream, one audit row per batch under ``audit_dir``."""
    spark = reference.sparkSession
    ref_counts = _value_counts(reference, col).localCheckpoint(eager=True)

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        row = batch_ks_row(
            spark, batch_df, ref_counts, col, batch_id, threshold
        )
        write_batch(spark, audit_dir, batch_id, row)

    drain(stream_df, checkpoint_dir, on_batch)
