"""Streaming drift monitor: per-batch PSI rows equal the batch operator
applied to the same rows; replay overwrites idempotently; alerts fire
on a genuinely shifted batch."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from taxi_data_pipeline_pset2_spark.operators.drift import psi_total
from taxi_data_pipeline_pset2_spark.streaming.drift import (
    batch_psi_row,
    run_streaming_drift_monitor,
)
from taxi_data_pipeline_pset2_spark.streaming.incremental import read_docs_stream
from taxi_data_pipeline_pset2_spark.streaming.state import (
    read_batches,
    state_dir,
    write_batch,
)


def _batches():
    # reference mix is 80/20 a/b; batch 0 matches it, batch 1 is inverted
    return [
        [(i, "a") for i in range(8)] + [(100 + i, "b") for i in range(2)],
        [(200 + i, "a") for i in range(2)] + [(300 + i, "b") for i in range(8)],
    ]


def _write_units(spark, base):
    flat = os.path.join(base, "flat")
    os.makedirs(flat)
    t0 = time.time() - 100
    n = 0
    for i, rows in enumerate(_batches()):
        unit = os.path.join(base, f"unit{i}")
        spark.createDataFrame(rows, "event_id long, lang string").coalesce(
            1
        ).write.mode("overwrite").parquet(unit)
        for f in sorted(os.listdir(unit)):
            if f.endswith(".parquet"):
                dst = os.path.join(flat, f"part-{i:03d}.parquet")
                os.rename(os.path.join(unit, f), dst)
                os.utime(dst, (t0 + n, t0 + n))
                n += 1
    return flat


def test_stream_psi_matches_batch_operator_and_alerts(spark, tmp_path):
    flat = _write_units(spark, str(tmp_path / "docs"))
    audit = str(tmp_path / "audit")
    ckpt = str(tmp_path / "ckpt")
    reference = spark.createDataFrame(
        [(i, "a") for i in range(80)] + [(i, "b") for i in range(20)],
        "event_id long, lang string",
    )

    stream = read_docs_stream(spark, flat, max_files_per_trigger=1)
    run_streaming_drift_monitor(
        stream, reference, "lang", audit, ckpt, threshold=0.25
    )

    rows = {
        r.batch_id: (r.n_rows, r.psi, r.drifted)
        for r in read_batches(spark, audit).collect()
    }
    assert set(rows) == {0, 1}
    # stream row == batch operator on the same rows
    for bid, batch in enumerate(_batches()):
        bdf = spark.createDataFrame(batch, "event_id long, lang string")
        want = psi_total(reference, bdf, "lang")
        assert rows[bid][1] == pytest.approx(want, abs=1e-9), bid
        assert rows[bid][0] == len(batch)
    # the matching batch is quiet, the inverted batch alerts
    assert rows[0][2] is False and rows[0][1] < 0.1
    assert rows[1][2] is True and rows[1][1] > 0.25


def test_replay_overwrites_audit_row_idempotently(spark, tmp_path):
    audit = str(tmp_path / "audit")
    reference = spark.createDataFrame(
        [(i, "a") for i in range(10)], "event_id long, lang string"
    )
    from taxi_data_pipeline_pset2_spark.operators.drift import category_counts

    ref_counts = category_counts(reference, "lang", "n_expected")
    batch = spark.createDataFrame(
        [(1, "a"), (2, "b")], "event_id long, lang string"
    )
    for _ in range(2):  # replayed delivery of the same batch id
        row = batch_psi_row(spark, batch, ref_counts, "lang", 7, 0.25)
        write_batch(spark, audit, 7, row)
    out = read_batches(spark, audit).collect()
    assert len(out) == 1 and out[0].batch_id == 7


def test_read_batches_skips_uncommitted_batch(spark, tmp_path):
    """A batch directory holding parquet rows but no commit marker (a
    crash after the files landed, before the commit) is not part of
    the log: reading it back would report a batch the monitor never
    finished. A log with no committed batch raises."""
    from taxi_data_pipeline_pset2_spark.operators.drift import category_counts

    audit = str(tmp_path / "audit")
    with pytest.raises(FileNotFoundError, match="no committed batch"):
        read_batches(spark, audit)
    reference = spark.createDataFrame(
        [(i, "a") for i in range(10)], "event_id long, lang string"
    )
    ref_counts = category_counts(reference, "lang", "n_expected")
    batch = spark.createDataFrame([(1, "a")], "event_id long, lang string")
    write_batch(
        spark, audit, 0, batch_psi_row(spark, batch, ref_counts, "lang", 0, 0.25)
    )
    partial = state_dir(audit, 1)
    batch_psi_row(spark, batch, ref_counts, "lang", 1, 0.25).drop(
        "batch_id"
    ).write.parquet(partial)
    os.remove(os.path.join(partial, "_SUCCESS"))
    assert any(f.endswith(".parquet") for f in os.listdir(partial))
    assert [r.batch_id for r in read_batches(spark, audit).collect()] == [0]


def test_empty_batch_is_quiet(spark):
    from taxi_data_pipeline_pset2_spark.operators.drift import category_counts

    reference = spark.createDataFrame(
        [(1, "a")], "event_id long, lang string"
    )
    empty = reference.filter(F.lit(False))
    row = batch_psi_row(
        spark, empty, category_counts(reference, "lang", "n_expected"),
        "lang", 0, 0.25,
    ).collect()[0]
    assert (row.n_rows, row.psi, row.drifted) == (0, 0.0, False)
