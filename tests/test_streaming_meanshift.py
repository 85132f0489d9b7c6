"""Streaming mean-shift monitor: per-batch CUSUM rows equal the batch
function with carried state; alarm fires on a genuine level shift;
replay is idempotent; a lost predecessor raises; empty reference
rejected."""

from __future__ import annotations

import os
import time

import pytest

from taxi_data_pipeline_pset2_spark.streaming.meanshift import (
    batch_cusum_row,
    reference_moments,
    run_streaming_meanshift_monitor,
)
from taxi_data_pipeline_pset2_spark.streaming.incremental import (
    read_docs_stream,
)
from taxi_data_pipeline_pset2_spark.streaming.state import (
    read_batches,
    state_dir,
)


def _batches():
    # reference level ~10; batches 0-1 on-level, batches 2-3 shifted +5
    return [
        [(i, 10.0 + (i % 3) - 1) for i in range(20)],
        [(100 + i, 10.0 + ((i + 1) % 3) - 1) for i in range(20)],
        [(200 + i, 15.0 + (i % 3) - 1) for i in range(20)],
        [(300 + i, 15.0 + ((i + 1) % 3) - 1) for i in range(20)],
    ]


def _write_units(spark, base, batches=None, start=0):
    """One parquet file per batch under ``<base>/flat``, mtimes in
    batch order; a later call with ``start`` appends newer files."""
    flat = os.path.join(base, "flat")
    os.makedirs(flat, exist_ok=True)
    t0 = time.time() - 100
    for i, rows in enumerate(batches or _batches(), start):
        unit = os.path.join(base, f"unit{i}")
        spark.createDataFrame(rows, "event_id long, value double").coalesce(
            1
        ).write.mode("overwrite").parquet(unit)
        for f in sorted(os.listdir(unit)):
            if f.endswith(".parquet"):
                dst = os.path.join(flat, f"part-{i:03d}.parquet")
                os.rename(os.path.join(unit, f), dst)
                os.utime(dst, (t0 + i, t0 + i))
    return flat


@pytest.fixture()
def reference(spark):
    return spark.createDataFrame(
        [(i, 10.0 + (i % 3) - 1) for i in range(300)],
        "event_id long, value double",
    )


def test_reference_moments_and_validation(spark, reference):
    mu, sd = reference_moments(reference, "value")
    assert mu == pytest.approx(10.0, abs=0.01)
    assert sd == pytest.approx(0.8165, abs=0.01)  # sd of {-1,0,1}
    flat = spark.createDataFrame([(1, 5.0), (2, 5.0)], "id long, value double")
    with pytest.raises(ValueError, match="zero variance"):
        reference_moments(flat, "value")


def test_stream_alarm_fires_on_shift_and_matches_batch(spark, reference, tmp_path):
    flat = _write_units(spark, str(tmp_path / "docs"))
    audit_dir = str(tmp_path / "audit")
    ckpt = str(tmp_path / "ckpt")
    stream = read_docs_stream(spark, flat, max_files_per_trigger=1)
    run_streaming_meanshift_monitor(
        stream, reference, "value", audit_dir, ckpt
    )
    audit = {
        r.batch_id: r
        for r in read_batches(spark, audit_dir).collect()
    }
    assert len(audit) == 4
    # on-level batches stay quiet, shifted ones alarm quickly
    assert not audit[0].alarmed and not audit[1].alarmed
    assert audit[2].alarmed or audit[3].alarmed
    assert audit[3].s_pos > audit[2].s_pos - 1e-9 or audit[3].alarmed
    # stream row == batch function with the carried state
    mu0, sigma0 = reference_moments(reference, "value")
    b2 = spark.createDataFrame(_batches()[2], "event_id long, value double")
    expect = batch_cusum_row(
        spark, b2, "value", mu0, sigma0, 2,
        audit[1].s_pos, audit[1].s_neg,
    ).collect()[0]
    got = audit[2]
    assert got.z == expect.z and got.s_pos == expect.s_pos
    assert got.batch_mean == expect.batch_mean


def test_replay_is_idempotent(spark, reference, tmp_path):
    import shutil

    flat = _write_units(spark, str(tmp_path / "docs"))
    audit_dir = str(tmp_path / "audit")
    run_streaming_meanshift_monitor(
        read_docs_stream(spark, flat, max_files_per_trigger=1),
        reference, "value", audit_dir, str(tmp_path / "ckpt"),
    )
    before = sorted(
        (r.batch_id, r.s_pos, r.s_neg, r.alarmed)
        for r in read_batches(spark, audit_dir).collect()
    )
    # wipe the checkpoint -> every batch replays with new batch ids from 0
    shutil.rmtree(str(tmp_path / "ckpt"))
    run_streaming_meanshift_monitor(
        read_docs_stream(spark, flat, max_files_per_trigger=1),
        reference, "value", audit_dir, str(tmp_path / "ckpt"),
    )
    after = sorted(
        (r.batch_id, r.s_pos, r.s_neg, r.alarmed)
        for r in read_batches(spark, audit_dir).collect()
    )
    assert before == after


@pytest.mark.parametrize("loss", ["missing", "uncommitted"])
def test_lost_predecessor_raises(spark, reference, tmp_path, loss):
    """Batch 2 folds from exactly batch 1's row. With batch 1's entry
    deleted, or left as an empty directory by a crash mid-overwrite,
    the monitor must raise naming batch 1 -- not fold batch 2 from
    batch 0's older CUSUM state."""
    import shutil

    base = str(tmp_path / "docs")
    flat = _write_units(spark, base, _batches()[:2])
    audit_dir = str(tmp_path / "audit")
    ckpt = str(tmp_path / "ckpt")

    def run():
        run_streaming_meanshift_monitor(
            read_docs_stream(spark, flat, max_files_per_trigger=1),
            reference, "value", audit_dir, ckpt,
        )

    run()
    shutil.rmtree(state_dir(audit_dir, 1))
    if loss == "uncommitted":
        os.makedirs(state_dir(audit_dir, 1))
    _write_units(spark, base, _batches()[2:3], start=2)
    with pytest.raises(FileNotFoundError, match="batch 1"):
        run()


def test_empty_batch_carries_state(spark, reference):
    mu0, sigma0 = reference_moments(reference, "value")
    empty = spark.createDataFrame([], "event_id long, value double")
    r = batch_cusum_row(
        spark, empty, "value", mu0, sigma0, 7, 1.25, 0.5
    ).collect()[0]
    assert r.n_rows == 0 and r.s_pos == 1.25 and r.s_neg == 0.5
    assert not r.alarmed
