"""Streaming KS monitor: per-batch rows equal the batch operator on the
same rows, the shifted batch alarms, replay overwrites idempotently."""

from __future__ import annotations

import os
import time

import pytest

from taxi_data_pipeline_pset2_spark.operators.drift import ks_statistic
from taxi_data_pipeline_pset2_spark.streaming.incremental import read_docs_stream
from taxi_data_pipeline_pset2_spark.streaming.ksmonitor import (
    run_streaming_ks_monitor,
)
from taxi_data_pipeline_pset2_spark.streaming.state import read_batches


def _batches():
    # batch 0 matches the reference (values 0..9 uniform); batch 1 is
    # shifted by +5 -- a pure location shift PSI-with-wide-bins can miss
    return [
        [(i, float(i % 10)) for i in range(60)],
        [(100 + i, float(i % 10 + 5)) for i in range(60)],
    ]


def _write_units(spark, base):
    flat = os.path.join(base, "flat")
    os.makedirs(flat)
    t0 = time.time() - 100
    n = 0
    for i, rows in enumerate(_batches()):
        unit = os.path.join(base, f"unit{i}")
        spark.createDataFrame(rows, "event_id long, value double").coalesce(
            1
        ).write.mode("overwrite").parquet(unit)
        for f in sorted(os.listdir(unit)):
            if f.endswith(".parquet"):
                dst = os.path.join(flat, f"part-{i:03d}.parquet")
                os.rename(os.path.join(unit, f), dst)
                os.utime(dst, (t0 + n, t0 + n))
                n += 1
    return flat


def _reference(spark):
    return spark.createDataFrame(
        [(i, float(i % 10)) for i in range(400)], "event_id long, value double"
    )


def test_stream_ks_matches_batch_operator_and_alerts(spark, tmp_path):
    flat = _write_units(spark, str(tmp_path / "ev"))
    audit = str(tmp_path / "audit")
    ckpt = str(tmp_path / "ckpt")
    reference = _reference(spark)

    run_streaming_ks_monitor(
        read_docs_stream(spark, flat, max_files_per_trigger=1),
        reference, "value", audit, ckpt, threshold=1.36,
    )

    rows = {
        r.batch_id: (r.n_rows, r.ks_d, r.ks_lambda, r.drifted)
        for r in read_batches(spark, audit).collect()
    }
    assert set(rows) == {0, 1}
    # stream row == the batch ks_statistic over (batch=A, reference=B)
    for bid, batch in enumerate(_batches()):
        both = spark.createDataFrame(
            [(v, True) for _, v in batch]
            + [(v, False) for _, v in _reference(spark).collect()],
            "v double, f boolean",
        )
        want = ks_statistic(both, "v", "f").collect()[0]
        assert rows[bid][1] == pytest.approx(want.ks_d, abs=1e-9), bid
        assert rows[bid][2] == pytest.approx(want.ks_lambda, abs=1e-9), bid
    assert rows[0][3] is False  # matching batch quiet
    assert rows[1][3] is True and rows[1][1] >= 0.5  # shift alarms


def test_replay_overwrites_idempotently(spark, tmp_path):
    flat = _write_units(spark, str(tmp_path / "ev"))
    audit = str(tmp_path / "audit")
    reference = _reference(spark)

    run_streaming_ks_monitor(
        read_docs_stream(spark, flat, max_files_per_trigger=1),
        reference, "value", audit, str(tmp_path / "c1"), 1.36,
    )
    first = sorted(map(tuple, read_batches(spark, audit).collect()))
    # wipe the checkpoint -> full at-least-once replay of every batch
    run_streaming_ks_monitor(
        read_docs_stream(spark, flat, max_files_per_trigger=1),
        reference, "value", audit, str(tmp_path / "c2"), 1.36,
    )
    second = sorted(map(tuple, read_batches(spark, audit).collect()))
    assert first == second
