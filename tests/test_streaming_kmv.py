"""Streaming KMV distinct-count monitor: path independence (streaming
state == from-scratch batch sketch, bit-for-bit), bounded state,
estimate agreement with the batch estimator, replay idempotence."""

from __future__ import annotations

import os
import time

import pytest

from taxi_data_pipeline_pset2_spark.operators.kmv import (
    kmv_grouped_estimate,
    kmv_grouped_sketch,
)
from taxi_data_pipeline_pset2_spark.streaming.incremental import (
    read_docs_stream,
)
from taxi_data_pipeline_pset2_spark.streaming.kmv import (
    kmv_state_merge,
    read_kmv_estimates,
    read_kmv_state,
    run_streaming_kmv,
)
from taxi_data_pipeline_pset2_spark.streaming.state import (
    COMMIT_MARKER,
    state_dir,
    write_batch,
)

K = 8


def _write_units(spark, base, batches):
    flat = os.path.join(base, "flat")
    os.makedirs(flat)
    t0 = time.time() - 100
    n = 0
    for i, rows in enumerate(batches):
        unit = os.path.join(base, f"unit{i}")
        spark.createDataFrame(
            rows, "event_id long, key string, v long"
        ).coalesce(1).write.mode("overwrite").parquet(unit)
        for f in sorted(os.listdir(unit)):
            if f.endswith(".parquet"):
                dst = os.path.join(flat, f"part-{i:03d}.parquet")
                os.rename(os.path.join(unit, f), dst)
                os.utime(dst, (t0 + n, t0 + n))
                n += 1
    return flat


def _batches():
    # src_a sees 30 distinct values (> K: estimator path), src_b only 4
    # (< K: exact path); values recur across batches (dedup across
    # batches must hold)
    return [
        [(i, "src_a", i % 20) for i in range(40)]
        + [(100 + i, "src_b", i % 3) for i in range(6)],
        [(200 + i, "src_a", 10 + (i % 20)) for i in range(40)]
        + [(300, "src_b", 3), (301, "src_b", None)],
        [(400 + i, "src_a", i % 7) for i in range(20)],
    ]


def test_missing_state_raises_instead_of_resetting(spark, tmp_path):
    """Only batch_id < 0 (batch 0's no-predecessor sentinel) may map to
    the empty sketch. A missing state dir for a real batch id
    is lost state -- silently substituting an empty sketch would
    permanently undercount every later estimate."""
    base = str(tmp_path / "state")
    assert read_kmv_state(spark, base, -1).count() == 0
    with pytest.raises(FileNotFoundError, match="batch 3"):
        read_kmv_state(spark, base, 3)
    # a partially written dir (crash mid-overwrite: no commit marker)
    # is lost state too -- schema-pinned spark.read over it would
    # silently yield an empty sketch
    os.makedirs(state_dir(base, 4))
    with pytest.raises(FileNotFoundError, match="batch 4"):
        read_kmv_state(spark, base, 4)


def test_merge_validation(spark):
    empty = spark.createDataFrame([], "key string, h bigint")
    with pytest.raises(ValueError, match="k must be"):
        kmv_state_merge(empty, empty.selectExpr("key", "h as v"), "key", "v", 1)


def test_stream_state_equals_batch_sketch_and_replay(spark, tmp_path):
    batches = _batches()
    flat = _write_units(spark, str(tmp_path / "ev"), batches)
    state_base = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    stream = read_docs_stream(spark, flat, max_files_per_trigger=1)
    run_streaming_kmv(stream, "key", "v", state_base, ckpt, k=K)

    last = len(batches) - 1
    streamed = sorted(
        (r.key, r.h) for r in read_kmv_state(spark, state_base, last).collect()
    )
    # path independence: the final streaming sketch must equal a
    # from-scratch BATCH sketch over the concatenation, bit-for-bit
    all_rows = [r for b in batches for r in b]
    batch_df = spark.createDataFrame(all_rows, "event_id long, key string, v long")
    direct = sorted(
        (r.key, r.h)
        for r in kmv_grouped_sketch(batch_df, "v", ["key"], K).collect()
    )
    assert streamed == direct
    # bounded state: <= K rows per key
    per_key = {}
    for key, _ in streamed:
        per_key[key] = per_key.get(key, 0) + 1
    assert all(c <= K for c in per_key.values())
    # estimates agree with the batch estimator on the same data
    est_s = {
        r.key: (r.n_kept, r.est_distinct)
        for r in read_kmv_estimates(spark, state_base, last, K).collect()
    }
    est_b = {
        r.key: (r.n_kept, r.est_distinct)
        for r in kmv_grouped_estimate(
            kmv_grouped_sketch(batch_df, "v", ["key"], K), ["key"], K
        ).collect()
    }
    assert est_s == est_b
    # src_b has < K distinct non-null values -> exact count
    assert est_s["src_b"] == (4, 4.0)
    assert est_s["src_a"][0] == K  # full sketch -> estimator path

    # replay idempotence: re-merging the LAST batch against its
    # predecessor state reproduces the final state exactly
    prev = read_kmv_state(spark, state_base, last - 1)
    replay_batch = spark.createDataFrame(
        batches[last], "event_id long, key string, v long"
    )
    replayed = sorted(
        (r.key, r.h)
        for r in kmv_state_merge(prev, replay_batch, "key", "v", K).collect()
    )
    assert replayed == streamed


def test_batching_invariance(spark):
    """Any split of the same rows into merge steps lands on the
    identical sketch -- the KMV union rule is associative and
    idempotent, the property MG (an approximation) cannot offer."""
    rows = [(i, "k1", i % 37) for i in range(60)] + [
        (i, "k2", i % 5) for i in range(20)
    ]
    df = spark.createDataFrame(rows, "event_id long, key string, v long")
    empty = spark.createDataFrame([], "key string, h bigint")
    one_shot = sorted(
        (r.key, r.h)
        for r in kmv_state_merge(empty, df, "key", "v", K).collect()
    )
    state = empty
    for lo, hi in ((0, 25), (25, 47), (47, 80)):
        chunk = spark.createDataFrame(
            rows[lo:hi], "event_id long, key string, v long"
        )
        state = kmv_state_merge(state, chunk, "key", "v", K).localCheckpoint()
    chunked = sorted((r.key, r.h) for r in state.collect())
    assert one_shot == chunked


def test_commit_marker_guard_is_config_independent(spark, tmp_path):
    """The completeness gate resolves the path through ITS Hadoop
    FileSystem (a schemeless path belongs to fs.defaultFS, not
    necessarily the driver's local disk) and trusts the ENGINE-OWNED
    commit marker first, with Hadoop's _SUCCESS as the fallback -- so a
    writer/reader skew on marksuccessfuljobs can neither raise on
    healthy state nor accept a partial directory."""
    base = str(tmp_path / "state")
    path = state_dir(base, 0)
    state = spark.createDataFrame([("a", 1)], "key string, h bigint")
    # a plain Hadoop-committed write: _SUCCESS only
    state.write.parquet(path)
    assert read_kmv_state(spark, base, 0).count() == 1
    # neither marker = a crashed overwrite, regardless of any committer
    # config: raise
    os.remove(os.path.join(path, "_SUCCESS"))
    with pytest.raises(FileNotFoundError, match="batch 0"):
        read_kmv_state(spark, base, 0)
    # the engine's own marker commits it, even where the writing
    # session's committer skipped _SUCCESS
    write_batch(spark, base, 0, state)
    os.remove(os.path.join(path, "_SUCCESS"))
    assert read_kmv_state(spark, base, 0).count() == 1


def test_writer_drops_engine_commit_marker(spark, tmp_path):
    """Every batch-log writer in the streaming package must leave the
    commit marker in each batch directory, so completeness never
    depends on the writing session's committer config."""
    from taxi_data_pipeline_pset2_spark.streaming.drift import (
        run_streaming_drift_monitor,
    )
    from taxi_data_pipeline_pset2_spark.streaming.events import (
        run_batchwise_to_parquet,
    )
    from taxi_data_pipeline_pset2_spark.streaming.incremental import (
        run_streaming_incremental_dedup,
    )
    from taxi_data_pipeline_pset2_spark.streaming.ksmonitor import (
        run_streaming_ks_monitor,
    )
    from taxi_data_pipeline_pset2_spark.streaming.meanshift import (
        run_streaming_meanshift_monitor,
    )
    from taxi_data_pipeline_pset2_spark.streaming.topk import run_streaming_topk

    src = str(tmp_path / "in")
    ref = spark.createDataFrame(
        [
            (i, f"src_{i % 3}", i % 5, float(i % 4),
             f"doc {i} about topic {i % 4} with some more words here")
            for i in range(12)
        ],
        "doc_id long, key string, v long, value double, text string",
    )
    ref.coalesce(1).write.parquet(src)
    index = str(tmp_path / "index")
    writers = {
        "kmv": lambda s, o, c: run_streaming_kmv(s, "key", "v", o, c, k=K),
        "topk": lambda s, o, c: run_streaming_topk(s, "key", o, c),
        "drift": lambda s, o, c: run_streaming_drift_monitor(s, ref, "key", o, c),
        "ks": lambda s, o, c: run_streaming_ks_monitor(s, ref, "value", o, c),
        "meanshift": lambda s, o, c: run_streaming_meanshift_monitor(
            s, ref, "value", o, c
        ),
        "events": run_batchwise_to_parquet,
        "survivors": lambda s, o, c: run_streaming_incremental_dedup(
            s, index, o, c
        ),
    }
    for name, run in writers.items():
        out = str(tmp_path / name)
        run(
            read_docs_stream(spark, src, max_files_per_trigger=10),
            out,
            str(tmp_path / f"ckpt_{name}"),
        )
        assert os.path.isfile(
            os.path.join(state_dir(out, 0), COMMIT_MARKER)
        ), name
