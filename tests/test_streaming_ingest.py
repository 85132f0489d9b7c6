"""Streaming ingest into the versioned table: one append version per
micro-batch, exactly-once under replay, time travel across batch
boundaries."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from taxi_data_pipeline_pset2_spark.sources.versioned import (
    committed_tags,
    list_versions,
    read_version,
    versioned_write,
)
from taxi_data_pipeline_pset2_spark.streaming.incremental import read_docs_stream
from taxi_data_pipeline_pset2_spark.streaming.ingest import (
    read_latest,
    run_streaming_versioned_ingest,
)


def _batches():
    return [[(1, "a"), (2, "b")], [(3, "c")], [(4, "d"), (5, "e")]]


def _write_units(spark, base):
    flat = os.path.join(base, "flat")
    os.makedirs(flat)
    t0 = time.time() - 100
    n = 0
    for i, rows in enumerate(_batches()):
        unit = os.path.join(base, f"unit{i}")
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(unit)
        for f in sorted(os.listdir(unit)):
            if f.endswith(".parquet"):
                dst = os.path.join(flat, f"part-{i:03d}.parquet")
                os.rename(os.path.join(unit, f), dst)
                os.utime(dst, (t0 + n, t0 + n))
                n += 1
    return flat


def test_each_batch_commits_one_version_with_time_travel(spark, tmp_path):
    flat = _write_units(spark, str(tmp_path / "docs"))
    tbl = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")

    stream = read_docs_stream(spark, flat, max_files_per_trigger=1)
    run_streaming_versioned_ingest(stream, tbl, ckpt)

    assert list_versions(tbl) == [0, 1, 2]
    tags = committed_tags(tbl)
    assert sorted(tags.values()) == [0, 1, 2]
    for tag, v in tags.items():  # tag = batch-<id>-<checksum>, id == version here
        assert tag.startswith(f"batch-{v}-")
    # time travel: each version holds the batches up to its boundary
    assert {r.doc_id for r in read_version(spark, tbl, 0).collect()} == {1, 2}
    assert {r.doc_id for r in read_version(spark, tbl, 1).collect()} == {1, 2, 3}
    assert {r.doc_id for r in read_latest(spark, tbl).collect()} == {1, 2, 3, 4, 5}


def test_replayed_batch_tag_is_a_no_op(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    b0 = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    v0 = versioned_write(b0, tbl, mode="append", tag="batch-0")
    # at-least-once delivery: the same batch id commits again
    v0b = versioned_write(b0, tbl, mode="append", tag="batch-0")
    assert v0 == v0b == 0
    assert list_versions(tbl) == [0]
    assert read_version(spark, tbl).count() == 1  # no double-append
    # a NEW tag still commits
    b1 = spark.createDataFrame([(2, "b")], "doc_id long, text string")
    assert versioned_write(b1, tbl, mode="append", tag="batch-1") == 1
    assert read_version(spark, tbl).count() == 2
    # untagged commits are never deduplicated
    assert versioned_write(b1, tbl, mode="append") == 2
    assert versioned_write(b1, tbl, mode="append") == 3


def test_restarted_query_skips_committed_batches(spark, tmp_path):
    """Simulate a crash AFTER the versioned commit but BEFORE the
    checkpoint advanced: on restart foreachBatch re-delivers the batch
    with the same id, and the tagged commit must swallow it."""
    flat = _write_units(spark, str(tmp_path / "docs"))
    tbl = str(tmp_path / "tbl")

    # first run with checkpoint A ingests everything
    stream = read_docs_stream(spark, flat, max_files_per_trigger=1)
    run_streaming_versioned_ingest(stream, tbl, str(tmp_path / "ckptA"))
    # "restart" with a FRESH checkpoint: every batch re-delivers with
    # the same ids (the worst-case total replay)
    stream2 = read_docs_stream(spark, flat, max_files_per_trigger=1)
    run_streaming_versioned_ingest(stream2, tbl, str(tmp_path / "ckptB"))

    assert list_versions(tbl) == [0, 1, 2]  # no extra versions
    counts = (
        read_latest(spark, tbl)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    assert counts == 0  # and no duplicated rows


def test_recomposed_batch_is_appended_not_dropped(spark, tmp_path):
    """The content checksum in the tag: a DIFFERENT batch arriving under
    an already-seen batch id (fresh checkpoint, new files changed the
    grouping) must append -- only byte-identical redeliveries no-op."""
    from taxi_data_pipeline_pset2_spark.streaming.ingest import _batch_checksum

    tbl = str(tmp_path / "tbl")
    b_old = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    b_new = spark.createDataFrame(
        [(1, "a"), (99, "late arrival")], "doc_id long, text string"
    )
    t_old = f"batch-0-{_batch_checksum(b_old)}"
    t_new = f"batch-0-{_batch_checksum(b_new)}"
    assert t_old != t_new
    versioned_write(b_old, tbl, mode="append", tag=t_old)
    # identical redelivery: no-op
    assert versioned_write(b_old, tbl, mode="append", tag=t_old) == 0
    assert list_versions(tbl) == [0]
    # recomposed batch under the same id: appended
    assert versioned_write(b_new, tbl, mode="append", tag=t_new) == 1
    assert {r.doc_id for r in read_latest(spark, tbl).collect()} == {1, 99}
