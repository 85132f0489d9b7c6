"""Streaming incremental dedup: stream-vs-batch equivalence over the
same ingest units, index growth by O(batch) appends, and replay
idempotence of the per-batch index append."""

from __future__ import annotations

import os
import time

from taxi_data_pipeline_pset2_spark.operators.dedup import (
    minhash_band_signatures,
)
from taxi_data_pipeline_pset2_spark.operators.incremental import incremental_dedup
from taxi_data_pipeline_pset2_spark.streaming.incremental import (
    load_index,
    read_docs_stream,
    run_streaming_incremental_dedup,
)
from taxi_data_pipeline_pset2_spark.streaming.state import read_batches

_BASE = (
    "the quick brown fox jumps over the lazy dog while the rain keeps "
    "falling on the quiet grey town and the trains run slowly past the "
    "old station where nobody waits anymore tonight"
)


def _batches():
    near = _BASE.replace("quiet grey town", "quiet cold town")
    return [
        [(1, _BASE), (2, near)],          # within-batch near-dups -> one survivor
        [(3, _BASE + " extra trailing tokens here")],  # corpus near-dup -> dropped
        [(4, "completely unrelated content about spark shuffles and "
              "partition pruning strategies for columnar scans at scale "
              "with adaptive execution and broadcast joins everywhere")],
    ]


def _write_units(spark, docs_dir):
    for i, rows in enumerate(_batches()):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        df.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(docs_dir, f"unit{i}")
        )
    # one flat dir of files with strictly increasing mtimes so the file
    # source ingests them in ingest order
    flat = os.path.join(docs_dir, "flat")
    os.makedirs(flat)
    t0 = time.time() - 100
    n = 0
    for i in range(len(_batches())):
        unit = os.path.join(docs_dir, f"unit{i}")
        for f in sorted(os.listdir(unit)):
            if f.endswith(".parquet"):
                dst = os.path.join(flat, f"part-{i:03d}.parquet")
                os.rename(os.path.join(unit, f), dst)
                os.utime(dst, (t0 + n, t0 + n))
                n += 1
    return flat


def test_stream_matches_sequential_batches(spark, tmp_path):
    docs_dir = str(tmp_path / "docs")
    flat = _write_units(spark, docs_dir)
    index_dir = str(tmp_path / "index")
    surv_dir = str(tmp_path / "survivors")
    ckpt = str(tmp_path / "ckpt")

    stream = read_docs_stream(spark, flat, max_files_per_trigger=1)
    run_streaming_incremental_dedup(stream, index_dir, surv_dir, ckpt)

    got = {
        r.doc_id for r in read_batches(spark, surv_dir).collect()
    }

    # sequential batch-mode reference over the same units
    index = spark.createDataFrame([], "doc_id long, band int, band_sig long")
    want = set()
    for rows in _batches():
        batch = spark.createDataFrame(rows, "doc_id long, text string")
        res = incremental_dedup(batch, index)
        want |= {r.doc_id for r in res.survivors.collect()}
        index = res.index.localCheckpoint(eager=True)
    assert got == want
    assert 1 in got or 2 in got  # one within-batch survivor
    assert 3 not in got          # corpus near-dup dropped
    assert 4 in got              # unique doc survives

    # the persisted index holds exactly the survivors' signatures
    idx_ids = {r.doc_id for r in load_index(spark, index_dir).select("doc_id").distinct().collect()}
    assert idx_ids == got


def test_index_append_is_replay_idempotent(spark, tmp_path):
    """Re-running a batch's index append must not duplicate rows (the
    at-least-once foreachBatch contract)."""
    index_dir = str(tmp_path / "index")
    batch = spark.createDataFrame([(7, _BASE)], "doc_id long, text string")
    sigs = minhash_band_signatures(batch)
    sigs.write.mode("append").parquet(index_dir)
    before = load_index(spark, index_dir).count()
    # replay: the wrapper's anti-join guard
    again = sigs.join(
        load_index(spark, index_dir).select("doc_id").distinct(),
        "doc_id",
        "left_anti",
    )
    again.write.mode("append").parquet(index_dir)
    assert load_index(spark, index_dir).count() == before


def test_non_default_id_col_round_trips(spark, tmp_path):
    """The index schema must follow id_col -- with a hardcoded doc_id
    schema a 'uid' corpus read back as all-NULL and the anti-join guard
    broke."""
    docs = str(tmp_path / "docs")
    rows = [(10, _BASE), (11, "some entirely different short text about "
                              "benchmark decontamination and token packing "
                              "for large corpus curation pipelines")]
    spark.createDataFrame(rows, "uid long, text string").coalesce(1).write.parquet(docs)

    index_dir = str(tmp_path / "index")
    surv_dir = str(tmp_path / "survivors")
    stream = read_docs_stream(spark, docs, max_files_per_trigger=1)
    run_streaming_incremental_dedup(
        stream, index_dir, surv_dir, str(tmp_path / "ckpt"), id_col="uid"
    )
    surv = {r.uid for r in read_batches(spark, surv_dir).collect()}
    assert surv == {10, 11}
    idx = load_index(spark, index_dir, id_col="uid")
    assert idx.columns[0] == "uid"
    assert {r.uid for r in idx.select("uid").distinct().collect()} == {10, 11}
