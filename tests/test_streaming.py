"""Streaming tests: windowed aggregation equals its batch twin,
foreachBatch sink idempotency layout, stateful sessionization."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from taxi_data_pipeline_pset2_spark.queries.pipeline_ops import events_hourly
from taxi_data_pipeline_pset2_spark.sources.readers import load_table
from taxi_data_pipeline_pset2_spark.streaming.events import (
    dedup_stream,
    enrich_with_dim,
    hourly_event_counts,
    read_events_stream,
    run_batchwise_to_parquet,
    run_complete_to_memory,
    sessionize,
)


@pytest.fixture()
def events_dir(spark, sf_smoke_dir, tmp_path):
    """Stage the events parquet as a stream-source directory split into
    several files, so maxFilesPerTrigger drives multiple micro-batches."""
    src = str(tmp_path / "events_in")
    load_table(spark, sf_smoke_dir, "events").repartition(4).select(
        "event_id",
        F.unix_micros("ts").alias("_us"),
        "user_id",
        "event_type",
        "value",
        "props",
    ).withColumn("ts", F.expr("_us * 1000")).drop("_us").write.parquet(src)
    return src


def test_streaming_matches_batch_twin(spark, sf_smoke_dir, events_dir):
    stream = read_events_stream(spark, events_dir)
    agg = hourly_event_counts(stream)
    got = run_complete_to_memory(agg, spark, "hourly_counts_test")
    batch = events_hourly(spark, sf_smoke_dir)
    g = {(r.window_start, r.event_type): (r.n_events, r.sum_value) for r in got.collect()}
    b = {(r.window_start, r.event_type): (r.n_events, r.sum_value) for r in batch.collect()}
    assert g == b


def test_foreachbatch_sink_idempotent_layout(spark, events_dir, tmp_path):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream = read_events_stream(spark, events_dir)
    run_batchwise_to_parquet(hourly_event_counts(stream), out, ckpt)
    batches = [d for d in os.listdir(out) if d.startswith("batch_id=")]
    assert len(batches) >= 2  # maxFilesPerTrigger=1 over 4 files
    total = spark.read.option("basePath", out).parquet(*[os.path.join(out, b) for b in batches])
    assert total.count() > 0
    # restart from scratch with the same checkpoint dir: no reprocessing
    run_batchwise_to_parquet(
        hourly_event_counts(read_events_stream(spark, events_dir)), out, ckpt
    )
    assert sorted(os.listdir(out)) == sorted(
        batches + [d for d in os.listdir(out) if d not in batches]
    )


def test_sessionize_stateful(spark, events_dir, tmp_path):
    stream = read_events_stream(spark, events_dir)
    sessions = sessionize(stream, gap_minutes=60)
    ckpt = str(tmp_path / "sess_ckpt")
    (
        sessions.writeStream.format("memory")
        .queryName("sessions_test")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got = spark.table("sessions_test").collect()
    # sessions close when a later event exceeds the gap in-batch or when the
    # watermark passes session_end + gap (event-time timeout); the final open
    # sessions stay in state. Data spans weeks, so some sessions must close.
    assert len(got) > 0
    for r in got:
        assert r.session_start <= r.session_end
        assert r.n_events >= 1


def test_stream_static_join_matches_batch(spark, sf_smoke_dir, events_dir, tmp_path):
    dim = (
        load_table(spark, sf_smoke_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("user_total"))
    )
    stream = read_events_stream(spark, events_dir)
    enriched = enrich_with_dim(stream, dim, "user_id").groupBy("event_type").agg(
        F.sum("user_total").alias("s")
    )
    got = {
        (r.event_type, r.s)
        for r in run_complete_to_memory(enriched, spark, "enrich_test").collect()
    }
    batch = load_table(spark, sf_smoke_dir, "events").join(dim, "user_id", "left")
    want = {
        (r.event_type, r.s)
        for r in batch.groupBy("event_type").agg(F.sum("user_total").alias("s")).collect()
    }
    assert got == want


def test_dedup_stream_removes_replayed_batch(spark, sf_smoke_dir, tmp_path):
    # stage the same rows TWICE (two files) -- an at-least-once replay
    src = str(tmp_path / "dup_in")
    base = (
        load_table(spark, sf_smoke_dir, "events")
        .limit(300)
        .select(
            "event_id",
            F.unix_micros("ts").alias("_us"),
            "user_id",
            "event_type",
            "value",
        )
        .withColumn("ts", F.expr("_us * 1000"))
        .drop("_us")
    )
    base.coalesce(1).write.parquet(src)
    base.coalesce(1).write.mode("append").parquet(src)
    raw = (
        spark.readStream.schema("event_id long, user_id long, event_type string, value double, ts long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    stream = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    deduped = dedup_stream(stream, ["event_id"])
    ckpt = str(tmp_path / "dd_ckpt")
    (
        deduped.writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    out = spark.table("dedup_test").collect()
    assert len(out) == 300  # replay collapsed
    assert len({r.event_id for r in out}) == 300


def test_stream_stream_interval_join_matches_batch(spark, sf_smoke_dir, tmp_path):
    from taxi_data_pipeline_pset2_spark.streaming.events import interval_join_streams

    src = str(tmp_path / "ssj_in")
    load_table(spark, sf_smoke_dir, "events").coalesce(1).select(
        "event_id",
        F.unix_micros("ts").alias("_us"),
        "user_id",
        "event_type",
        "value",
    ).withColumn("ts", F.expr("_us * 1000")).drop("_us").write.parquet(src)
    schema = "event_id long, user_id long, event_type string, value double, ts long"

    def stream():
        raw = spark.readStream.schema(schema).parquet(src)
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))

    clicks = stream().filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = stream().filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_event_id"), "user_id", "ts"
    )
    joined = interval_join_streams(clicks, purchases, on="user_id").select(
        F.col("l.event_id").alias("click_id"), F.col("r.p_event_id").alias("purchase_id")
    )
    ckpt = str(tmp_path / "ssj_ckpt")
    (
        joined.writeStream.format("memory")
        .queryName("ssj_test")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got = {(r.click_id, r.purchase_id) for r in spark.table("ssj_test").collect()}

    ev = load_table(spark, sf_smoke_dir, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), F.col("user_id").alias("pu"), F.col("ts").alias("pts")
    )
    want = {
        (r.click_id, r.purchase_id)
        for r in c.join(
            p,
            (F.col("cu") == F.col("pu"))
            & (F.col("pts") > F.col("cts") - F.expr("INTERVAL 60 MINUTES"))
            & (F.col("pts") <= F.col("cts")),
        ).collect()
    }
    assert got == want
    assert len(got) > 0


def test_batchwise_read_contract_equals_batch_twin(
    spark, sf_smoke_dir, tmp_path
):
    """The exactly-once claim, closed end-to-end: drain the update-mode
    foreachBatch sink, read it back through read_batchwise_result
    (last-writer-wins per window), and require exact equality with the
    batch twin -- then replay with the same checkpoint and require the
    read-side result to be unchanged.

    The source is staged in TIME ORDER (4 range slices, written
    sequentially so file modification times make the file stream deliver
    them oldest-first): with an out-of-order source a 1-hour watermark
    would correctly drop whole batches as late, which tests the
    watermark, not the sink."""
    import time as _time

    from pyspark.sql.window import Window

    from taxi_data_pipeline_pset2_spark.streaming.events import read_batchwise_result

    src = str(tmp_path / "rc_in")
    ev = (
        load_table(spark, sf_smoke_dir, "events")
        .select(
            "event_id",
            F.unix_micros("ts").alias("_us"),
            "user_id",
            "event_type",
            "value",
            "props",
        )
        .withColumn("ts", F.expr("_us * 1000"))
        .drop("_us")
        .withColumn("_slice", F.ntile(4).over(Window.orderBy("ts")))
    )
    for i in range(1, 5):
        ev.filter(F.col("_slice") == i).drop("_slice").coalesce(1).write.mode(
            "append"
        ).parquet(src)
        _time.sleep(1.1)  # distinct mtimes -> deterministic file order

    out = str(tmp_path / "rc_out")
    ckpt = str(tmp_path / "rc_ckpt")
    run_batchwise_to_parquet(
        hourly_event_counts(read_events_stream(spark, src)), out, ckpt
    )
    keys = ["window_start", "event_type"]
    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in read_batchwise_result(spark, out, keys).collect()
    }
    batch = events_hourly(spark, sf_smoke_dir)
    want = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in batch.collect()
    }
    assert got == want
    # replay (same checkpoint): nothing reprocessed, read side unchanged
    run_batchwise_to_parquet(
        hourly_event_counts(read_events_stream(spark, src)), out, ckpt
    )
    got2 = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in read_batchwise_result(spark, out, keys).collect()
    }
    assert got2 == want


def test_sliding_window_matches_batch_twin(spark, sf_smoke_dir, events_dir):
    from taxi_data_pipeline_pset2_spark.streaming.events import sliding_event_counts

    stream = read_events_stream(spark, events_dir)
    got_df = run_complete_to_memory(
        sliding_event_counts(stream), spark, "sliding_counts_test"
    )
    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in got_df.collect()
    }
    ev = load_table(spark, sf_smoke_dir, "events")
    batch = (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )
    want = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in batch.collect()
    }
    assert got == want
    # every event appears in exactly window/slide = 2 windows
    assert sum(v[0] for v in got.values()) == 2 * ev.count()


def test_stream_stream_left_outer_interval_join(spark, sf_smoke_dir, tmp_path):
    from taxi_data_pipeline_pset2_spark.streaming.events import (
        interval_join_streams_outer,
    )

    src = str(tmp_path / "ssoj_in")
    load_table(spark, sf_smoke_dir, "events").coalesce(1).select(
        "event_id",
        F.unix_micros("ts").alias("_us"),
        "user_id",
        "event_type",
        "value",
    ).withColumn("ts", F.expr("_us * 1000")).drop("_us").write.parquet(src)
    schema = "event_id long, user_id long, event_type string, value double, ts long"

    def stream():
        raw = spark.readStream.schema(schema).parquet(src)
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))

    clicks = stream().filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = stream().filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_event_id"), "user_id", "ts"
    )
    joined = interval_join_streams_outer(clicks, purchases, on="user_id").select(
        F.col("l.event_id").alias("click_id"),
        F.col("r.p_event_id").alias("purchase_id"),
    )
    ckpt = str(tmp_path / "ssoj_ckpt")
    (
        joined.writeStream.format("memory")
        .queryName("ssoj_test")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    rows = spark.table("ssoj_test").collect()
    got_matched = {(r.click_id, r.purchase_id) for r in rows if r.purchase_id is not None}
    got_null = {r.click_id for r in rows if r.purchase_id is None}

    # matched rows must equal the batch inner interval join
    ev = load_table(spark, sf_smoke_dir, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("cu"),
        F.col("ts").alias("cts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("pu"),
        F.col("ts").alias("pts"),
    )
    batch = c.join(
        p,
        (F.col("cu") == F.col("pu"))
        & (F.col("pts") > F.col("cts") - F.expr("INTERVAL 60 MINUTES"))
        & (F.col("pts") <= F.col("cts")),
    )
    want_matched = {(r.click_id, r.purchase_id) for r in batch.collect()}
    assert got_matched == want_matched

    # null-padded rows: genuinely matchless clicks only, never overlapping
    # with a matched click
    matchless = {r.click_id for r in c.join(batch.select("click_id"), "click_id", "left_anti").collect()}
    assert got_null <= matchless
    assert not (got_null & {m[0] for m in want_matched})
    # the watermark must have released at least some outer results
    assert got_null, "expected null-padded outer rows for matchless clicks"
