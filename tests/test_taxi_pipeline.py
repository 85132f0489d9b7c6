"""End-to-end medallion pipeline test: generate taxi-shaped fixtures,
run the DAG, assert the 32 dbt-equivalent quality tests pass, and replay
the reference's six golden analytics query shapes on the gold layer
(``data_analysis.ipynb`` / ``evidencias/*.csv``)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from taxi_data_pipeline_pset2_spark.plans.dag import taxi_pipeline
from taxi_data_pipeline_pset2_spark.quality import run_tests, taxi_test_suite
from taxi_data_pipeline_pset2_spark.sources.taxi_fixtures import (
    gen_green,
    gen_yellow,
    gen_zones,
)


@pytest.fixture(scope="module")
def medallion_run(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("warehouse"))
    yellow = gen_yellow(spark, 30_000)
    green = gen_green(spark, 6_000)
    zones = gen_zones(spark)
    pipe = taxi_pipeline(wh, yellow, green, zones)
    built, results = pipe.run(spark)
    assert all(r.status == "success" for r in results), results
    return built, results


@pytest.fixture(scope="module")
def medallion(medallion_run):
    return medallion_run[0]


def test_row_flow(medallion):
    stg_n = medallion["stg_trips_unified"].count()
    fct_n = medallion["fct_trips"].count()
    # quality filters drop dirty rows; range filter drops 2009 rows
    assert 30_000 < stg_n < 36_000
    assert 0 < fct_n <= stg_n
    assert medallion["dim_date"].count() == 4018
    assert medallion["dim_zone"].count() == 266  # 265 + Unknown member


def test_quality_suite_all_pass(medallion):
    results = run_tests(taxi_test_suite(medallion))
    assert len(results) == 32
    failures = [r for r in results if not r.passed]
    assert not failures, failures


def test_unknown_zone_member_catches_missing_ids(medallion):
    fct = medallion["fct_trips"]
    # fixture plants pulocationids 266-270 that are absent from zones ->
    # they must map to the Unknown member (zone_sk=0), never drop
    unknown = fct.filter(F.col("pickup_zone_sk") == 0).count()
    assert unknown > 0


def test_gold_layout_partitioned_by_service(medallion, spark):
    fct = medallion["fct_trips"]
    assert set(
        r.service_type for r in fct.select("service_type").distinct().collect()
    ) == {"yellow", "green"}


def test_golden_query_shapes(medallion, spark):
    """The six golden analytics queries (SURVEY.md section 5 item 3)."""
    fct = medallion["fct_trips"].alias("f")
    dz = medallion["dim_zone"]
    dd = medallion["dim_date"]

    # 1. demandaxzona: zone demand top-20 (ipynb:36-46)
    q1 = (
        fct.join(F.broadcast(dz), F.col("pickup_zone_sk") == dz.zone_sk)
        .filter(F.col("zone_name") != "Unknown")
        .groupBy("zone_name", "borough", F.year("pickup_date").alias("year"))
        .agg(F.count("*").alias("total_trips"))
        .orderBy(F.desc("total_trips"), "zone_name")
        .limit(20)
    )
    rows = q1.collect()
    assert len(rows) == 20 and rows[0].total_trips >= rows[-1].total_trips

    # 2. ingresos_propinas: revenue + tip% by borough x year (ipynb:113-124)
    q2 = (
        fct.join(F.broadcast(dz), F.col("pickup_zone_sk") == dz.zone_sk)
        .filter((F.col("tip_percentage") > 0) & (F.col("tip_percentage") < 100))
        .groupBy("borough", F.year("pickup_date").alias("year"))
        .agg(
            F.sum("total_amount").alias("total_revenue"),
            F.avg("tip_percentage").alias("avg_tip_pct"),
            F.count("*").alias("trips"),
        )
    )
    assert q2.count() > 0

    # 3. duracion_percentiles: p50/p90 duration per zone w/ HAVING (ipynb:251-263)
    q3 = (
        fct.filter((F.col("trip_duration_hours") > 0) & (F.col("trip_duration_hours") < 5))
        .join(F.broadcast(dz), F.col("pickup_zone_sk") == dz.zone_sk)
        .groupBy("zone_name")
        .agg(
            F.expr("percentile(trip_duration_hours, array(0.5D, 0.9D))").alias("p"),
            F.count("*").alias("n"),
        )
        .filter(F.col("n") > 50)
        .select("zone_name", F.col("p")[0].alias("p50"), F.col("p")[1].alias("p90"), "n")
    )
    r3 = q3.collect()
    assert r3 and all(row.p50 <= row.p90 for row in r3)

    # 4. elasticidad: year x hour grid (ipynb:348-355)
    q4 = (
        fct.groupBy(F.year("pickup_date").alias("year"), "pickup_hour")
        .agg(F.count("*").alias("trips"), F.avg("total_amount").alias("avg_amount"))
    )
    assert q4.select("pickup_hour").distinct().count() == 24

    # 5. velocidad_franja: borough x hour x daypart avg speed (evidencias)
    q5 = (
        fct.join(F.broadcast(dz), F.col("pickup_zone_sk") == dz.zone_sk)
        .withColumn(
            "franja",
            F.when(F.col("pickup_hour").between(6, 18), "Diurno").otherwise("Nocturno"),
        )
        .groupBy("borough", "pickup_hour", "franja")
        .agg(F.avg("avg_speed_mph").alias("avg_speed"), F.count("*").alias("n"))
    )
    assert q5.count() > 0

    # 6. matriz-cobertura: coverage matrix w/ MIN/MAX (evidencias)
    q6 = (
        fct.groupBy(
            F.year("pickup_date").alias("year"),
            F.month("pickup_date").alias("month"),
            "service_type",
        )
        .agg(
            F.count("*").alias("total_trips"),
            F.sum("trip_distance").alias("total_miles"),
            F.sum("total_amount").alias("total_revenue"),
            F.min("pickup_date").alias("first_trip"),
            F.max("pickup_date").alias("last_trip"),
        )
    )
    r6 = q6.collect()
    assert r6 and all(row.first_trip <= row.last_trip for row in r6)
    # green discontinued 2019-03: no green coverage after 2019
    assert not [r for r in r6 if r.service_type == "green" and r.year > 2019]


def test_fct_business_flags_reference_parity(spark):
    """Pin the fct_trips.sql:51-89 semantics the round-1 advisor flagged:
    base_charges includes coalesced congestion+airport fees, rush hour is
    6-10/16-20, and the quality flag catches total_amount<=0 and
    passenger_count<=0 (negative counts included)."""
    from datetime import datetime

    from taxi_data_pipeline_pset2_spark.plans.taxi_models import (
        dim_date,
        dim_zone,
        fct_trips,
    )
    from taxi_data_pipeline_pset2_spark.sources.taxi_fixtures import gen_zones

    def trip(hour, passenger_count=1, total=20.0, distance=2.0, congestion=2.5, airport=None):
        return (
            "yellow", 1,
            datetime(2024, 3, 1, hour, 15), datetime(2024, 3, 1, hour, 45),
            passenger_count, distance, 1, "N", 100, 101, 1,
            10.0, 1.0, 0.5, 2.0, 0.0, 0.3, total, congestion, airport, None,
        )

    schema = (
        "service_type string, vendorid int, pickup_datetime timestamp_ntz, "
        "dropoff_datetime timestamp_ntz, passenger_count int, trip_distance double, "
        "ratecodeid int, store_and_fwd_flag string, pulocationid int, dolocationid int, "
        "payment_type int, fare_amount double, extra double, mta_tax double, "
        "tip_amount double, tolls_amount double, improvement_surcharge double, "
        "total_amount double, congestion_surcharge double, airport_fee double, "
        "ehail_fee double"
    )
    stg = spark.createDataFrame(
        [
            trip(6),               # rush-hour lower edge (reference 6-10)
            trip(10),              # rush-hour upper edge
            trip(12),              # midday: not rush
            trip(20),              # evening rush upper edge (reference 16-20)
            trip(23),              # night trip
            trip(9, passenger_count=-1),  # negative count -> quality issue
            trip(9, total=0.0),           # non-positive total -> quality issue
            trip(9, congestion=None, airport=1.25),  # null congestion coalesced
        ],
        schema=schema,
    )
    fct = fct_trips(stg, dim_date(spark), dim_zone(gen_zones(spark))).collect()
    by_hour = {}
    for r in fct:
        by_hour.setdefault(r.pickup_hour, []).append(r)

    assert by_hour[6][0].is_rush_hour and by_hour[10][0].is_rush_hour
    assert not by_hour[12][0].is_rush_hour
    assert by_hour[20][0].is_rush_hour
    assert by_hour[23][0].is_night_trip and not by_hour[23][0].is_rush_hour
    flagged = [r for r in fct if r.has_data_quality_issues]
    assert {(r.passenger_count, r.total_amount) for r in flagged} == {(-1, 20.0), (1, 0.0)}
    # base: 10 + 1 + 0.5 + 0.3 = 11.8; +2.5 congestion when present, +1.25 airport row
    assert by_hour[12][0].base_charges == pytest.approx(14.3)
    null_cong = [r for r in fct if r.airport_fee is not None][0]
    assert null_cong.base_charges == pytest.approx(11.8 + 1.25)


def test_fct_derived_metrics_sane(medallion):
    fct = medallion["fct_trips"]
    bad_speed = fct.filter(
        (F.col("trip_duration_hours") <= 0) & (F.col("avg_speed_mph") != 0)
    ).count()
    assert bad_speed == 0  # guarded division never divides by zero
    assert fct.filter(F.col("tip_percentage") < 0).count() == 0


def test_dag_results_in_topological_order_and_dims_overlap(medallion_run):
    """Results come back in topological order, and independent dims
    build concurrently (dbt's threaded execution, reference
    profiles.yml:12,24): at least one pair of dim builds overlapped."""
    _, results = medallion_run
    assert [r.name for r in results] == [
        "stg_trips_unified", "dim_date", "dim_zone", "dim_payment_type",
        "dim_rate_code", "fct_trips",
    ]
    spans = {
        r.name: (r.started_at, r.finished_at)
        for r in results
        if r.name.startswith("dim_")
    }
    names = list(spans)
    overlap = any(
        spans[a][0] < spans[b][1] and spans[b][0] < spans[a][1]
        for i, a in enumerate(names)
        for b in names[i + 1:]
    )
    assert overlap, f"no dim builds overlapped: {spans}"


def test_node_rows_observed_on_write_match_tables(medallion_run):
    """NodeResult.rows comes from an observation on the node's write;
    it must equal a count of the table that write left behind."""
    built, results = medallion_run
    for r in results:
        assert r.rows == built[r.name].count(), r.name


def test_zero_row_node_reports_zero_rows(spark, tmp_path):
    from taxi_data_pipeline_pset2_spark.plans.dag import Node, Pipeline

    built, results = (
        Pipeline(str(tmp_path))
        .add(Node("filtered", lambda spark: spark.range(10).filter("id < 0")))
        .add(Node("local", lambda spark: spark.createDataFrame([], "a int")))
        .run(spark)
    )
    assert [(r.status, r.rows) for r in results] == [("success", 0)] * 2
    assert all(built[r.name].count() == 0 for r in results)


def test_failed_node_stops_dependents_and_reraises(spark, tmp_path):
    """A node failing at execution time reports failed with rows None
    (its observation would read 0), its dependent is never submitted,
    the in-flight independent node drains, and the write's own exception
    type is re-raised."""
    from pyspark.errors import SparkRuntimeException

    from taxi_data_pipeline_pset2_spark.plans.dag import Node, Pipeline

    called = []

    def dependent(spark, bad):
        called.append("dependent")
        return bad

    pipe = (
        Pipeline(str(tmp_path))
        .add(Node("bad", lambda spark: spark.range(3).select(
            F.raise_error(F.lit("planted")).alias("x"))))
        .add(Node("dependent", dependent, deps=("bad",)))
        .add(Node("independent", lambda spark: spark.range(5)))
    )
    with pytest.raises(SparkRuntimeException, match="planted") as info:
        pipe.run(spark)
    by_name = {r.name: r for r in info.value.node_results}
    assert set(by_name) == {"bad", "independent"}
    assert by_name["bad"].status == "failed" and by_name["bad"].rows is None
    assert "planted" in by_name["bad"].error
    assert (by_name["independent"].status, by_name["independent"].rows) == ("success", 5)
    assert not called


def test_concurrent_nodes_keep_callers_job_group(spark, tmp_path):
    """Spark local properties do not follow pool workers on their own:
    both concurrently built nodes' jobs must land in the caller's job
    group, and none outside it."""
    from taxi_data_pipeline_pset2_spark.plans.dag import Node, Pipeline

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("dag-test", "two-node pipeline")
    try:
        _, results = (
            Pipeline(str(tmp_path))
            .add(Node("a", lambda spark: spark.range(5)))
            .add(Node("b", lambda spark: spark.range(7)))
            .run(spark)
        )
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    (a0, a1), (b0, b1) = [(r.started_at, r.finished_at) for r in results]
    assert a0 < b1 and b0 < a1, "nodes did not run concurrently"
    assert len(tracker.getJobIdsForGroup("dag-test")) >= len(results)
    assert set(tracker.getJobIdsForGroup(None)) == ungrouped


def test_extended_expectations(spark):
    """dbt-utils-style expectations beyond the reference's four ops:
    accepted_range, freshness (deterministic via a pinned now),
    monotonic_by."""
    import pytest
    from pyspark.sql import functions as F

    from taxi_data_pipeline_pset2_spark.quality import (
        accepted_range,
        freshness,
        monotonic_by,
    )

    df = spark.createDataFrame(
        [(1, 0.5, "2024-01-01 00:00:00"), (2, 1.5, "2024-01-03 00:00:00"),
         (3, None, "2024-01-04 00:00:00")],
        "id int, v double, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    assert accepted_range(df, "v", 0.0, 1.0).count() == 1  # 1.5; NULL passes
    assert accepted_range(df, "v", 0.5, inclusive=False).count() == 1  # 0.5 excluded
    with pytest.raises(ValueError):
        accepted_range(df, "v")

    assert freshness(df, "ts", "2 days", now="2024-01-05 00:00:00").count() == 0
    stale = freshness(df, "ts", "2 days", now="2024-01-09 00:00:00").collect()
    assert len(stale) == 1 and stale[0]["newest_record"].startswith("2024-01-04")
    # empty table is stale by definition (no newest record)
    empty = spark.createDataFrame([], "ts timestamp")
    assert freshness(empty, "ts", "1 days", now="2024-01-01 00:00:00").count() == 1

    mono = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 12), ("a", 3, 11), ("b", 1, 5), ("b", 2, 5)],
        "g string, t int, v int",
    )
    bad = monotonic_by(mono, "t", "v", ["g"]).collect()
    assert len(bad) == 1 and bad[0]["g"] == "a" and bad[0]["at"] == "3"


def test_expect_implication_three_valued(spark):
    """if shipped then ship_ts set: false/NULL antecedents pass, a NULL
    consequent under a true antecedent violates."""
    from taxi_data_pipeline_pset2_spark.quality import expect_implication

    rows = [
        ("shipped", "2024-01-01"),   # ok
        ("shipped", None),           # VIOLATION: applicable, unmet
        ("open", None),              # antecedent false -> pass
        (None, None),                # antecedent NULL -> pass
    ]
    df = spark.createDataFrame(rows, "status string, ship_ts string")
    bad = expect_implication(
        df, "status = 'shipped'", "ship_ts IS NOT NULL"
    ).collect()
    assert len(bad) == 1 and bad[0].status == "shipped"


def test_expect_implication_numeric_rule(spark):
    from taxi_data_pipeline_pset2_spark.quality import expect_implication

    df = spark.createDataFrame(
        [(10.0, 1.0), (0.0, 2.0), (5.0, 0.0), (None, 3.0)],
        "price double, discount double",
    )
    # if discount > 0 then price > 0: violated by (0, 2) and (NULL, 3)
    assert expect_implication(df, "discount > 0", "price > 0").count() == 2


def test_duplicate_node_name_rejected():
    """_topo_order's by_name dict keeps only the last same-named node,
    so a shadowed duplicate would silently never run (and both writes
    would target the same warehouse path) -- add() must reject it."""
    import pytest as _pytest

    from taxi_data_pipeline_pset2_spark.plans.dag import Node, Pipeline

    p = Pipeline(warehouse_dir="/tmp/unused")
    p.add(Node("dim_zone", lambda spark: None))
    with _pytest.raises(ValueError, match="duplicate node name"):
        p.add(Node("dim_zone", lambda spark: None))


def test_unique_and_accepted_values_follow_dbt_null_semantics(spark):
    """r11: dbt's compiled tests exclude NULLs -- `unique` filters
    `where col is not null`, and `col NOT IN (...)` is NULL (unselected)
    for NULL -- missing keys are not_null's ONE concern. Duplicate
    NULLs and NULL category values must therefore pass here."""
    from pyspark.sql import functions as F

    from taxi_data_pipeline_pset2_spark.quality import (
        accepted_values,
        not_null,
        unique,
    )

    df = spark.createDataFrame(
        [(1, "yellow"), (1, "green"), (None, None), (None, None), (2, "teal")],
        "k long, v string",
    )
    dups = unique(df, "k").collect()
    assert {r.duplicate_key for r in dups} == {"1"}  # NULL pair not flagged
    bad = accepted_values(df, "v", ["yellow", "green"]).collect()
    assert {r.unexpected_value for r in bad} == {"teal"}  # NULLs pass
    # NULLs remain not_null's concern
    assert not_null(df, "k").count() == 2


def test_dag_cycle_and_unknown_dep_rejected():
    """The _topo_order contract's two failure modes, previously
    implemented but unpinned (definition-level audit, r12): a
    dependency cycle (incl. self-dependency) and a dep naming no
    registered node must both raise before any node runs."""
    import pytest as _pytest

    from taxi_data_pipeline_pset2_spark.plans.dag import Node, Pipeline

    selfdep = Pipeline(warehouse_dir="/tmp/unused")
    selfdep.add(Node("a", lambda spark: None, deps=("a",)))
    with _pytest.raises(ValueError, match="cycle at"):
        selfdep._topo_order()

    two = Pipeline(warehouse_dir="/tmp/unused")
    two.add(Node("a", lambda spark, **kw: None, deps=("b",)))
    two.add(Node("b", lambda spark, **kw: None, deps=("a",)))
    with _pytest.raises(ValueError, match="cycle at"):
        two._topo_order()

    missing = Pipeline(warehouse_dir="/tmp/unused")
    missing.add(Node("a", lambda spark, **kw: None, deps=("ghost",)))
    with _pytest.raises(ValueError, match="unknown node"):
        missing._topo_order()
