"""The reference's read queries on gold, each with a DuckDB twin.

Six are the golden analytics shapes of ``tests/test_taxi_pipeline.py::
test_golden_query_shapes`` (the reference notebook's queries); the
seventh is BASELINE.md's clustered 2020 monthly aggregate. Ordered
queries break ties on every group column, so a ``LIMIT`` picks the same
rows in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Spark builders: fn(fct, dim_zone) -> DataFrame


def _zone_join(fct: DataFrame, dz: DataFrame) -> DataFrame:
    return fct.join(F.broadcast(dz), F.col("pickup_zone_sk") == dz.zone_sk)


def _zone_demand(fct, dz):
    return (
        _zone_join(fct, dz)
        .filter(F.col("zone_name") != "Unknown")
        .groupBy("zone_name", "borough", F.year("pickup_date").alias("year"))
        .agg(F.count("*").alias("total_trips"))
        .orderBy(F.desc("total_trips"), "zone_name", "borough", "year")
        .limit(20)
    )


def _revenue_tips(fct, dz):
    return (
        _zone_join(fct, dz)
        .filter((F.col("tip_percentage") > 0) & (F.col("tip_percentage") < 100))
        .groupBy("borough", F.year("pickup_date").alias("year"))
        .agg(
            F.sum("total_amount").alias("total_revenue"),
            F.avg("tip_percentage").alias("avg_tip_pct"),
            F.count("*").alias("trips"),
        )
    )


def _duration_percentiles(fct, dz):
    return (
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


def _hour_elasticity(fct, dz):
    return fct.groupBy(F.year("pickup_date").alias("year"), "pickup_hour").agg(
        F.count("*").alias("trips"), F.avg("total_amount").alias("avg_amount")
    )


def _speed_by_daypart(fct, dz):
    return (
        _zone_join(fct, dz)
        .withColumn(
            "franja",
            F.when(F.col("pickup_hour").between(6, 18), "Diurno").otherwise("Nocturno"),
        )
        .groupBy("borough", "pickup_hour", "franja")
        .agg(F.avg("avg_speed_mph").alias("avg_speed"), F.count("*").alias("n"))
    )


def _coverage_matrix(fct, dz):
    return fct.groupBy(
        F.year("pickup_date").alias("year"),
        F.month("pickup_date").alias("month"),
        "service_type",
    ).agg(
        F.count("*").alias("total_trips"),
        F.sum("trip_distance").alias("total_miles"),
        F.sum("total_amount").alias("total_revenue"),
        F.min("pickup_date").alias("first_trip"),
        F.max("pickup_date").alias("last_trip"),
    )


def _monthly_2020(fct, dz):
    return (
        fct.filter(F.col("pickup_date").between(F.lit("2020-01-01"), F.lit("2020-12-31")))
        .groupBy("service_type", F.trunc("pickup_date", "month").alias("month"))
        .agg(
            F.count("*").alias("trips"),
            F.avg("trip_distance").alias("avg_distance"),
            F.avg("total_amount").alias("avg_total"),
        )
        .orderBy("month", "service_type")
    )


_ZJ = "FROM fct f JOIN dim_zone z ON f.pickup_zone_sk = z.zone_sk"

# name -> (Spark builder, DuckDB twin over views `fct` and `dim_zone`)
QUERIES = {
    "zone_demand": (
        _zone_demand,
        f"""SELECT z.zone_name, z.borough, year(f.pickup_date) AS year,
                   count(*) AS total_trips {_ZJ}
            WHERE z.zone_name <> 'Unknown' GROUP BY ALL
            ORDER BY total_trips DESC, zone_name, borough, year LIMIT 20""",
    ),
    "revenue_tips": (
        _revenue_tips,
        f"""SELECT z.borough, year(f.pickup_date) AS year,
                   sum(f.total_amount) AS total_revenue,
                   avg(f.tip_percentage) AS avg_tip_pct, count(*) AS trips {_ZJ}
            WHERE f.tip_percentage > 0 AND f.tip_percentage < 100 GROUP BY ALL""",
    ),
    "duration_percentiles": (
        _duration_percentiles,
        f"""SELECT z.zone_name,
                   quantile_cont(f.trip_duration_hours, 0.5) AS p50,
                   quantile_cont(f.trip_duration_hours, 0.9) AS p90,
                   count(*) AS n {_ZJ}
            WHERE f.trip_duration_hours > 0 AND f.trip_duration_hours < 5
            GROUP BY ALL HAVING count(*) > 50""",
    ),
    "hour_elasticity": (
        _hour_elasticity,
        """SELECT year(pickup_date) AS year, pickup_hour, count(*) AS trips,
                  avg(total_amount) AS avg_amount FROM fct GROUP BY ALL""",
    ),
    "speed_by_daypart": (
        _speed_by_daypart,
        f"""SELECT z.borough, f.pickup_hour,
                   CASE WHEN f.pickup_hour BETWEEN 6 AND 18 THEN 'Diurno'
                        ELSE 'Nocturno' END AS franja,
                   avg(f.avg_speed_mph) AS avg_speed, count(*) AS n {_ZJ}
            GROUP BY ALL""",
    ),
    "coverage_matrix": (
        _coverage_matrix,
        """SELECT year(pickup_date) AS year, month(pickup_date) AS month,
                  service_type, count(*) AS total_trips,
                  sum(trip_distance) AS total_miles,
                  sum(total_amount) AS total_revenue,
                  min(pickup_date) AS first_trip, max(pickup_date) AS last_trip
           FROM fct GROUP BY ALL""",
    ),
    "monthly_2020": (
        _monthly_2020,
        """SELECT service_type, CAST(date_trunc('month', pickup_date) AS DATE) AS month,
                  count(*) AS trips, avg(trip_distance) AS avg_distance,
                  avg(total_amount) AS avg_total
           FROM fct
           WHERE pickup_date BETWEEN DATE '2020-01-01' AND DATE '2020-12-31'
           GROUP BY ALL ORDER BY month, service_type""",
    ),
}
