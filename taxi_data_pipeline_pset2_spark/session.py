"""SparkSession factory tuned for the engine.

The reference delegates all execution to Snowflake and tunes its session
(UTC, TIMESTAMP_NTZ, batching -- reference
``.file_versions/data_exporters/exporter_taxi.py/1759109036:86-92``, SURVEY.md
X9). The Spark equivalents live here, plus the scale-oriented defaults
(AQE, shuffle sizing, Arrow) that a 1000-executor / 100 TB deployment
would want. On a real cluster only ``master`` and memory sizing change;
the SQL-level knobs are identical.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# SQL-level configs: identical on local[N] and a real cluster.
ENGINE_CONFS: dict[str, str] = {
    # Deterministic wall-clock semantics (reference forces UTC + NTZ).
    "spark.sql.session.timeZone": "UTC",
    # Adaptive execution: runtime shuffle-partition coalescing, skew-join
    # splitting, and dynamic broadcast conversion. At 100 TB this is what
    # turns a mis-sized static plan into a workable one.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # All four reference dims are <= 4018 rows; every star join must be a
    # broadcast hash join (SURVEY.md X5). 64 MB covers any realistic dim.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Arrow for any pandas_udf / toPandas boundary (extensions only).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet: vectorized reader on, aggregate pushdown (count/min/max
    # answered from footers -- replaces the reference's footer scan S2).
    "spark.sql.parquet.aggregatePushdown": "true",
    # 128 MB input splits: at 100 TB -> ~800k tasks, the right granularity.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Runtime bloom-filter join pruning: build a filter from the small
    # side and push it into the big side's scan -- cheap insurance on
    # selective joins at scale.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # canChangeCachedPlanOutputPartitioning stays unset: see OPTIMIZATION_r14.md.
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", 0)) or (os.cpu_count() or 4)


def get_spark(
    app_name: str = "taxi-data-pipeline-pset2-spark",
    master: str | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned session.

    ``shuffle.partitions`` defaults to the local core count -- on a real
    cluster set it (or leave AQE's coalescing to shrink an over-estimate;
    we over-provision and let AQE coalesce, the recommended pattern).
    """
    cores = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(max(cores, 32)))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in ENGINE_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
