"""Typed source readers.

Reference ingestion is HTTP-download -> pandas -> warehouse
(``loader_yellow_green.py:38,63-79``; SURVEY.md S1-S4). Spark-first
equivalent: ``spark.read`` with explicit schemas straight off columnar
storage -- no row staging, no driver-side pandas. Parquet is self-typed so
the driver testdata loads schema-on-read; the taxi raw schemas (which need
pinned types, FIXTURES.md) live in ``schemas.py``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver testdata table.

    Plain ``spark.read.parquet``: vectorized scan, predicate pushdown and
    column pruning reach the row groups via Catalyst, so callers should
    filter/select on the returned frame and let the optimizer prune.
    """
    # Force UTC session semantics regardless of who built the session: the
    # events ts lands as TIMESTAMP_LTZ after ns->us conversion, and hour()/
    # year() on LTZ follow the session timezone. The reference pins UTC at
    # the session level too (exporter .../1759109036:87-88, SURVEY.md X9).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name != "events":
        return spark.read.parquet(path)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return events_ts_utc(spark.read.parquet(path))


def events_ts_utc(df: DataFrame) -> DataFrame:
    """``df`` with the events ``ts`` column as session-UTC TIMESTAMP --
    the one normalization for the batch reader and the events stream.

    events.ts has shipped as TIMESTAMP(NANOS) (which Spark's vectorized
    reader rejects -- the ``nanosAsLong`` conf the caller sets surfaces
    it as a long) and as TIMESTAMP(MICROS) without UTC adjustment (which
    Spark 4 infers as TIMESTAMP_NTZ). Normalizing both keeps downstream
    hour()/window()/unix_micros() semantics identical either way.
    Integer ``div`` for the ns path: float division would lose precision
    above 2^53 and round the microsecond differently than DuckDB's own
    ns->us truncation."""
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast(TimestampType()))
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES
) -> None:
    """Register each table as a temp view so ``spark.sql`` queries run
    against the same catalog names the DuckDB oracle uses."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


def read_csv_quarantine(
    spark: SparkSession,
    path: str,
    schema,
    header: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """S3 hardened: CSV scan that QUARANTINES malformed rows instead of
    silently nulling (PERMISSIVE default) or killing the job (FAILFAST).

    Returns ``(good, bad)``: ``good`` is schema-typed clean rows, ``bad``
    is the raw text of every row that failed to parse, preserved verbatim
    for repair/re-ingest -- the ingest contract a production loader needs
    (the reference's loader drops malformed taxi rows on the floor).

    The parsed frame is cached: Spark disallows queries that reference
    only the internal corrupt-record column of a streaming-parsed CSV
    (SPARK-21610), and the cache also means the file is parsed once for
    both outputs. For a table-scale quarantine pass use
    ``persist(StorageLevel.DISK_ONLY)`` upstream instead.
    """
    return _quarantine(
        spark.read.option("header", header), "csv", path, schema
    )


def read_jsonl_quarantine(
    spark: SparkSession,
    path: str,
    schema,
) -> tuple[DataFrame, DataFrame]:
    """JSONL twin of :func:`read_csv_quarantine` -- the interchange
    format training-data pipelines actually ship. Returns ``(good,
    bad)``: schema-typed clean rows, and the raw text of every line
    that failed to parse or type-check, preserved verbatim for
    repair/re-ingest instead of PERMISSIVE's silent nulls.

    Same SPARK-21610 caveat as the CSV path: the parsed frame is cached
    so the corrupt-record column is queryable and the file parses once
    for both outputs.
    """
    return _quarantine(spark.read, "json", path, schema)


def _quarantine(
    reader, fmt: str, path: str, schema
) -> tuple[DataFrame, DataFrame]:
    """The shared body of the quarantine readers: ``path`` read as
    ``fmt`` in PERMISSIVE mode over ``schema`` plus ``_corrupt_record``,
    cached, split into (good typed rows, bad raw records)."""
    from pyspark.sql.types import StringType, StructType

    full = StructType(list(schema.fields)).add("_corrupt_record", StringType())
    df = (
        reader.option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(full)
        .format(fmt)
        .load(path)
        .cache()
    )
    good = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    bad = df.filter(F.col("_corrupt_record").isNotNull()).select(
        F.col("_corrupt_record").alias("raw_record")
    )
    return good, bad
