"""The committed batch log: how every micro-batch in this package is
run, written and read back.

Every foreachBatch monitor here (PSI and KS drift, mean-shift CUSUM,
Misra-Gries top-k, KMV distinct counts, the events sink and the
incremental-dedup survivors) drains its stream through :func:`drain`
and writes one ``<base>/batch_id=<id>`` parquet directory per batch
through :func:`write_batch`: overwrite, then drop the engine-owned
``_BATCH_COMMIT`` marker. A replayed batch overwrites its own directory,
so at-least-once delivery keeps the log exact -- the Spark form of the
reference exporter's BEGIN/executemany/COMMIT.

A directory counts as written only once it is committed. Spark's
overwrite deletes the old files before the new ones land, so a crash
mid-overwrite leaves an empty or partial directory with no marker; a
schema-pinned read over it silently yields a truncated frame. Hence:

- :func:`read_batch` -- one batch, the carried state a monitor folds
  from. Only ``batch_id < 0`` (batch 0's no-predecessor sentinel) maps
  to the empty frame; a missing or uncommitted batch raises
  FileNotFoundError. Substituting an empty state there would silently
  reset a sketch, summary or CUSUM and corrupt every later batch.
- :func:`read_batches` -- the whole log, committed directories only,
  ``batch_id`` from partition discovery.

The marker is written after the parquet write returns, so completeness
never depends on how ``marksuccessfuljobs`` was set in the writing
session; Hadoop's ``_SUCCESS`` is accepted as the fallback for logs
written without the marker. Both are resolved through the path's own
Hadoop FileSystem: a schemeless path belongs to fs.defaultFS, which
need not be the driver's local disk.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.errors import StreamingQueryException
from pyspark.sql import DataFrame, SparkSession

# mode("overwrite") clears the directory before rewriting, so a stale
# marker cannot survive into a partial rewrite.
COMMIT_MARKER = "_BATCH_COMMIT"


def state_dir(base: str, batch_id: int) -> str:
    return os.path.join(base, f"batch_id={batch_id}")


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` resolved against ITS filesystem
    (fs.defaultFS for schemeless paths)."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _committed(spark: SparkSession, fs, path: str) -> bool:
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    return bool(
        fs.exists(jpath(path + "/" + COMMIT_MARKER))
        or fs.exists(jpath(path + "/_SUCCESS"))
    )


def drain(
    stream_df: DataFrame,
    checkpoint_dir: str,
    on_batch: Callable[[DataFrame, int], None],
    output_mode: str = "append",
) -> None:
    """Run ``on_batch`` over every micro-batch available now and block
    until the drain ends. A failed batch raises its own exception
    (chained from the StreamingQueryException), never a partial log."""
    errors: list[Exception] = []

    def run(batch_df: DataFrame, batch_id: int) -> None:
        try:
            on_batch(batch_df, batch_id)
        except Exception as exc:
            errors.append(exc)
            raise

    query = (
        stream_df.writeStream.foreachBatch(run)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        query.awaitTermination()
    except StreamingQueryException as exc:
        if errors:
            raise errors[0] from exc
        raise


def write_batch(
    spark: SparkSession, base: str, batch_id: int, df: DataFrame
) -> None:
    """Overwrite batch ``batch_id``'s directory with ``df``, then commit
    it. ``batch_id`` lives in the directory key only: a data column of
    the partition column's name would collide on read, so it is
    dropped."""
    path = state_dir(base, batch_id)
    df.drop("batch_id").write.mode("overwrite").parquet(path)
    fs, _ = _hadoop_fs(spark, path)
    fs.create(
        spark._jvm.org.apache.hadoop.fs.Path(path + "/" + COMMIT_MARKER), True
    ).close()


def read_batch(
    spark: SparkSession, base: str, batch_id: int, schema: str
) -> DataFrame:
    """Batch ``batch_id`` of the log; the empty frame ONLY for the
    ``batch_id < 0`` sentinel. A missing or uncommitted batch raises
    FileNotFoundError and read errors propagate."""
    if batch_id < 0:
        return spark.createDataFrame([], schema)
    path = state_dir(base, batch_id)
    fs, _ = _hadoop_fs(spark, path)
    if not _committed(spark, fs, path):
        raise FileNotFoundError(
            f"batch {batch_id} missing or uncommitted at {path}: refusing "
            "to substitute an empty frame"
        )
    return spark.read.schema(schema).parquet(path)


def read_batches(spark: SparkSession, base: str) -> DataFrame:
    """Every committed batch of the log, ``batch_id`` recovered by
    partition discovery. An uncommitted directory is left out even when
    it holds parquet rows; a log with no committed batch raises
    FileNotFoundError."""
    fs, jbase = _hadoop_fs(spark, base)
    names = (
        [st.getPath().getName() for st in fs.listStatus(jbase)]
        if fs.exists(jbase)
        else []
    )
    ids = sorted(int(n[len("batch_id="):]) for n in names if n.startswith("batch_id="))
    paths = [
        state_dir(base, i) for i in ids if _committed(spark, fs, state_dir(base, i))
    ]
    if not paths:
        raise FileNotFoundError(f"no committed batch under {base}")
    return spark.read.option("basePath", base).parquet(*paths)
