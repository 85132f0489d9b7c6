"""Streaming incremental dedup: the foreachBatch composition of the
document stream with the persisted LSH signature index
(operators/incremental.py) -- the continuously-ingesting form of the
reference's monthly load loop (``loader_yellow_green.py:38``), run as a
Structured Streaming pipeline instead of a cron script.

Per micro-batch:
 1. screen the batch against the CURRENT index (one broadcast of the
    batch onto an index scan -- O(batch) + one scan, the incremental
    contract);
 2. write the batch's survivors as that batch's entry of the committed
    batch log (streaming/state.py; read back with
    ``state.read_batches``);
 3. APPEND only the survivors' signature rows the index does not
    already hold (batch-sized anti-join) -- the index grows by O(batch)
    files per batch and is NEVER rewritten, unlike an
    ``atomic_overwrite`` of the whole index, which would be O(corpus)
    per batch at 100 TB.

Replay idempotence (at-least-once foreachBatch delivery):
 - survivors of a replayed batch re-resolve identically: a survivor's
   own signatures are excluded by id inside ``match_against_index``,
   and two same-batch survivors never share >= min_shared_bands bands
   (they would have been one connected component);
 - the index append anti-joins on doc_id, so re-appending an already-
   indexed batch is a no-op;
 - the survivors log entry is overwritten per batch id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from taxi_data_pipeline_pset2_spark.operators.incremental import (
    incremental_dedup,
)
from taxi_data_pipeline_pset2_spark.streaming.state import drain, write_batch


def _index_schema(id_col: str = "doc_id") -> str:
    """MinHash band-signature index layout, keyed by the caller's id
    column: a hardcoded doc_id would read a non-default id's index as
    all-NULL and break the anti-join."""
    return f"{id_col} long, band int, band_sig long"


def read_docs_stream(
    spark: SparkSession,
    docs_dir: str,
    max_files_per_trigger: int = 1,
    schema: str | None = None,
) -> DataFrame:
    """File-arrival document stream: each parquet file dropped into
    ``docs_dir`` is one ingest unit; ``maxFilesPerTrigger`` bounds the
    batch size (and in tests splits a backfill into micro-batches).
    Pass ``schema`` to start the stream BEFORE the first file lands
    (the normal deployment order for a file-arrival source) -- without
    it the schema is probed from existing files, and an empty dir is
    reported as a clear error instead of the raw AnalysisException."""
    if schema is None:
        from pyspark.errors import AnalysisException

        try:
            schema = spark.read.parquet(docs_dir).schema
        except AnalysisException as exc:
            raise ValueError(
                f"cannot infer a stream schema from {docs_dir} (no parquet "
                "yet?): pass schema= to start the stream before the first "
                "file lands"
            ) from exc
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(docs_dir)
    )


def load_index(
    spark: SparkSession, index_dir: str, id_col: str = "doc_id"
) -> DataFrame:
    """The persisted signature index; empty-typed frame before the
    first batch commits. Only AnalysisException (path not found / empty
    dir) falls back -- a genuine read error (permissions, corrupt
    footer) must propagate, not silently restart the index. A local
    os.path probe would be wrong here: the index lives on whatever
    filesystem Spark sees (HDFS/S3), not necessarily the driver's local
    disk."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.schema(_index_schema(id_col)).parquet(index_dir)
    except AnalysisException:
        return spark.createDataFrame([], _index_schema(id_col))


def run_streaming_incremental_dedup(
    docs_stream: DataFrame,
    index_dir: str,
    survivors_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Drain ``docs_stream`` (availableNow) through the incremental
    dedup screen, growing the index as batches commit."""
    spark = docs_stream.sparkSession

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        index = load_index(spark, index_dir, id_col=id_col)
        res = incremental_dedup(
            batch_df, index, text_col=text_col, id_col=id_col
        )
        write_batch(
            spark, survivors_dir, batch_id,
            res.survivors.localCheckpoint(eager=True),
        )
        # the signature delta incremental_dedup already computed -- NOT
        # a second shingle->hash->min pass over the survivors' text
        # (that pipeline is the dominant per-batch cost). The anti-join
        # keeps a replayed batch from double-appending its rows.
        new_rows = res.new_index_rows.join(
            index.select(id_col).distinct(), id_col, "left_anti"
        )
        new_rows.write.mode("append").parquet(index_dir)

    drain(docs_stream, checkpoint_dir, on_batch)
