"""Benchmark decontamination: flag / drop training docs that overlap an
evaluation set (SURVEY.md 2b extension surface). Not present in the
reference (batch BI pipeline); standard practice before pretraining --
the GPT-3 appendix-C method (13-gram collision removal) and its
fraction-of-ngrams variants.

Mechanics: shingle both corpora into k-token n-grams (reusing the dedup
pipeline's single-evaluation shingle kernel), hash each shingle to the
repo's engine-portable 64-bit id, and count per-train-doc collisions
against the distinct benchmark shingle set.

100 TB notes: the training side is scan-shaped (project + explode, no
shuffle before the per-doc aggregate); the benchmark side is eval-sized
(thousands of docs -> at most a few million distinct shingle hashes), so
the collision join broadcasts it and the big side never shuffles for
it. No UDFs anywhere; everything stays in whole-stage codegen except
the interpreted shingle zip (shared with dedup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from taxi_data_pipeline_pset2_spark.operators.dedup import (
    doc_shingles,
    stable_hash64,
)


def contamination_scores(
    train: DataFrame,
    bench: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """Per-train-doc overlap with the benchmark shingle set.

    Returns (id_col, n_shingles, n_contaminated, contamination_frac),
    one row per train doc that has at least one k-shingle (docs shorter
    than k tokens have no shingles, hence no row -- callers treat
    absence as clean). ``contamination_frac`` is the fraction of the
    doc's DISTINCT k-grams that appear anywhere in the benchmark.
    """
    # doc_shingles arrays are array_distinct'd, so (id, shingle) rows
    # are already unique -- count(*) below is a distinct-shingle count.
    train_sh = doc_shingles(train, text_col, id_col, k).select(
        F.col(id_col), stable_hash64(F.col("shingle")).alias("h")
    )
    bench_sh = F.broadcast(
        doc_shingles(bench, bench_text_col, id_col, k)
        .select(stable_hash64(F.col("shingle")).alias("h"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    # ONE pass over the train shingles: the bench set is distinct on h,
    # so the left join marks without multiplying rows, and totals + hit
    # counts come out of the same aggregate.
    return (
        train_sh.join(bench_sh, "h", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_shingles"),
            F.coalesce(F.sum("__hit"), F.lit(0)).cast("long").alias("n_contaminated"),
        )
        .withColumn(
            "contamination_frac",
            F.round(F.col("n_contaminated") / F.col("n_shingles"), 6),
        )
    )


def decontaminate(
    train: DataFrame,
    bench: DataFrame,
    k: int = 13,
    max_frac: float | None = None,
    min_hits: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """Drop contaminated train docs; returns the surviving rows intact.

    Default policy is GPT-3-style any-collision removal at k=13
    (``min_hits=1`` when neither knob is given). Pass ``max_frac`` for
    the softer fraction-of-ngrams policy (drop when contamination_frac
    >= max_frac); when both are given a doc is dropped if EITHER trips.
    Docs with no k-shingle (shorter than k tokens) always survive.
    """
    if max_frac is None and min_hits is None:
        min_hits = 1
    scores = contamination_scores(
        train, bench, k, text_col, id_col, bench_text_col
    )
    dirty = F.lit(False)
    if min_hits is not None:
        dirty = dirty | (F.col("n_contaminated") >= F.lit(min_hits))
    if max_frac is not None:
        dirty = dirty | (F.col("contamination_frac") >= F.lit(max_frac))
    drop_ids = scores.filter(dirty).select(id_col)
    return train.join(drop_ids, id_col, "left_anti")


# ---- semantic (embedding-space) decontamination ---------------------------
#
# N-gram collision misses paraphrased contamination (translated or
# reworded benchmark items); the embedding-space complement flags train
# docs whose embedding is close to any benchmark embedding. Same
# playbook as above: the benchmark side is eval-sized (collected as a
# guarded driver matrix); the train side stays scan-shaped.


def semantic_contamination_scores(
    train_emb: DataFrame,
    bench_emb: DataFrame,
    threshold: float = 0.2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "exact",
) -> DataFrame:
    """(id_col, n_bench_hits, max_cosine) for every train vector with at
    least one benchmark neighbor at rounded cosine >= threshold. Clean
    vectors emit no row (callers treat absence as clean, as in
    ``contamination_scores``), so the output is contamination-sized.

    ``mode="exact"``: every (train, bench) pair -- the eval-sized bench
    matrix is collected to the driver (MAX_QUERY_ROWS-guarded, the same
    contract as the vectorized kNN query set) and each Arrow batch of
    the train scan computes ALL its bench dots as one exact int64
    numpy matmul: no join, no shuffle, one pass over the train side.
    Int-scaled arithmetic + the shared HALF_UP rounding kernel make the
    cosines bit-identical to a SQL oracle. ``mode="lsh"``: sign-sketch
    band join generates candidates first (the path when the benchmark
    suite itself is too large to collect); exact-cosine verify on
    candidates only. Both modes emit identical schemas; lsh may miss
    pairs LSH misses (recall pinned in tests).
    """
    from taxi_data_pipeline_pset2_spark.operators.similarity import (
        MAX_QUERY_ROWS,
        _prepared,
        _round_half_up_6,
        cosine_sketch_bands,
        int_dot,
    )

    tr = _prepared(train_emb, id_col, vec_col).select(
        F.col(id_col), F.col("iv").alias("t_iv"), F.col("norm2").alias("t_n2")
    )
    be = _prepared(bench_emb, id_col, vec_col).select(
        F.col(id_col).alias("b_id"), F.col("iv").alias("b_iv"),
        F.col("norm2").alias("b_n2"),
    )
    if mode == "exact":
        import numpy as np
        import pandas as pd

        bench_rows = be.limit(MAX_QUERY_ROWS + 1).collect()
        if len(bench_rows) > MAX_QUERY_ROWS:
            raise ValueError(
                f"benchmark side exceeds MAX_QUERY_ROWS={MAX_QUERY_ROWS}; "
                "use mode='lsh' for benchmark suites this large"
            )
        out_schema = f"{id_col} long, n_bench_hits long, max_cosine double"
        if not bench_rows:  # empty benchmark: nothing can be contaminated
            return train_emb.sparkSession.createDataFrame([], out_schema)
        B = np.array([r.b_iv for r in bench_rows], dtype=np.int64)  # (M, D)
        b_norm = np.sqrt(np.array([r.b_n2 for r in bench_rows], dtype=np.float64))

        def run(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                X = np.array(list(pdf["t_iv"]), dtype=np.int64)  # (N, D)
                dots = X @ B.T  # exact int64
                raw = dots / (
                    np.sqrt(pdf["t_n2"].to_numpy(dtype=np.float64))[:, None]
                    * b_norm[None, :]
                )
                cos = _round_half_up_6(raw.ravel()).reshape(raw.shape)
                hit = cos >= threshold
                n_hits = hit.sum(axis=1)
                keep = n_hits > 0
                masked = np.where(hit, cos, -np.inf)
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col].to_numpy()[keep],
                        "n_bench_hits": n_hits[keep].astype(np.int64),
                        "max_cosine": masked.max(axis=1)[keep],
                    }
                )

        return tr.mapInPandas(run, schema=out_schema)
    elif mode == "lsh":
        t_bands = cosine_sketch_bands(train_emb, id_col=id_col, vec_col=vec_col)
        b_bands = cosine_sketch_bands(bench_emb, id_col=id_col, vec_col=vec_col).select(
            F.col(id_col).alias("b_id"), "band", "band_sig"
        )
        cands = (
            t_bands.join(F.broadcast(b_bands), ["band", "band_sig"])
            .select(id_col, "b_id")
            .distinct()
        )
        joined = cands.join(tr, id_col).join(F.broadcast(be), "b_id")
    else:
        raise ValueError(f"mode must be exact|lsh, got {mode!r}")

    cos = F.round(
        int_dot(F.col("t_iv"), F.col("b_iv")).cast("double")
        / (F.sqrt(F.col("t_n2").cast("double")) * F.sqrt(F.col("b_n2").cast("double"))),
        6,
    )
    return (
        joined.select(F.col(id_col), cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_bench_hits"),
            F.max("cosine").alias("max_cosine"),
        )
    )


def semantic_decontaminate(
    train_emb: DataFrame,
    bench_emb: DataFrame,
    threshold: float = 0.2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "exact",
) -> DataFrame:
    """Drop train rows semantically contaminated against the benchmark;
    returns surviving train rows intact (one left-anti join, scan-shaped
    on the train side)."""
    dirty = semantic_contamination_scores(
        train_emb, bench_emb, threshold, id_col, vec_col, mode
    ).select(id_col)
    return train_emb.join(dirty, id_col, "left_anti")
