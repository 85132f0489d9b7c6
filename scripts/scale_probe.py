"""Scale sweep: run the bucketed dedup/similarity pipelines on 1x/4x/16x
replications of the documents table and report wall-clock scaling
ratios. Run: python scripts/scale_probe.py  [env: SPARK_GRAFT_SF_DIR]

The claim the engine designs for -- bounded LSH buckets, df-ceilinged
inverted-index joins, no all-pairs stages -- predicts near-linear time
in corpus size. This probe MEASURES it: time(16x)/time(1x) should sit
near 16 (modulo fixed overhead, which deflates the ratio at these
sizes), and a superlinear blowup flags a quadratic stage.

Replicas get a per-replica suffix token so they are NOT near-dups of
each other (this probes throughput scaling, not duplicate-cluster
blowup -- the capped-bucket behavior under massive duplication has its
own tests in tests/test_dedup.py). Output: one JSON line per op.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FACTORS = (1, 4, 16)


def main() -> None:
    from pyspark.sql import functions as F

    from taxi_data_pipeline_pset2_spark.operators.driver_path import (
        distributed_only,
        rounds_log,
    )
    from taxi_data_pipeline_pset2_spark.session import get_spark
    from taxi_data_pipeline_pset2_spark.sources.readers import load_table

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="scale_probe")
    spark.sparkContext.setLogLevel("ERROR")
    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def scaled(factor: int):
        if factor == 1:
            return base
        return (
            base.withColumn(
                "_rep", F.explode(F.sequence(F.lit(0), F.lit(factor - 1)))
            )
            .select(
                (F.col("doc_id") * factor + F.col("_rep")).alias("doc_id"),
                F.concat(
                    F.col("text"), F.lit(" repx"), F.col("_rep").cast("string")
                ).alias("text"),
            )
            .repartition(32)
        )

    def minhash(df):
        from taxi_data_pipeline_pset2_spark.operators.dedup import (
            minhash_candidate_pairs,
        )

        return minhash_candidate_pairs(df)

    def tfidf_cos(df):
        from taxi_data_pipeline_pset2_spark.operators.search import (
            tfidf_cosine_pairs,
        )

        return tfidf_cosine_pairs(df, threshold=0.5, max_df=100)

    def exact(df):
        from taxi_data_pipeline_pset2_spark.operators.dedup import (
            exact_dedup_groups,
        )

        return exact_dedup_groups(df)

    def pmi(df):
        from taxi_data_pipeline_pset2_spark.operators.text import (
            pmi_collocations,
        )

        return pmi_collocations(df, min_count=5, top_k=100)

    def cms(df):
        from taxi_data_pipeline_pset2_spark.operators.cms import cms_sketch

        # full-text values: vocabulary ~= corpus, the sketch's worst case
        return cms_sketch(df, "text", width=4096, depth=4)

    def bm25(df):
        from taxi_data_pipeline_pset2_spark.operators.search import bm25_topk

        # eager inside the op (localCheckpoint of the top-k), so the
        # timer captures the two corpus scans + tiny shuffles
        return bm25_topk(df, ["merge", "stream", "the"], top_k=30)

    def simhash_pairs(df):
        from taxi_data_pipeline_pset2_spark.operators.dedup import (
            simhash_candidate_pairs,
        )

        # the corpus-scale Manku configuration (20 tables, 30-bit keys),
        # not the 32/4/1 audit grid whose 256-bucket tables would make
        # this probe measure bucket quadratic growth by design
        return simhash_candidate_pairs(
            df, max_hamming=3, bits=60, blocks=6, key_blocks=3
        )

    ops = {"minhash_lsh_pairs": minhash, "tfidf_cosine_pairs": tfidf_cos,
           "exact_dedup": exact, "pmi_collocations": pmi,
           "cms_sketch_text": cms, "bm25_topk": bm25,
           "simhash_manku_pairs": simhash_pairs}

    # graph probe: disjoint replicas (per-replica node suffix) keep the
    # degree distribution intact, so triangles/wedges scale EXACTLY
    # linearly in the replication factor -- any superlinearity is the
    # operator's own (a broken orientation would blow up quadratically
    # on the densest nodes)
    ebase = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
        )
        .select(
            F.col("l_orderkey").alias("bk"),
            F.col("l_partkey").cast("string").alias("i"),
        )
        .distinct()
    )
    ebase = (
        ebase.alias("x")
        .join(
            ebase.alias("y"),
            (F.col("x.bk") == F.col("y.bk")) & (F.col("x.i") < F.col("y.i")),
        )
        .select(F.col("x.i").alias("src"), F.col("y.i").alias("dst"))
        .distinct()
    )

    def scaled_edges(factor: int):
        if factor == 1:
            return ebase
        return ebase.withColumn(
            "_rep", F.explode(F.sequence(F.lit(0), F.lit(factor - 1)))
        ).select(
            F.concat("src", F.lit("_r"), F.col("_rep").cast("string")).alias("src"),
            F.concat("dst", F.lit("_r"), F.col("_rep").cast("string")).alias("dst"),
        ).repartition(32)

    def triangles(df):
        from taxi_data_pipeline_pset2_spark.operators.graph import (
            triangle_counts,
        )

        return triangle_counts(df)

    # the iterative trio: disjoint replicas keep per-replica structure
    # identical, so round counts do not grow with the factor -- wall
    # time should scale in the EDGE volume only
    def pr(df):
        from taxi_data_pipeline_pset2_spark.operators.graph import pagerank

        # distributed_only: the probe measures the DISTRIBUTED loop's
        # scaling -- the driver fast path would otherwise absorb every
        # factor of this sweep (its cap is 4M edges)
        with distributed_only():
            return pagerank(df, n_iter=8)

    def kc(df):
        from taxi_data_pipeline_pset2_spark.operators.graph import kcore

        # the DISTRIBUTED loop's scaling (the driver fast path would
        # absorb every factor of this sweep)
        with distributed_only():
            return kcore(df)

    def lpa(df):
        from taxi_data_pipeline_pset2_spark.operators.graph import (
            label_propagation,
        )

        with distributed_only():
            return label_propagation(df, n_iter=4)

    graph_ops = {
        "triangle_counts": (scaled_edges, triangles),
        "pagerank": (scaled_edges, pr),
        "kcore": (scaled_edges, kc),
        "label_propagation": (scaled_edges, lpa),
    }

    # incremental-dedup probe: the scale axis is the INDEX (the corpus
    # history), not the batch -- the operator's 100 TB contract is
    # per-batch cost = O(batch) + ONE index scan, so a 16x index should
    # cost far less than 16x wall (the fixed batch work dominates and
    # the scan is one linear pass with no shuffle). The batch is the 1x
    # documents under fresh non-colliding ids with a suffix token (no
    # near-dups of the index: this probes screening throughput, not
    # match fan-out). Forcing new_index_rows evaluates the whole chain:
    # signatures, corpus match, within-batch components, and the
    # already-indexed guard scan.
    probe_batch = base.select(
        (F.col("doc_id") + F.lit(1_000_000_000)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" probenewbatch")).alias("text"),
    ).localCheckpoint(eager=True)

    def index_of(factor: int):
        from taxi_data_pipeline_pset2_spark.operators.dedup import (
            minhash_band_signatures,
        )

        return minhash_band_signatures(scaled(factor))

    def incr(index):
        from taxi_data_pipeline_pset2_spark.operators.incremental import (
            incremental_dedup,
        )

        return incremental_dedup(probe_batch, index).new_index_rows

    # stats-family probe: spearman's rank maps are per-DISTINCT-value
    # windows, so the axis that matters is the distinct-value count --
    # the replica jitter below grows the value vocabulary linearly with
    # the factor (x*f + rep), measuring the vocabulary-window regime a
    # bucketed-rank variant would be built for (the bucketed form
    # measured SLOWER at sf0.1's vocabulary; this row is the crossover
    # evidence).
    vbase = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_returnflag").alias("flag"),
            F.col("l_quantity").cast("double").alias("x"),
            F.col("l_extendedprice").cast("double").alias("y"),
        )
    )

    def scaled_values(factor: int):
        if factor == 1:
            return vbase
        return vbase.withColumn(
            "_rep", F.explode(F.sequence(F.lit(0), F.lit(factor - 1)))
        ).select(
            "flag",
            (F.col("x") * factor + F.col("_rep")).alias("x"),
            (F.col("y") * factor + F.col("_rep")).alias("y"),
        ).repartition(32)

    def spearman(df):
        from taxi_data_pipeline_pset2_spark.operators.stats import (
            spearman_corr,
        )

        return spearman_corr(df, "x", "y", ["flag"])

    # ANN-family probe: the driver fast path absorbs the bench entries,
    # so this row proves the DISTRIBUTED Lloyd loop (distributed_only)
    # still scales in corpus rows -- per-replica jitter keeps vectors
    # distinct on the 1e-6 grid.
    abase = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )

    def scaled_emb(factor: int):
        if factor == 1:
            return abase
        return abase.withColumn(
            "_rep", F.explode(F.sequence(F.lit(0), F.lit(factor - 1)))
        ).select(
            (F.col("vec_id") * factor + F.col("_rep")).alias("vec_id"),
            F.transform(
                "embedding", lambda e: e + F.col("_rep") * 1e-5
            ).alias("embedding"),
        ).repartition(32)

    def kmeans_distributed(df):
        from taxi_data_pipeline_pset2_spark.operators.clustering import (
            kmeans_fit_assign,
        )

        with distributed_only():
            return kmeans_fit_assign(df, k=8, n_iter=4)

    runs = [(name, scaled, fn) for name, fn in ops.items()] + [
        (name, gen, fn) for name, (gen, fn) in graph_ops.items()
    ] + [
        ("incremental_dedup_vs_index", index_of, incr),
        ("spearman_distinct_values", scaled_values, spearman),
        ("kmeans_lloyd_distributed", scaled_emb, kmeans_distributed),
    ]
    results = []
    for name, gen, fn in runs:
        times: dict[int, float] = {}
        raw: dict[int, list[float]] = {}
        loops: dict[int, list] = {}
        for factor in FACTORS:
            df = gen(factor).localCheckpoint(eager=True)  # exclude gen cost
            walls: list[float] = []
            with rounds_log() as log:
                for _ in range(2):
                    t0 = time.perf_counter()
                    fn(df).write.format("noop").mode("overwrite").save()
                    walls.append(time.perf_counter() - t0)
                if min(walls) >= 10.0:
                    # long rows are the noise-dominated ones (the k-core
                    # 16x ratio wandered 3.6-5.6 between refreshes on
                    # ambient load): a third repeat tightens the best-of
                    # estimate exactly where it matters
                    t0 = time.perf_counter()
                    fn(df).write.format("noop").mode("overwrite").save()
                    walls.append(time.perf_counter() - t0)
            times[factor] = round(min(walls), 3)
            raw[factor] = [round(w, 3) for w in walls]
            if log:
                loops[factor] = log
            df.unpersist()
        r4 = round(times[4] / times[1], 2)
        r16 = round(times[16] / times[1], 2)
        rec = {
            "op": name, "sec": {str(k): v for k, v in times.items()},
            # every repeat, in run order: the spread IS the ambient-noise
            # band, recorded so a future ratio move is attributable
            # without re-running
            "runs_sec": {str(k): v for k, v in raw.items()},
            "ratio_4x": r4, "ratio_16x": r16,
            "verdict": "near-linear" if r16 <= 24 else "SUPERLINEAR",
        }
        if loops:
            # the rounds_log of every iterative op, so a wall ratio
            # decomposes into algorithmic rounds x per-round cost: rounds
            # are deterministic per instance; sec/round takes the
            # quietest of this factor's repeats
            rec["rounds"] = {str(f): log[0].rounds for f, log in loops.items()}
            rec["sec_per_round"] = {
                str(f): round(min(r.seconds / max(r.rounds, 1) for r in log), 3)
                for f, log in loops.items()
            }
        results.append(rec)
        print(json.dumps(rec))
    # Persist the measured ratios as a tracked artifact so the next
    # round can diff them instead of re-deriving from commit messages.
    # Written next to the script's repo root.
    out_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SCALEPROBE.json",
    )
    with open(out_path, "w") as fh:
        json.dump(
            {
                "sf_dir": sf_dir,
                "factors": list(FACTORS),
                "method": "best-of-2 wall (best-of-3 when >= 10 s) over "
                          "localCheckpointed input, noop sink; all "
                          "repeats recorded in runs_sec; replicas "
                          "suffix-tokenized (no near-dup inflation)",
                "ops": results,
            },
            fh,
            indent=1,
        )
        fh.write("\n")
    print(f"wrote {out_path}")


if __name__ == "__main__":
    main()
