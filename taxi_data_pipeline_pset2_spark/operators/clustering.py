"""Iterative k-means over embedding columns (SURVEY.md 2b).

Lloyd's algorithm with deterministic initialization (the k lowest
vec_ids), expressed Spark-first:

- assignment + update in ONE ``mapInPandas`` pass per round: distances
  to all k centroids are a single numpy int64 matmul per Arrow batch
  (same vectorized-kernel pattern as knn_topk_vectorized), and the same
  kernel emits per-batch partial centroid sums -- (cluster, dim, sum,
  count) rows, k*D per batch -- so the update needs no join back to the
  corpus and no corpus-sized posexplode, just one tiny hash aggregate
  whose k*D result collects to the driver and becomes the next broadcast
- the projected corpus is checkpointed once (operators/driver_path.py)
  and every Lloyd round plus the final assignment reads that
  checkpoint, never re-reading and re-projecting the source

EXACT INTEGER LLOYD'S (r9, the upgrade that cleared the float-argmin
oracle blocker): vectors quantize once to the repo-standard 1e-6 grid
(``int_embedding``), and centroids are kept ON that grid -- the update
is round_half_up(S/n) per component, computed as the pure-integer
floor((2S + n) / (2n)) from the EXACT integer component sums S. Every
distance is then an exact int64 quantity and every argmin an exact
integer comparison (ties to the lowest cluster id), so assignments and
centroids are bit-identical under ANY partitioning, Arrow batch size,
or aggregation order -- and reproducible in DuckDB, which is what makes
the ``kmeans_clusters`` catalog entry a full rows+schema+hash oracle
(an unrolled per-round CTE chain) instead of the rows-only check every
float formulation was stuck with: float centroid means depend on
shuffle-merge summation order, and a boundary-adjacent point can flip
its argmin on ~1e-16 noise. Centroid quantization costs <= 0.5e-6 per
component per round -- three orders of magnitude under the data grid --
and k-means is a heuristic partitioner; determinism is worth more than
the sixth decimal of a centroid.

At 100 TB the per-round cost is one checkpointed-corpus scan + a k*D-sized
aggregate; the driver never holds more than the centroid matrix.
pyspark.ml's KMeans does the same dance with kmeans|| init; this
hand-rolled version exists for deterministic, dependency-light
clustering with an auditable plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from taxi_data_pipeline_pset2_spark.operators.driver_path import bounded_arrow

# int64 headroom guard: the grid-wide cap (see operators/similarity.py
# MAX_ABS_IV) bounds each squared-difference term by (2*2^25)^2 = 2^52,
# so ||x-c||^2 <= D * 2^52 stays under 2^63 only up to D = 2048 -- the
# dimension-aware check lives INSIDE _exact_d2 (ADVICE r9: the
# magnitude cap alone is NOT safe at 4096 dims).
from taxi_data_pipeline_pset2_spark.operators.similarity import (
    MAX_ABS_IV as _MAX_ABS_IV,
    SCALE,
    _round_half_up_6,
    int_embedding,
)


def _exact_d2(X: "np.ndarray", C: "np.ndarray") -> "np.ndarray":
    """Exact int64 squared distances between grid-quantized rows.

    Dimension-aware overflow bound (python-int arithmetic, so the check
    itself cannot wrap): ||x-c||^2 <= D*(2*max_abs)^2 must fit int64 --
    the magnitude cap alone only covers D <= 2048 (ADVICE r9)."""
    import numpy as np

    mx = int(max(np.abs(X).max(initial=0), np.abs(C).max(initial=0)))
    if mx >= _MAX_ABS_IV or X.shape[1] * (2 * mx) ** 2 >= 1 << 63:
        raise ValueError(
            f"quantized magnitudes (max {mx}) too large for exact "
            f"int64 distance arithmetic at dim {X.shape[1]}"
        )
    # ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2, all exact int64
    return (
        (X * X).sum(axis=1)[:, None]
        - 2 * (X @ C.T)
        + (C * C).sum(axis=1)[None, :]
    )


# Corpora whose quantized matrix fits this many int64 cells (rows *
# dims) run the Lloyd loop on the driver (operators/driver_path.py): a
# few tens of MB collected.
DRIVER_KMEANS_CELL_CAP = 4_000_000


def kmeans_fit_assign(
    emb: DataFrame,
    k: int = 8,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    return_centroids: bool = False,
) -> DataFrame:
    """Returns (id, cluster, dist) after ``n_iter`` exact-integer Lloyd
    rounds -- dist is the euclidean distance to the winning centroid in
    the original units, 6-dp rounded via the shared HALF_UP discipline;
    with ``return_centroids`` also the final (k, D) float centroid
    array in original units (the model consumers like IVF need, without
    re-deriving it with another corpus pass -- and the re-derived means
    would be one Lloyd step ahead of the centroids that produced the
    assignment).

    Corpora up to DRIVER_KMEANS_CELL_CAP cells run the whole loop on
    the driver with the identical exact-integer update (shared
    _exact_d2, same floor((2S+n)/(2n)) centroid rule, same first-min
    argmin); see operators/driver_path.py for the contract."""
    import numpy as np
    import pandas as pd

    spark = emb.sparkSession
    # NULL vectors are excluded, not crashed on: the Arrow kernels build
    # np.int64 batch matrices where one None is a task-killing TypeError
    # (the _prepared/pq.py discipline); a row with no vector has no
    # cluster, so absence from the assignment is the honest output
    base = emb.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col), int_embedding(F.col(vec_col)).alias("iv")
    )
    out_schema = f"{id_col} long, cluster int, dist double"

    # the cap counts vector cells; an empty vector still counts one
    base, tbl = bounded_arrow(
        base, DRIVER_KMEANS_CELL_CAP, weight=F.greatest(F.size("iv"), F.lit(1))
    )
    if tbl is not None:
        ids, idx, dist, centroids = _kmeans_driver(tbl, k, n_iter, id_col)
        assigned = spark.createDataFrame(
            pd.DataFrame({id_col: ids, "cluster": idx, "dist": dist}),
            schema=out_schema,
        )
    else:
        assigned, centroids = _kmeans_distributed(
            base, k, n_iter, id_col, out_schema
        )
    if return_centroids:
        return assigned, centroids.astype(np.float64) / SCALE
    return assigned


def _kmeans_driver(tbl, k: int, n_iter: int, id_col: str):
    """The Lloyd loop on the collected Arrow corpus: (ids, cluster,
    dist, int64 centroids). Rows take the distributed init's order, id
    ascending with NULL ids first (its orderBy's asc_nulls_first); a
    zero-row corpus returns that path's (0, 1) empty centroids."""
    import numpy as np

    rows = sorted(
        zip(tbl.column(id_col).to_pylist(), tbl.column("iv").to_pylist()),
        key=lambda r: (r[0] is not None, r[0]),
    )
    ids = [r[0] for r in rows]
    if not rows:
        empty = np.zeros((0, 1), dtype=np.int64)
        return ids, np.zeros(0, np.int32), np.zeros(0), empty
    X = np.array([r[1] for r in rows], dtype=np.int64)
    centroids = X[:k].copy()
    for _ in range(n_iter):
        idx = _exact_d2(X, centroids).argmin(axis=1)
        kk = centroids.shape[0]
        sums = np.zeros_like(centroids)
        np.add.at(sums, idx, X)
        counts = np.bincount(idx, minlength=kk).astype(np.int64)
        live = counts > 0
        centroids[live] = np.floor_divide(
            2 * sums[live] + counts[live][:, None],
            2 * counts[live][:, None],
        )
    d2 = _exact_d2(X, centroids)
    idx = d2.argmin(axis=1)
    dist = _round_half_up_6(
        np.sqrt(d2[np.arange(len(idx)), idx].astype(np.float64)) / SCALE
    )
    return ids, idx.astype(np.int32), dist, centroids


def _kmeans_distributed(base, k, n_iter, id_col, out_schema):
    """The distributed Lloyd loop: (assigned frame, int64 centroids)."""
    import numpy as np
    import pandas as pd

    spark = base.sparkSession
    init_rows = base.orderBy(id_col).limit(k).collect()
    if not init_rows:
        # empty corpus: the round loop's k*D contract check would
        # IndexError on a zero-row init
        return (
            spark.createDataFrame([], out_schema),
            np.zeros((0, 1), dtype=np.int64),
        )
    centroids = np.array([r["iv"] for r in init_rows], dtype=np.int64)  # (k, D)

    def make_assign(cent: "np.ndarray"):
        b = spark.sparkContext.broadcast(cent)

        def run(batches):
            C = b.value  # (k, D) int64
            for pdf in batches:
                X = np.array(list(pdf["iv"]), dtype=np.int64)  # (N, D)
                d2 = _exact_d2(X, C)
                idx = d2.argmin(axis=1)  # first min = lowest cluster id
                dist = _round_half_up_6(
                    np.sqrt(
                        d2[np.arange(len(idx)), idx].astype(np.float64)
                    )
                    / SCALE
                )
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col],
                        "cluster": idx.astype(np.int32),
                        "dist": dist,
                    }
                )

        return run

    def make_partial_sums(cent: "np.ndarray"):
        """Assignment + per-batch partial centroid sums in one kernel:
        emits (cluster, dim, sx, n) -- k*D rows per Arrow batch -- so
        the centroid update is a tiny EXACT-integer aggregate over
        batch partials instead of a corpus-sized posexplode plus an
        id-join."""
        b = spark.sparkContext.broadcast(cent)

        def run(batches):
            C = b.value
            for pdf in batches:
                X = np.array(list(pdf["iv"]), dtype=np.int64)  # (N, D)
                d2 = _exact_d2(X, C)
                idx = d2.argmin(axis=1)  # (N,)
                kk, D = C.shape
                if X.shape[1] != D:
                    raise ValueError(
                        f"embedding dim {X.shape[1]} != centroid dim {D}; "
                        "embedding column has inconsistent dimensions"
                    )
                sums = np.zeros((kk, D), dtype=np.int64)
                np.add.at(sums, idx, X)
                counts = np.bincount(idx, minlength=kk).astype(np.int64)
                live = np.flatnonzero(counts)
                yield pd.DataFrame(
                    {
                        "cluster": np.repeat(live, D).astype(np.int32),
                        "dim": np.tile(np.arange(D, dtype=np.int32), len(live)),
                        "sx": sums[live].ravel(),
                        "n": np.repeat(counts[live], D),
                    }
                )

        return run

    for _ in range(n_iter):
        # update: exact integer component sums per (cluster, dim)
        # from batch partials -- k*D rows back to the driver, no
        # corpus shuffle at all; the mean lands back on the 1e-6
        # grid via round_half_up(S/n) = floor((2S+n)/(2n))
        sums = (
            base.mapInPandas(
                make_partial_sums(centroids),
                schema="cluster int, dim int, sx long, n long",
            )
            .groupBy("cluster", "dim")
            .agg(F.sum("sx").alias("sx"), F.sum("n").alias("n"))
            .collect()
        )
        # Contract check: the driver-side traffic is k*D rows BY
        # CONSTRUCTION (cluster in [0,k) from argmin, dim in [0,D)).
        if len(sums) > k * centroids.shape[1]:
            raise ValueError(
                f"centroid update returned {len(sums)} rows > k*D = "
                f"{k * centroids.shape[1]}"
            )
        new_c = centroids.copy()
        for r in sums:
            new_c[r["cluster"], r["dim"]] = (2 * r["sx"] + r["n"]) // (
                2 * r["n"]
            )
        centroids = new_c

    # the final assignment reads the same checkpoint as the rounds
    assigned = base.mapInPandas(make_assign(centroids), schema=out_schema)
    return assigned, centroids


def kmeans_inertia(assigned: DataFrame) -> float:
    """Sum of squared distances -- the quantity Lloyd's monotonically
    non-increases (up to centroid-quantization and rounding noise)."""
    row = assigned.agg(
        F.sum(F.col("dist") * F.col("dist")).alias("inertia")
    ).collect()[0]
    return float(row["inertia"])
