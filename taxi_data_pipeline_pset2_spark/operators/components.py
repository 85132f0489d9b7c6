"""Connected components over candidate-duplicate pairs, and the
cluster-resolution step that turns near-dup PAIRS into canonical
SURVIVORS (SURVEY.md 2b dedup surface: pair generation lives in
operators/dedup.py; this is the missing back half a pretraining
pipeline runs after it).

Not present in the reference (batch BI pipeline); standard practice for
corpus dedup: `jaccard_pairs` / `minhash_candidate_pairs` emit edges
(doc_a, doc_b); duplicates are the connected components of that graph,
and exactly one doc per component survives.

Algorithm: the alternating large-star / small-star method (Kiveris et
al., "Connected Components in MapReduce and Beyond", SoCC'14) -- the
same algorithm GraphFrames uses. Why not simple min-label propagation:
that needs O(diameter) rounds, and near-dup graphs can chain (A~B~C...)
into long paths; alternation converges in O(log^2 n) rounds regardless
of diameter, each round a fixed two-shuffle DataFrame program.

100 TB notes: per round, each star op is ONE hash shuffle (an
aggregate min per node joined back) plus a distinct; no collect, no
driver-side graph. State is the edge set itself, monotonically
contracting toward stars. The rounds run in driver_path.iterate, which
localCheckpoints each one so the plan does not grow with iterations
(the classic iterative-Spark failure mode), and detects convergence by
an (edge-count, xxhash64-checksum) pair observed on that checkpoint --
no extra job, not a full self-comparison join.

Small-edge-set fast path: candidate-pair frames are DUP-sized, not
corpus-sized, and usually fit the driver with room to spare; up to
``DRIVER_CC_EDGE_CAP`` edges the components come from one Arrow collect
and an exact union-find (identical output, no per-round Spark jobs; see
operators/driver_path.py). Above the cap the distributed alternation
runs, so the operator never depends on the graph fitting anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from taxi_data_pipeline_pset2_spark.operators.driver_path import (
    bounded_arrow,
    iterate,
)

# O(log^2 n) expected; 50 rounds covers any conceivable corpus. Hitting
# the cap raises NotConverged rather than silently returning a partial
# clustering.
MAX_CC_ROUNDS = 50

# Edge sets at or below this size resolve on the driver (~16 bytes/edge
# -> a few MB).
DRIVER_CC_EDGE_CAP = 200_000


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to the
    minimum of u's closed neighborhood. Emits (v, m) for v > u.

    The per-node minimum is a map-side-combined AGGREGATE joined back,
    not a window (the skew fix of the k-core pattern): an unbounded-frame
    window buffers a hub's entire neighbor list inside one task, while
    the aggregate reduces it map-side and the join streams -- same
    shuffle key, no per-key buffer."""
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.min("v").alias("_mn"))
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(
            F.col("v").alias("u"),
            F.least(F.col("u"), F.col("_mn")).alias("v"),
        )
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Direct every edge high->low, then for each node u connect u and
    all of its smaller neighbors to the minimum neighbor. Same
    aggregate-join shape as _large_star (never a per-node window)."""
    directed = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    mins = directed.groupBy("u").agg(F.min("v").alias("m"))
    star = directed.join(mins, "u")
    out = star.select(F.col("v").alias("u"), F.col("m").alias("v")).union(
        star.select("u", "m")
    )
    return out.filter(F.col("u") != F.col("v")).distinct()


def _driver_components(edges: DataFrame, tbl) -> DataFrame:
    """Exact union-find over the collected Arrow edge table; emits the
    same (node, component-min) rows as the distributed path."""
    from pyspark.sql.types import StructField, StructType

    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    us, vs = tbl.column("u").to_pylist(), tbl.column("v").to_pylist()
    for u, v in zip(us, vs):
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ra, rb = find(u), find(v)
        if ra != rb:
            parent[ra] = rb
    comp_min: dict = {}
    for n in parent:
        root = find(n)
        if root not in comp_min or n < comp_min[root]:
            comp_min[root] = n
    out = [(n, comp_min[find(n)]) for n in parent]
    schema = StructType(
        [
            StructField("node", edges.schema["u"].dataType),
            StructField("component", edges.schema["u"].dataType),
        ]
    )
    return edges.sparkSession.createDataFrame(out, schema)


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_rounds: int = MAX_CC_ROUNDS,
) -> DataFrame:
    """(node, component) for every node appearing in ``pairs``, where
    ``component`` is the minimum node id in its connected component.

    Only nodes present in at least one pair are returned -- an isolated
    doc is its own survivor and needs no row (callers left-join).

    Edge sets up to DRIVER_CC_EDGE_CAP resolve on the driver by exact
    union-find (see operators/driver_path.py); larger sets run the
    distributed star alternation, which raises NotConverged when it
    exhausts ``max_rounds`` (>= 1).
    """
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    edges, tbl = bounded_arrow(
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct(),
        DRIVER_CC_EDGE_CAP,
    )
    if tbl is not None:
        return _driver_components(edges, tbl)
    # decimal(38,0) accumulator: a bigint sum of 64-bit hashes overflows
    # under ANSI mode on any non-trivial edge set
    checksum = F.struct(
        F.count("*"), F.sum(F.xxhash64("u", "v").cast("decimal(38,0)"))
    )
    edges = iterate(
        "connected_components",
        edges,
        lambda e: _small_star(_large_star(e)),
        max_rounds=max_rounds,
        fingerprint=checksum,
    )
    # At the fixpoint every edge is (node, component-min); roots appear
    # only on the right-hand side and map to themselves.
    children = edges.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = edges.select(F.col("v").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    return children.union(roots)


def resolve_duplicate_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
    keep_best_col: str | None = None,
) -> DataFrame:
    """Keep exactly one doc per near-dup cluster.

    Default survivor is the MIN id (cheap: the component label itself).
    With ``keep_best_col`` the survivor is the cluster member with the
    HIGHEST value of that column (ties by min id) -- what a curation
    pipeline wants when dups differ in quality score, resolution, or
    recency: dedup should keep the best copy, not an arbitrary one.

    ``pairs`` is any candidate-pair frame (`jaccard_pairs`,
    `minhash_candidate_pairs`, embedding near-dup); docs in no pair
    survive untouched. One left-anti join against the non-survivor set:
    scan-shaped on the 100 TB side, the dropped-id side is dup-sized.
    The best-member window runs over the dup-sized membership frame
    (comp is broadcast onto the doc scan to fetch scores), never the
    corpus.
    """
    comp = connected_components(pairs, src, dst)
    if keep_best_col is None:
        # survivor = min PRESENT member, not the raw component label:
        # when pairs reference ids filtered out of docs upstream (or
        # were computed on a superset corpus), the component minimum
        # may be absent -- the label-based anti-join would then drop
        # EVERY remaining copy and the cluster would contribute zero
        # survivors (silent data loss), where the keep_best_col branch
        # correctly keeps a present member. Membership is dup-sized,
        # comp broadcasts onto the doc scan.
        members = docs.select(F.col(id_col)).join(
            F.broadcast(comp.withColumnRenamed("node", id_col)), id_col
        )
        surv = members.groupBy("component").agg(F.min(id_col).alias("_sid"))
        losers = (
            members.join(surv, "component")
            .filter(F.col(id_col) != F.col("_sid"))
            .select(id_col)
        )
        return docs.join(losers, id_col, "left_anti")
    members = docs.select(
        F.col(id_col), F.col(keep_best_col).alias("_score")
    ).join(
        F.broadcast(comp.withColumnRenamed("node", id_col)), id_col
    )
    # survivor = (max score, then min id) via map-side-combined
    # aggregates + joins, NOT a per-component row_number window (a
    # skew fix): a pathological corpus that chains into one giant
    # cluster would sort the whole membership inside one window task,
    # while aggregates combine map-side. eqNullSafe keeps the
    # all-scores-NULL cluster on the old desc_nulls_last semantics
    # (everyone ties -> min id survives), and max() is type-generic
    # (scores may be timestamps, not just doubles).
    best = members.groupBy("component").agg(F.max("_score").alias("_mx"))
    surv = (
        members.join(best, "component")
        .filter(F.col("_score").eqNullSafe(F.col("_mx")))
        .groupBy("component")
        .agg(F.min(id_col).alias("_sid"))
    )
    losers = (
        members.join(surv, "component")
        .filter(F.col(id_col) != F.col("_sid"))
        .select(id_col)
    )
    return docs.join(losers, id_col, "left_anti")
