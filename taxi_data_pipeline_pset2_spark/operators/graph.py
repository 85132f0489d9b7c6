"""Graph operators over an edge-list DataFrame -- the family started by
connected components (operators/components.py):

 - pagerank: authority scoring (power iteration, join-aggregate
   rounds);
 - triangle_counts: per-node triangles and local clustering
   coefficient (degree orientation);
 - label_propagation: deterministic community detection;
 - kcore: core numbers by H-index iteration;
 - degree_assortativity: the degree correlation of an undirected
   graph, one row.

Pipeline uses: a quality prior for documents in a link/citation graph,
influence ranking and dense-nucleus extraction in an interaction graph.

Every operator runs at the session's shuffle width (AQE coalesces the
small exchanges); none writes the session conf. The iterative ones
(pagerank, LPA, kcore) hand their cleaned edge set to
operators/driver_path.py, which checkpoints it once. When it fits a cap
the driver kernel runs on its Arrow table; otherwise the operator's
round function runs in driver_path.iterate from that checkpoint, which
owns the lineage cadence, kcore's convergence check and its
NotConverged. triangle_counts and degree_assortativity are single lazy
plans over one canonical-edge front (_canonical_edges).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from taxi_data_pipeline_pset2_spark.operators.driver_path import (
    NotConverged,
    bounded_arrow,
    iterate,
    record_rounds,
)


def _canonical_edges(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """The undirected simple graph as distinct string pairs (a, b) with
    a < b. least/greatest skip NULLs, so an edge with one NULL endpoint
    becomes a == b and drops with the self-loops; both-NULL edges fail
    the comparison. Parallel and reversed listings collapse."""
    s, t = F.col(src_col).cast("string"), F.col(dst_col).cast("string")
    return (
        edges.select(F.least(s, t).alias("a"), F.greatest(s, t).alias("b"))
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )


# Cleaned edges up to this many rows run the power iteration in numpy
# on the driver (operators/driver_path.py): 4M edges x ~24 B of
# id/weight state is tens of MB.
DRIVER_PAGERANK_EDGE_CAP = 4_000_000


def _pagerank_driver(spark, edges_tbl, damping, n_iter):
    """Driver-side power iteration over the collected Arrow edge table:
    the same update rule as the distributed loop -- per-edge
    contribution ``(rank[src] * w) / deg[src]`` (left-associated
    exactly like the Spark expression), dangling mass redistributed
    uniformly, rank' = (1-d)/n + d*dang/n + d*contrib -- followed by
    the identical scaled-bigint 8-dp rounding and (rank desc, node asc)
    order. The node set and out-degrees derive here from the same edge
    rows the distributed aggregate sums (weights are > 0 by the entry
    filter, so deg == 0 identifies dangling exactly like the NULL-_deg
    rule). Float sums associate in edge order where the distributed
    aggregate associates per partition; both land on the same 8-dp grid
    (the DuckDB oracle, which sums in a third order, pins both paths --
    verified at sf0.001/0.01/0.1 and on the key-permuted twin corpus;
    integer-valued weights, the common case, sum exactly in any
    order)."""
    import decimal

    import numpy as np
    import pandas as pd

    src = edges_tbl.column("src").to_pandas()
    dst = edges_tbl.column("dst").to_pandas()
    w = edges_tbl.column("_w").to_numpy(zero_copy_only=False)
    node_arr = pd.unique(pd.concat([src, dst], ignore_index=True))
    n = len(node_arr)
    if n == 0:
        return spark.createDataFrame([], "node string, rank double")
    idx = pd.Series(np.arange(n, dtype=np.int64), index=node_arr)
    src_i = idx[src].to_numpy()
    dst_i = idx[dst].to_numpy()
    deg = np.bincount(src_i, weights=w, minlength=n)
    dangling = deg == 0.0
    deg_src = deg[src_i]
    rank = np.full(n, 1.0 / n, dtype=np.float64)
    base_term = (1.0 - damping) / n
    for _ in range(n_iter):
        vals = (rank[src_i] * w) / deg_src
        contrib = np.zeros(n, dtype=np.float64)
        np.add.at(contrib, dst_i, vals)
        dang = float(rank[dangling].sum())
        rank = (base_term + damping * dang / n) + damping * contrib
    # scaled-bigint 8-dp rounding, same as the distributed tail:
    # HALF_UP on the IEEE product rank*1e8 (BigDecimal semantics); the
    # fast floor(p + .5) form is re-checked through exact decimal near
    # .5 boundaries, the _round_half_up_6 discipline at 1e8 scale
    p = rank * 1e8
    scaled = np.floor(p + 0.5)
    frac = p - np.floor(p)
    near = np.abs(frac - 0.5) < 1e-9
    if near.any():
        for j in np.flatnonzero(near):
            scaled[j] = float(
                decimal.Decimal(float(p[j])).quantize(
                    decimal.Decimal(1), rounding=decimal.ROUND_HALF_UP
                )
            )
    out = pd.DataFrame({"node": node_arr, "rank": scaled / 1e8})
    out = out.sort_values(
        ["rank", "node"], ascending=[False, True], kind="mergesort"
    )
    res = spark.createDataFrame(out, schema="node string, rank double")
    # a tiny node-sized sort: keeps the declared ordering a plan fact
    # (not a row-order accident) for any downstream consumer
    return res.orderBy(F.desc("rank"), "node")


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    damping: float = 0.85,
    n_iter: int = 10,
    weight_col: str | None = None,
) -> DataFrame:
    """Node ranks after ``n_iter`` power-iteration rounds (Page, Brin,
    Motwani & Winograd 1999): (node, rank) with sum(rank) == 1, ordered
    rank desc, node asc. Parallel edges count multiply (weight by
    repetition); with ``weight_col`` each edge carries that
    non-negative weight instead (a node's rank splits across out-edges
    proportionally to weight -- parallel weighted edges are equivalent
    to one summed edge). Self-loops are legitimate edges. NULL
    endpoints, NULL weights and weight <= 0 edges are dropped (a
    zero-weight edge carries nothing and must not make its source
    non-dangling).

    Per round, rank' = (1-d)/N + d * (contrib + dangling/N): the
    node-sized rank frame is joined onto the edges (hash-partitioned by
    src once and persisted), contributions aggregate by dst, and the
    dangling mass folds in as a scalar inside the plan -- never the
    rank vector on the driver. tests/test_graph.py pins the loop
    against a python power iteration and closed-form graphs; the
    pagerank_supplier_customer catalog entry carries an unrolled DuckDB
    twin.

    Graphs up to DRIVER_PAGERANK_EDGE_CAP cleaned edges run on the
    driver; see operators/driver_path.py for the contract."""
    if not 0 < damping < 1:
        raise ValueError(f"damping must be in (0,1), got {damping}")
    w_expr = (
        F.col(weight_col).cast("double")
        if weight_col
        else F.lit(1.0)
    )
    e_raw = edges.select(
        F.col(src_col).cast("string").alias("src"),
        F.col(dst_col).cast("string").alias("dst"),
        w_expr.alias("_w"),
    ).filter(
        F.col("src").isNotNull()
        & F.col("dst").isNotNull()
        & (F.col("_w") > 0)
    )
    # checkpointed BEFORE the distributed setup: the under-cap path never
    # pays the src repartition shuffle, and the distributed path
    # repartitions the checkpoint instead of re-reading the scan
    e_raw, tbl = bounded_arrow(e_raw, DRIVER_PAGERANK_EDGE_CAP)
    if tbl is not None:
        return _pagerank_driver(edges.sparkSession, tbl, damping, n_iter)
    e = e_raw.repartition("src").persist()
    # out-degree folded INTO the rank frame once: each round would
    # otherwise re-join ranks-to-deg twice (dangling scan + contrib
    # scan) and pay a driver collect for the dangling scalar. Carrying
    # _deg through the rounds makes one round = one materialization:
    # the dangling mass is a broadcast 1-row aggregate inside the plan.
    # Built as ONE aggregate: src rows carry their weight, dst rows a
    # NULL -- sum() ignores NULLs, so a node with no out-edge sums to
    # NULL _deg (dangling), and the node set is the aggregate's key set.
    nodes_deg = (
        e.select(F.col("src").alias("node"), F.col("_w"))
        .unionAll(
            e.select(
                F.col("dst").alias("node"),
                F.lit(None).cast("double").alias("_w"),
            )
        )
        .groupBy("node")
        .agg(F.sum("_w").alias("_deg"))
        .persist()
    )

    def power_round(ranks: DataFrame) -> DataFrame:
        # ONE aggregate per round: three branches union into a single
        # node-keyed hash aggregate --
        #  (a) edge contributions: ranks is node-sized, broadcast onto
        #      the persisted edge partitions (at node counts past
        #      broadcast range Spark falls back to the src-partitioned
        #      sort-merge join against the pre-partitioned edges --
        #      still node-sized traffic, never the edges);
        #  (b) the dangling mass, keyed by a NULL node (real nodes are
        #      non-NULL by the entry filter, so NULL is a free marker
        #      and groupBy keeps it as its own group);
        #  (c) nodes_deg as zero-contribution rows carrying _deg, so the
        #      aggregate's key set is the node set and _deg rides
        #      through max() (NULL-ignoring) -- no left join; its
        #      exact-0.0 addends cannot move an IEEE sum.
        grouped = (
            e.join(
                F.broadcast(ranks.filter(F.col("_deg").isNotNull())),
                e.src == F.col("node"),
            )
            .select(
                F.col("dst").alias("node"),
                F.lit(None).cast("double").alias("_deg"),
                (F.col("rank") * F.col("_w") / F.col("_deg")).alias("_c"),
            )
            .unionAll(
                ranks.filter(F.col("_deg").isNull()).select(
                    F.lit(None).cast("string").alias("node"),
                    F.lit(None).cast("double").alias("_deg"),
                    F.col("rank").alias("_c"),
                )
            )
            .unionAll(nodes_deg.select("node", "_deg", F.lit(0.0).alias("_c")))
            .groupBy("node")
            .agg(F.max("_deg").alias("_deg"), F.sum("_c").alias("_contrib"))
        )
        # the NULL-node group is the dangling mass; agg always yields
        # one row (0.0 when no node dangles), and the identical exchange
        # subtree is computed once (reused exchange) for both consumers
        dang = grouped.filter(F.col("node").isNull()).agg(
            F.coalesce(F.sum("_contrib"), F.lit(0.0)).alias("_dang")
        )
        return (
            grouped.filter(F.col("node").isNotNull())
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                "_deg",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping) * F.col("_dang") / n
                    + F.lit(damping) * F.col("_contrib")
                ).alias("rank"),
            )
        )

    try:
        n = nodes_deg.count()
        if n == 0:
            return edges.sparkSession.createDataFrame(
                [], "node string, rank double"
            )
        # Eager checkpoint every 2 rounds: one per round is one more
        # job per round, mostly fixed overhead; at sf0.1 cadence 1/2/3
        # landed within ~5% of each other. Cadence >= ~8 OOM'd the
        # driver when the rounds between were persisted, each holding a
        # PENDING broadcast of the rank frame; lazy checkpoints run each
        # round's broadcast when the round is planned, but no larger
        # cadence has been measured since.
        ranks = iterate(
            "pagerank",
            nodes_deg.withColumn("rank", F.lit(1.0 / n)),
            power_round,
            max_rounds=n_iter,
            checkpoint_every=2,
        )
    finally:
        e.unpersist()
        nodes_deg.unpersist()
    # 8-dp rounding via the catalog's scaled-bigint discipline (round the
    # IEEE product, not the shortest-decimal repr) so a DuckDB oracle can
    # reproduce the value bit-exactly -- see queries/catalog.py docstring.
    return ranks.select(
        "node",
        (F.round(F.col("rank") * F.lit(1e8)).cast("bigint") / F.lit(1e8)).alias(
            "rank"
        ),
    ).orderBy(F.desc("rank"), "node")


def triangle_counts(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node triangle counts and local clustering coefficient over an
    UNDIRECTED simple graph: (node, degree, triangles, clustering) with
    clustering = 2*T / (deg*(deg-1)), NULL when deg < 2, 6-dp rounded,
    ordered by node. Self-loops, NULL endpoints and parallel edges are
    dropped (degree = distinct-neighbor count).

    Scale shape -- the degree-orientation trick (Chiba & Nishizeki 1985;
    the standard MapReduce/Spark formulation): each canonical edge is
    oriented from its lower-(degree, node) endpoint to the higher one,
    so every wedge is generated at its lowest-degree apex and each
    triangle is emitted EXACTLY once. Wedge work is sum of oriented
    out-degree squared, O(m^1.5) worst case -- a hub with degree 10^6
    in a skewed graph generates no wedges at its own apex because all
    its edges point INTO it. Three node-keyed hash joins, one explode
    (3 rows per triangle), one hash aggregate; the degree frame is
    node-sized. One lazy plan: nothing runs until the caller's action,
    and the canonical-edge exchange is computed once and reused by
    every branch that reads it. Deterministic under any partitioning,
    so it carries a full DuckDB oracle twin (unlike the iterative
    pagerank/LPA siblings)."""
    e0 = _canonical_edges(edges, src_col, dst_col)
    deg = (
        e0.select(F.col("a").alias("node"))
        .union(e0.select(F.col("b")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("degree"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("degree").alias("_da"))
    db = deg.select(F.col("node").alias("b"), F.col("degree").alias("_db"))
    lo_first = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b"))
    )
    oriented = (
        e0.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("lo"),
            F.when(lo_first, F.col("b")).otherwise(F.col("a")).alias("hi"),
            F.when(lo_first, F.col("_db")).otherwise(F.col("_da")).alias("_dhi"),
        )
    )
    o1, o2, o3 = (oriented.alias(f"o{i}") for i in (1, 2, 3))
    hi_order = (F.col("o1._dhi") < F.col("o2._dhi")) | (
        (F.col("o1._dhi") == F.col("o2._dhi"))
        & (F.col("o1.hi") < F.col("o2.hi"))
    )
    tri = (
        o1.join(o2, (F.col("o1.lo") == F.col("o2.lo")) & hi_order)
        .join(
            o3,
            (F.col("o3.lo") == F.col("o1.hi")) & (F.col("o3.hi") == F.col("o2.hi")),
        )
        .select(
            F.explode(
                F.array(F.col("o1.lo"), F.col("o1.hi"), F.col("o2.hi"))
            ).alias("node")
        )
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("_t"))
    )
    t = F.coalesce(F.col("_t"), F.lit(0))
    return (
        deg.join(tri, "node", "left")
        .select(
            "node",
            "degree",
            t.cast("bigint").alias("triangles"),
            F.round(
                F.when(
                    F.col("degree") >= 2,
                    2.0 * t / (F.col("degree") * (F.col("degree") - 1.0)),
                ),
                6,
            ).alias("clustering"),
        )
        .orderBy("node")
    )


# Driver cap for the integer graph loops (kcore, LPA), counted over the
# SYMMETRIZED edge frame (2x the undirected edges). Both are all-integer
# with deterministic tie-breaks, so the driver loop is exactly the
# distributed fixpoint, not merely equal after rounding.
DRIVER_GRAPH_EDGE_CAP = 4_000_000


def _lex_indexed_sym(sym_tbl):
    """Collected symmetrized edges -> (nodes_sorted, a_idx, b_idx) with
    node index == lexicographic rank, so integer comparisons on indices
    reproduce Spark's UTF8 string ordering exactly (valid-UTF-8 byte
    order == codepoint order)."""
    import numpy as np
    import pandas as pd

    a = sym_tbl.column("a").to_pandas()
    b = sym_tbl.column("b").to_pandas()
    nodes = sorted(set(a) | set(b))
    idx = pd.Series(
        np.arange(len(nodes), dtype=np.int64), index=np.asarray(nodes, dtype=object)
    )
    return nodes, idx[a].to_numpy(), idx[b].to_numpy()


def _lpa_driver(spark, sym_tbl, n_iter):
    """Driver-side synchronous LPA over collected edges: identical
    update (most frequent neighbor label, ties to the SMALLEST label)
    computed on lex-rank integer labels, so every round is bit-exactly
    the distributed round's (count desc, label asc) row_number pick."""
    import numpy as np
    import pandas as pd

    nodes, a_idx, b_idx = _lex_indexed_sym(sym_tbl)
    n = len(nodes)
    lab = np.arange(n, dtype=np.int64)  # own id; index order == lex order
    for _ in range(n_iter):
        votes = a_idx * n + lab[b_idx]
        uk, counts = np.unique(votes, return_counts=True)
        ua, ul = uk // n, uk % n
        # winner per node: max count, then smallest label -- np.unique
        # returns keys sorted, so within each ua block ul is ascending
        # and a stable argmax-by-count picks the smallest-label tie
        order = np.lexsort((ul, -counts, ua))
        first = np.flatnonzero(np.diff(ua[order], prepend=-1))
        lab = ul[order][first]  # ua blocks ascend => index == node
    arr = np.asarray(nodes, dtype=object)
    out = pd.DataFrame({"node": arr, "label": arr[lab]})
    res = spark.createDataFrame(out, schema="node string, label string")
    return res.orderBy("node")


def label_propagation(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    n_iter: int = 5,
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan,
    Albert & Kumara 2007), made DETERMINISTIC: each round every node
    adopts the most frequent label among its neighbors, ties broken by
    the SMALLEST label (the stock algorithm's random tie-break makes
    runs irreproducible; the ordered tie-break trades a little mixing
    for bit-stable output). Edges are treated as UNDIRECTED; initial
    label = the node's own id. Returns (node, label) ordered by node.

    The coarse, cheap cousin of connected components
    (operators/components.py): components answer "reachable at all",
    LPA splits a connected graph into densely-knit communities.
    Per round: one join of the (node, label) frame onto the checkpointed
    symmetrized edges + one (node, label) count aggregate + one
    per-node argmax window -- node/edge-shaped work only, the label
    frame localCheckpoint'ed every round by driver_path.iterate.
    Graphs up to DRIVER_GRAPH_EDGE_CAP symmetrized edges run on the
    driver; see operators/driver_path.py for the contract."""
    return _undirected_loop(
        edges, src_col, dst_col,
        lambda spark, tbl: _lpa_driver(spark, tbl, n_iter),
        lambda sym: _lpa_body(sym, n_iter),
    )


def _undirected_loop(
    edges: DataFrame, src_col: str, dst_col: str, driver, body
) -> DataFrame:
    """The shared front of LPA and kcore: build the symmetrized
    simple-graph edge frame (a, b), checkpointed once by bounded_arrow,
    then return ``driver(spark, tbl)`` when it fits
    DRIVER_GRAPH_EDGE_CAP, else ``body(sym)`` on the checkpoint.

    Hygiene (the triangles rule): NULL endpoints and self-loops drop,
    duplicate/bidirectional listings collapse -- a self-loop would
    vote a node's own label with weight 2 every LPA round (frozen
    singleton) and a duplicate listing would double a neighbor's vote,
    making the result depend on how the same undirected graph is
    SPELLED."""
    e = edges.select(
        F.col(src_col).cast("string").alias("a"),
        F.col(dst_col).cast("string").alias("b"),
    ).filter(
        F.col("a").isNotNull()
        & F.col("b").isNotNull()
        & (F.col("a") != F.col("b"))
    )
    sym, tbl = bounded_arrow(
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct(),
        DRIVER_GRAPH_EDGE_CAP,
    )
    if tbl is None:
        return body(sym)
    return driver(edges.sparkSession, tbl)


def _lpa_body(sym: DataFrame, n_iter: int) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("node").orderBy(F.desc("_cnt"), F.asc("label"))

    def vote(labels: DataFrame) -> DataFrame:
        neigh = (
            sym.join(
                labels.withColumnRenamed("node", "b"), "b"
            )  # label of each neighbor b, delivered to node a
            .groupBy(F.col("a").alias("node"), "label")
            .agg(F.count("*").alias("_cnt"))
        )
        return (
            neigh.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") == 1)
            .select("node", "label")
        )

    nodes = sym.select(F.col("a").alias("node")).distinct()
    labels = iterate(
        "label_propagation",
        nodes.withColumn("label", F.col("node")),
        vote,
        max_rounds=n_iter,
    )
    return labels.orderBy("node")


def _kcore_driver(spark, sym_tbl, max_iter):
    """Driver-side H-index iteration over collected edges: identical
    integer update (H = max over neighbor ranks r of min(r, v_r-desc)),
    identical unique fixpoint, and the same round count and record as
    the distributed loop (both stop at the first round that changes no
    node)."""
    import time

    import numpy as np
    import pandas as pd

    t0 = time.perf_counter()
    nodes, a_idx, b_idx = _lex_indexed_sym(sym_tbl)
    n = len(nodes)
    cur = np.bincount(a_idx, minlength=n).astype(np.int64)  # degree init
    rounds = 0
    converged = False
    for _ in range(max_iter):
        v = cur[b_idx]
        order = np.lexsort((-v, a_idx))  # by node, value desc
        va, aa = v[order], a_idx[order]
        starts = np.flatnonzero(np.diff(aa, prepend=-1))
        rank = np.arange(len(aa), dtype=np.int64) - np.repeat(
            starts, np.diff(np.r_[starts, len(aa)])
        )
        new = np.maximum.reduceat(np.minimum(rank + 1, va), starts)
        rounds += 1
        converged = np.array_equal(new, cur)
        cur = new
        if converged:
            break
    record_rounds("kcore", rounds, converged, time.perf_counter() - t0)
    if not converged:
        raise NotConverged("kcore", rounds)
    out = pd.DataFrame({"node": np.asarray(nodes, dtype=object), "core": cur})
    res = spark.createDataFrame(out, schema="node string, core bigint")
    return res.orderBy("node")


def kcore(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 100,
) -> DataFrame:
    """Core number per node -- the largest k such that the node sits in
    a subgraph where everyone keeps >= k neighbors: (node, core)
    ordered by node. The density ladder between connected components
    ("reachable at all") and triangles ("locally clustered"): the
    k-core is THE standard dense-nucleus extractor for graph cleanup
    and influence seeding.

    Computed by H-index iteration (Lu, Zhou et al., Nature
    Communications 2016): init every node at its degree, then
    repeatedly set h(v) = H-index of its neighbors' current values
    (the largest h with >= h neighbors valued >= h); the sequence is
    non-increasing and converges to the coreness EXACTLY, usually in
    a handful of rounds on real (small-diameter) graphs. The honest
    worst case is O(diameter), NOT logarithmic: on a path graph the
    value-1 region advances one hop per round from each end, so a
    D-diameter chain needs ~D/2 rounds -- which is why exhausting
    ``max_iter`` (>= 1) without converging raises ``NotConverged``
    (raise max_iter for diameter-shaped graphs) instead of returning
    the still-wrong interim values. The fixpoint is unique, so output
    is deterministic no matter how many rounds convergence took.

    Per round: one node-keyed join of the value frame onto the
    checkpointed symmetrized edges, one per-node descending window (the
    H-index is max over rank r of min(r, value_r)), one hash
    aggregate, run by driver_path.iterate: a localCheckpoint per round,
    whose observed sum(core) detects the fixpoint in that same job.
    Both paths stop at the first round that changes no node and append
    one ``Rounds`` record to an open ``rounds_log()``. Self-loops and
    NULL endpoints drop; parallel edges collapse (simple-graph
    coreness). All-integer and idempotent at the unique fixpoint, so
    despite being iterative it carries a full unrolled-CTE DuckDB twin
    (queries/analytics.py _kcore_oracle, unrolled to
    KCORE_ORACLE_ROUNDS -- see the constant there for the
    convergence-headroom argument); peeling-reference equality in
    tests/test_graph.py. Graphs up to DRIVER_GRAPH_EDGE_CAP symmetrized
    edges run on the driver (see operators/driver_path.py)."""
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    return _undirected_loop(
        edges, src_col, dst_col,
        lambda spark, tbl: _kcore_driver(spark, tbl, max_iter),
        lambda sym: _kcore_body(sym, max_iter),
    )


def _kcore_body(sym: DataFrame, max_iter: int) -> DataFrame:
    from pyspark.sql.window import Window

    # The H-index update uses the tied-group closed form
    # H = max over distinct values v of min(v, count(neighbors with
    # value >= v)) -- identical integers to the rank formulation
    # max_r min(r, v_r-desc) (if the max is attained at rank r with
    # value v_r, it is attained at distinct value v = v_r with
    # cumulative count >= r, and vice versa), but the sort window
    # runs over the (node, DISTINCT value) frame instead of the
    # full edge-shaped neighbor list. On a modest-degree graph the
    # two forms cost the same; this one is kept for the SKEW
    # property: a degree-10^6 hub makes the rank form sort 10^6 rows
    # inside one window partition, while this form's window input is
    # bounded by the hub's DISTINCT neighbor core values (<= max
    # core, and collapsing every round) with the heavy lifting in a
    # combining aggregate. The DuckDB oracle keeps the rank formulation --
    # hash equality of the two forms is itself evidence of the
    # identity.
    w = Window.partitionBy("a").orderBy(F.desc("_v")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )

    def h_index(cur: DataFrame) -> DataFrame:
        neigh = sym.join(
            cur.select(F.col("node").alias("b"), F.col("core").alias("_v")),
            "b",
        )
        return (
            neigh.groupBy("a", "_v")
            .agg(F.count("*").cast("bigint").alias("_c"))
            .select(
                "a",
                F.least(F.col("_v"), F.sum("_c").over(w)).alias("_h"),
            )
            .groupBy(F.col("a").alias("node"))
            .agg(F.max("_h").alias("core"))
        )

    degrees = sym.groupBy(F.col("a").alias("node")).agg(
        F.count("*").cast("bigint").alias("core")
    )
    # every node's core only ever falls, so an unchanged sum(core)
    # means no node changed: the fixpoint, exactly
    cur = iterate(
        "kcore", degrees, h_index, max_rounds=max_iter, fingerprint=F.sum("core")
    )
    return cur.orderBy("node")


def degree_assortativity(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Degree assortativity coefficient of an undirected simple graph
    (Newman, PRL 2002): one row (n_nodes, n_edges, assortativity) with
    the Pearson correlation of endpoint degrees over all edges (each
    edge contributing both orientations, the standard symmetrization).
    Positive = hubs link hubs (social nets), negative = hubs link
    leaves (the internet, star schemas) -- THE one-number structure
    summary next to the clustering coefficient.

    Same hygiene as triangle_counts (self-loops, NULLs, parallel edges
    drop). Shape: canonical-edge distinct + node-sized degree
    aggregate + two degree lookups on the edge list + ONE sufficient-
    statistics aggregate -- all exact integer/decimal sums (degrees
    are ints, so every product is exact), one fixed double formula
    rounded to 6 dp: fully oracle-able, unlike the iterative graph
    siblings. NULL when degree variance is zero (regular graphs --
    assortativity is undefined on K_n or a perfect cycle)."""
    e0 = _canonical_edges(edges, src_col, dst_col)
    deg = (
        e0.select(F.col("a").alias("node"))
        .union(e0.select(F.col("b")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("deg"))
    )
    sym = e0.union(e0.select(F.col("b").alias("a"), F.col("a").alias("b")))
    j = sym.join(
        deg.select(F.col("node").alias("a"), F.col("deg").alias("_dx")), "a"
    ).join(
        deg.select(F.col("node").alias("b"), F.col("deg").alias("_dy")), "b"
    )
    agg = j.agg(
        F.count("*").cast("bigint").alias("_n"),
        F.sum(F.col("_dx").cast("decimal(38,0)")).cast("double").alias("_sx"),
        # cast each FACTOR before the product: the bigint dx*dy would
        # overflow on two adjacent > 3e9-degree hubs BEFORE the decimal
        # accumulator the guard exists for is ever reached
        F.sum(F.col("_dx").cast("decimal(19,0)") * F.col("_dy").cast("decimal(19,0)"))
        .cast("double")
        .alias("_sxy"),
        F.sum(F.col("_dx").cast("decimal(19,0)") * F.col("_dx").cast("decimal(19,0)"))
        .cast("double")
        .alias("_sxx"),
    )
    nodes_cnt = deg.agg(F.count("*").cast("bigint").alias("n_nodes"))
    n = F.col("_n").cast("double")
    # symmetric sums: sy == sx, syy == sxx
    num = n * F.col("_sxy") - F.col("_sx") * F.col("_sx")
    den = n * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    return (
        agg.crossJoin(F.broadcast(nodes_cnt))
        .select(
            "n_nodes",
            (F.col("_n") / 2).cast("bigint").alias("n_edges"),
            F.round(F.when(den > 0, num / den), 6).alias("assortativity"),
        )
    )
