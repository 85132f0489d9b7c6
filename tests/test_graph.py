"""PageRank tests: python power-iteration equality, closed-form
graphs, dangling mass, mass conservation."""

import contextlib

import pytest

from taxi_data_pipeline_pset2_spark.operators.driver_path import (
    NotConverged,
    distributed_only,
    rounds_log,
)
from taxi_data_pipeline_pset2_spark.operators.graph import pagerank


def _reference_pagerank(edges, d=0.85, n_iter=10):
    """From-scratch dict-based power iteration, same update rule."""
    nodes = sorted({s for s, _ in edges} | {t for _, t in edges})
    n = len(nodes)
    out = {}
    for s, t in edges:
        out.setdefault(s, []).append(t)
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(n_iter):
        dangling = sum(r for v, r in rank.items() if v not in out)
        base = (1 - d) / n + d * dangling / n
        new = {v: base for v in nodes}
        for s, ts in out.items():
            share = rank[s] / len(ts)
            for t_ in ts:
                new[t_] += d * share
        rank = new
    return rank


class TestPageRank:
    def test_matches_reference(self, spark):
        edges = [
            ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
            ("d", "c"), ("b", "d"), ("e", "a"),  # e dangling-in, a hub
        ]
        df = spark.createDataFrame(edges, "src string, dst string")
        got = {r.node: r.rank for r in pagerank(df, n_iter=15).collect()}
        ref = _reference_pagerank(edges, n_iter=15)
        assert set(got) == set(ref)
        for v in ref:
            assert got[v] == pytest.approx(ref[v], abs=1e-6)

    def test_mass_conserved_with_dangling(self, spark):
        # b and c have no out-edges: dangling mass redistributes
        df = spark.createDataFrame(
            [("a", "b"), ("a", "c")], "src string, dst string"
        )
        ranks = pagerank(df, n_iter=10).collect()
        assert sum(r.rank for r in ranks) == pytest.approx(1.0, abs=1e-6)
        by = {r.node: r.rank for r in ranks}
        assert by["b"] == pytest.approx(by["c"], abs=1e-7)  # symmetry
        assert by["b"] > by["a"]  # sinks accumulate

    def test_cycle_is_uniform(self, spark):
        df = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
        )
        ranks = pagerank(df, n_iter=20).collect()
        for r in ranks:
            assert r.rank == pytest.approx(1 / 3, abs=1e-7)

    def test_parallel_edges_weight(self, spark):
        # a -> b twice, a -> c once: b gets 2/3 of a's share
        edges = [("a", "b"), ("a", "b"), ("a", "c")]
        df = spark.createDataFrame(edges, "src string, dst string")
        got = {r.node: r.rank for r in pagerank(df, n_iter=8).collect()}
        ref = _reference_pagerank_weighted(edges, n_iter=8)
        for v in ref:
            assert got[v] == pytest.approx(ref[v], abs=1e-7)

    def test_nulls_dropped_and_validation(self, spark):
        df = spark.createDataFrame(
            [("a", "b"), (None, "c"), ("c", None)], "src string, dst string"
        )
        nodes = {r.node for r in pagerank(df, n_iter=2).collect()}
        assert nodes == {"a", "b"}  # NULL-endpoint edges fully dropped
        with pytest.raises(ValueError):
            pagerank(df, damping=1.0)


def _reference_pagerank_weighted(edges, d=0.85, n_iter=10):
    nodes = sorted({s for s, _ in edges} | {t for _, t in edges})
    n = len(nodes)
    out = {}
    for s, t in edges:
        out[s] = out.get(s, 0) + 1
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(n_iter):
        dangling = sum(r for v, r in rank.items() if v not in out)
        base = (1 - d) / n + d * dangling / n
        new = {v: base for v in nodes}
        for s, t in edges:
            new[t] += d * rank[s] / out[s]
        rank = new
    return rank


class TestLabelPropagation:
    def test_two_cliques_two_communities(self, spark):
        from taxi_data_pipeline_pset2_spark.operators.graph import (
            label_propagation,
        )

        def clique(names):
            return [
                (a, b) for a in names for b in names if a < b
            ]

        edges = clique(["a1", "a2", "a3", "a4"]) + clique(
            ["b1", "b2", "b3", "b4"]
        )
        edges.append(("a1", "b1"))  # single bridge
        df = spark.createDataFrame(edges, "src string, dst string")
        out = {r.node: r.label for r in label_propagation(df, n_iter=6).collect()}
        a_labels = {out[n] for n in ["a2", "a3", "a4"]}
        b_labels = {out[n] for n in ["b2", "b3", "b4"]}
        assert len(a_labels) == 1 and len(b_labels) == 1
        assert a_labels != b_labels  # the bridge does not merge cliques

    def test_matches_python_reference(self, spark):
        from taxi_data_pipeline_pset2_spark.operators.graph import (
            label_propagation,
        )

        edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("b", "d")]
        df = spark.createDataFrame(edges, "src string, dst string")
        got = {
            r.node: r.label for r in label_propagation(df, n_iter=3).collect()
        }

        # synchronous reference with the same min-label tie-break
        adj = {}
        for s, t in edges:
            adj.setdefault(s, []).append(t)
            adj.setdefault(t, []).append(s)
        labels = {v: v for v in adj}
        for _ in range(3):
            new = {}
            for v, ns in adj.items():
                counts = {}
                for u in ns:
                    counts[labels[u]] = counts.get(labels[u], 0) + 1
                best = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
                new[v] = best[0][0]
            labels = new
        assert got == labels

    def test_partitioning_invariant(self, spark):
        from taxi_data_pipeline_pset2_spark.operators.graph import (
            label_propagation,
        )

        edges = [("a", "b"), ("b", "c"), ("x", "y")]
        df = spark.createDataFrame(edges, "src string, dst string")
        l1 = sorted(map(tuple, label_propagation(df, n_iter=4).collect()))
        l2 = sorted(
            map(tuple, label_propagation(df.repartition(7), n_iter=4).collect())
        )
        assert l1 == l2


class TestWeightedPageRank:
    def test_weighted_equals_replicated(self, spark):
        # weight 2 on a->b must equal the edge repeated twice
        rep = spark.createDataFrame(
            [("a", "b"), ("a", "b"), ("a", "c"), ("c", "a")],
            "src string, dst string",
        )
        wtd = spark.createDataFrame(
            [("a", "b", 2.0), ("a", "c", 1.0), ("c", "a", 1.0)],
            "src string, dst string, w double",
        )
        r1 = {r.node: r.rank for r in pagerank(rep, n_iter=8).collect()}
        r2 = {
            r.node: r.rank
            for r in pagerank(wtd, n_iter=8, weight_col="w").collect()
        }
        assert r1 == r2

    def test_zero_weight_edge_makes_source_dangling(self, spark):
        wtd = spark.createDataFrame(
            [("a", "b", 1.0), ("b", "a", 0.0)],
            "src string, dst string, w double",
        )
        ranks = {r.node: r.rank for r in pagerank(wtd, n_iter=6, weight_col="w").collect()}
        # b has no effective out-edge: pure sink + dangling; mass conserved
        assert sum(ranks.values()) == pytest.approx(1.0, abs=1e-6)
        assert ranks["b"] > ranks["a"]


from itertools import combinations

from taxi_data_pipeline_pset2_spark.operators.graph import triangle_counts


def _brute_triangles(edges):
    """Per-node triangle counts by triple enumeration."""
    adj = {}
    for s, t_ in edges:
        if s == t_ or s is None or t_ is None:
            continue
        adj.setdefault(s, set()).add(t_)
        adj.setdefault(t_, set()).add(s)
    tri = {v: 0 for v in adj}
    for a, b, c in combinations(sorted(adj), 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            tri[a] += 1
            tri[b] += 1
            tri[c] += 1
    return adj, tri


class TestTriangleCounts:
    def test_matches_bruteforce(self, spark):
        edges = [
            ("a", "b"), ("b", "c"), ("c", "a"),          # triangle abc
            ("c", "d"), ("d", "a"),                       # triangle acd
            ("d", "e"), ("e", "f"),                       # tail, no tri
            ("b", "a"), ("a", "a"),                       # dup + self-loop
        ]
        df = spark.createDataFrame(edges, "src string, dst string")
        got = {r.node: r for r in triangle_counts(df).collect()}
        adj, tri = _brute_triangles(edges)
        assert set(got) == set(adj)
        for v in adj:
            assert got[v].degree == len(adj[v]), v
            assert got[v].triangles == tri[v], v
            d = len(adj[v])
            if d >= 2:
                assert got[v].clustering == pytest.approx(
                    2.0 * tri[v] / (d * (d - 1)), abs=1e-6
                )
            else:
                assert got[v].clustering is None

    def test_complete_graph_clustering_one(self, spark):
        nodes = [f"n{i}" for i in range(6)]
        edges = [(a, b) for a, b in combinations(nodes, 2)]
        df = spark.createDataFrame(edges, "src string, dst string")
        rows = triangle_counts(df).collect()
        # K6: every node is in C(5,2) = 10 triangles, clustering 1.0
        assert all(r.triangles == 10 and r.clustering == 1.0 for r in rows)

    def test_triangle_free_bipartite(self, spark):
        edges = [(f"l{i}", f"r{j}") for i in range(3) for j in range(4)]
        df = spark.createDataFrame(edges, "src string, dst string")
        rows = triangle_counts(df).collect()
        assert all(r.triangles == 0 for r in rows)
        assert all(r.clustering == 0.0 for r in rows)

    def test_random_graphs_match_bruteforce(self, spark):
        import random

        rng = random.Random(7)
        for trial in range(3):
            nodes = [f"v{i}" for i in range(12)]
            edges = [
                (a, b)
                for a, b in combinations(nodes, 2)
                if rng.random() < 0.3
            ]
            if not edges:
                continue
            df = spark.createDataFrame(edges, "src string, dst string")
            got = {r.node: r.triangles for r in triangle_counts(df).collect()}
            _, tri = _brute_triangles(edges)
            assert got == tri, f"trial {trial}"


from taxi_data_pipeline_pset2_spark.operators.graph import kcore


def _peel_cores(edges):
    """Reference coreness by sequential min-degree peeling."""
    adj = {}
    for s, t_ in edges:
        if s == t_:
            continue
        adj.setdefault(s, set()).add(t_)
        adj.setdefault(t_, set()).add(s)
    deg = {v: len(ns) for v, ns in adj.items()}
    core = {}
    live = dict(deg)
    while live:
        v = min(live, key=lambda u: (live[u], u))
        core[v] = live[v]
        for u in adj[v]:
            if u in live and u != v:
                live[u] = max(live[u] - 1, core[v])
        del live[v]
    # peeling gives non-decreasing removal degrees; core[v] must be the
    # running max to handle ties correctly
    return core


class TestKCore:
    def test_clique_and_path(self, spark):
        from itertools import combinations

        nodes = [f"k{i}" for i in range(5)]
        clique = [(a, b) for a, b in combinations(nodes, 2)]
        path = [(f"p{i}", f"p{i+1}") for i in range(4)]
        df = spark.createDataFrame(clique + path, "src string, dst string")
        got = {r.node: r.core for r in kcore(df).collect()}
        assert all(got[v] == 4 for v in nodes)      # K5: core 4
        assert all(got[f"p{i}"] == 1 for i in range(5))  # path: core 1

    def test_matches_peeling_reference(self, spark):
        import random
        from itertools import combinations

        rng = random.Random(13)
        for trial in range(3):
            vs = [f"v{i}" for i in range(14)]
            edges = [
                (a, b) for a, b in combinations(vs, 2) if rng.random() < 0.25
            ]
            if not edges:
                continue
            df = spark.createDataFrame(edges, "src string, dst string")
            got = {r.node: r.core for r in kcore(df).collect()}
            ref = _peel_cores(edges)
            assert got == ref, f"trial {trial}"

    def test_two_cliques_bridged(self, spark):
        from itertools import combinations

        a = [f"a{i}" for i in range(4)]  # K4 -> core 3
        b = [f"b{i}" for i in range(3)]  # K3 -> core 2
        edges = (
            [(x, y) for x, y in combinations(a, 2)]
            + [(x, y) for x, y in combinations(b, 2)]
            + [("a0", "b0")]  # bridge does not raise either core
        )
        df = spark.createDataFrame(edges, "src string, dst string")
        got = {r.node: r.core for r in kcore(df).collect()}
        assert all(got[v] == 3 for v in a)
        assert all(got[v] == 2 for v in b)


from taxi_data_pipeline_pset2_spark.operators.graph import degree_assortativity


def _ref_assortativity(edges):
    """Newman's r via numpy over the symmetrized endpoint-degree pairs."""
    import numpy as np

    adj = {}
    for s, t_ in edges:
        if s == t_:
            continue
        adj.setdefault(s, set()).add(t_)
        adj.setdefault(t_, set()).add(s)
    deg = {v: len(ns) for v, ns in adj.items()}
    xs, ys = [], []
    seen = set()
    for s, t_ in edges:
        if s == t_ or (min(s, t_), max(s, t_)) in seen:
            continue
        seen.add((min(s, t_), max(s, t_)))
        xs += [deg[s], deg[t_]]
        ys += [deg[t_], deg[s]]
    c = np.corrcoef(xs, ys)
    return float(c[0, 1])


class TestAssortativity:
    def test_star_is_maximally_disassortative(self, spark):
        edges = [("hub", f"leaf{i}") for i in range(6)]
        df = spark.createDataFrame(edges, "src string, dst string")
        r = degree_assortativity(df).collect()[0]
        assert r.n_nodes == 7 and r.n_edges == 6
        assert r.assortativity == -1.0

    def test_matches_numpy_on_random_graphs(self, spark):
        import random
        from itertools import combinations

        rng = random.Random(23)
        for trial in range(3):
            vs = [f"v{i}" for i in range(12)]
            edges = [
                (a, b) for a, b in combinations(vs, 2) if rng.random() < 0.3
            ]
            df = spark.createDataFrame(edges, "src string, dst string")
            r = degree_assortativity(df).collect()[0]
            ref = _ref_assortativity(edges)
            import math

            if math.isnan(ref):
                assert r.assortativity is None
            else:
                assert r.assortativity == pytest.approx(ref, abs=1e-6), trial

    def test_regular_graph_undefined(self, spark):
        # a cycle: every degree 2 -> zero variance -> NULL
        edges = [(f"c{i}", f"c{(i + 1) % 5}") for i in range(5)]
        df = spark.createDataFrame(edges, "src string, dst string")
        assert degree_assortativity(df).collect()[0].assortativity is None


def test_pagerank_oracle_ranks_clear_rounding_boundaries():
    """The driver gate hash-compares the pagerank_supplier_customer
    entry 8-dp rounded on BOTH engines; the only cross-engine
    difference is double SUM order (~1e-16). That is safe only while no
    rank sits within noise of a 0.5e-8 rounding boundary -- a
    boundary-adjacent rank would make the hash an intermittent flake
    rather than a deterministic pass/fail (ADVICE r8 item #2). This
    pins the margin: every rank on the real catalog graph (both test
    scale factors) clears its nearest boundary by >= 1e-13. Measured
    closest approach is 9.8e-13 (sf0.01); the sum-order noise on a
    single rank is bounded by in_degree * eps * term ~ 50 * 2.2e-16 *
    1e-5 ~ 1e-19 per round (1e-18 over 8 rounds), so the pinned margin
    still exceeds the noise floor by >= 4 orders of magnitude."""
    import duckdb

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        con = duckdb.connect()
        edges = con.execute(
            f"""
            SELECT 's' || l_suppkey AS src, 'c' || o_custkey AS dst
            FROM read_parquet('{sf_dir}/lineitem.parquet') li
            JOIN read_parquet('{sf_dir}/orders.parquet') o
              ON l_orderkey = o_orderkey
            """
        ).fetchall()
        con.close()
        ranks = _reference_pagerank(edges, n_iter=8)
        worst = min(
            abs((r * 1e8) % 1.0 - 0.5) * 1e-8 for r in ranks.values()
        )
        assert worst > 1e-13, (
            f"{sf_dir}: a rank sits {worst:.2e} from a 0.5e-8 rounding "
            f"boundary -- inside double SUM-order noise; the driver hash "
            f"would flake. Bump the rounding grain or re-seed the graph."
        )


def test_kcore_oracle_unroll_dominates_convergence():
    """The part_kcore engine runs the H-index iteration to CONVERGENCE
    (max_iter=100) while its DuckDB oracle unrolls a fixed
    KCORE_ORACLE_ROUNDS; a scale factor needing more rounds than the
    unroll would mismatch persistently (ADVICE r8 item #3). Measure the
    actual convergence round count on the real catalog graph at both
    test scale factors and pin unroll >= 2x measured, so drift toward
    the ceiling fails loudly before the driver gate ever could."""
    import duckdb

    from taxi_data_pipeline_pset2_spark.queries.analytics import (
        KCORE_ORACLE_ROUNDS,
    )

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        con = duckdb.connect()
        sym = con.execute(
            f"""
            WITH bi AS (
              SELECT DISTINCT l_orderkey AS bk, l_partkey AS i
              FROM read_parquet('{sf_dir}/lineitem.parquet')
              WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
                AND l_shipdate >= TIMESTAMP '1998-01-01'
                AND l_shipdate < TIMESTAMP '1999-01-01'),
            e0 AS (SELECT x.i AS a, y.i AS b
                   FROM bi x JOIN bi y ON x.bk = y.bk AND x.i < y.i
                   GROUP BY 1, 2)
            SELECT a, b FROM e0 UNION SELECT b, a FROM e0
            """
        ).fetchall()
        con.close()
        nbrs: dict = {}
        for a, b in sym:
            nbrs.setdefault(a, []).append(b)
        core = {v: len(ns) for v, ns in nbrs.items()}
        rounds = 0
        while True:
            new = {}
            for v, ns in nbrs.items():
                vals = sorted((core[u] for u in ns), reverse=True)
                new[v] = max(
                    min(r, x) for r, x in enumerate(vals, start=1)
                )
            rounds += 1
            if new == core:
                break
            core = new
        assert rounds * 2 <= KCORE_ORACLE_ROUNDS, (
            f"{sf_dir}: H-index converged in {rounds} rounds; the "
            f"{KCORE_ORACLE_ROUNDS}-round oracle unroll no longer has "
            f"2x headroom -- widen it."
        )


def test_pagerank_driver_fast_path_matches_distributed(spark):
    """Bounded driver fast path on a WEIGHTED graph with dangling
    nodes, parallel edges, self-loops and rank ties: the numpy driver
    loop and the distributed loop return the IDENTICAL table (values
    and order). Unweighted degenerate inputs: tests/test_driver_path.py."""
    import random

    from taxi_data_pipeline_pset2_spark.operators.graph import pagerank

    rng = random.Random(1413)
    nodes = [f"n{i}" for i in range(40)]
    edges = [
        (rng.choice(nodes), rng.choice(nodes), float(rng.randint(1, 5)))
        for _ in range(160)
    ]
    edges += [("n0", "n0", 2.0), ("dupa", "dupb", 1.0), ("dupa", "dupb", 1.0)]
    df = spark.createDataFrame(edges, "src string, dst string, w double")
    fast = [
        (r.node, r.rank)
        for r in pagerank(df, n_iter=9, weight_col="w").collect()
    ]
    with distributed_only():
        dist = [
            (r.node, r.rank)
            for r in pagerank(df, n_iter=9, weight_col="w").collect()
        ]
    assert fast == dist  # ordered comparison: values AND (desc, asc) order


def test_graph_results_invariant_to_shuffle_width(spark):
    """Shuffle width is an execution detail, never a semantics knob.
    Every graph operator runs at the session width: the distributed
    loops of pagerank, LPA and kcore must equal the driver path, and
    triangle_counts its own rows, at every width, and none may write
    the conf."""
    from taxi_data_pipeline_pset2_spark.operators import graph

    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e")]
    df = spark.createDataFrame(edges, "src string, dst string")

    def results():
        return (
            sorted((r.node, r.rank) for r in graph.pagerank(df, n_iter=6).collect()),
            sorted(map(tuple, graph.label_propagation(df, n_iter=4).collect())),
            sorted(map(tuple, graph.kcore(df).collect())),
            sorted(map(tuple, graph.triangle_counts(df).collect())),
        )

    base = results()  # driver fast path, session default width
    assert [r[2] for r in base[3]] == [1, 1, 1, 0, 0]  # triangle a-b-c
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for width in ("1", "3", "8"):
            spark.conf.set("spark.sql.shuffle.partitions", width)
            with distributed_only():
                assert results() == base, f"width {width} diverged"
            assert spark.conf.get("spark.sql.shuffle.partitions") == width
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_lazy_graph_frames_run_no_job(spark):
    """triangle_counts and degree_assortativity are single lazy plans:
    building the frame runs no Spark job and caches nothing."""
    from taxi_data_pipeline_pset2_spark.operators.graph import (
        degree_assortativity,
        triangle_counts,
    )

    df = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")], "src string, dst string"
    )
    sc = spark.sparkContext
    cached = set(sc._jsc.getPersistentRDDs().keySet())
    sc.setJobGroup("graph-build", "lazy graph frames")
    try:
        frames = [triangle_counts(df), degree_assortativity(df)]
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    assert list(sc.statusTracker().getJobIdsForGroup("graph-build")) == []
    assert set(sc._jsc.getPersistentRDDs().keySet()) == cached
    assert len(frames[0].collect()) == 4


_ABC = [("a", 2, 1, 1.0), ("b", 2, 1, 1.0), ("c", 2, 1, 1.0)]


@pytest.mark.parametrize(
    "rows, schema, triangles, assortativity",
    [
        ([], "src string, dst string", [], (0, 0, None)),
        ([(None, None), (None, None)], "src string, dst string", [], (0, 0, None)),
        ([("a", "a"), ("b", "b")], "src string, dst string", [], (0, 0, None)),
        (
            [(None, "a"), ("b", None), ("a", "b"), ("b", "c"), ("c", "a")],
            "src string, dst string",
            _ABC,
            (3, 3, None),
        ),
        (
            [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"), ("c", "a"), ("a", "c")],
            "src string, dst string",
            _ABC,
            (3, 3, None),
        ),
        (
            [(10, 9), (9, 2), (2, 10)],
            "src bigint, dst bigint",
            [("10", 2, 1, 1.0), ("2", 2, 1, 1.0), ("9", 2, 1, 1.0)],
            (3, 3, None),
        ),
    ],
    ids=["empty", "all_null", "self_loop_only", "one_sided_null",
         "reversed_duplicates", "int_endpoints"],
)
def test_triangles_and_assortativity_degenerate_shapes(
    spark, rows, schema, triangles, assortativity
):
    """Both canonical-edge operators agree on what the graph is: NULL
    endpoints (one-sided or both), self-loops and reversed duplicates
    drop; integer ids become their string form, ordered as strings."""
    from taxi_data_pipeline_pset2_spark.operators.graph import (
        degree_assortativity,
        triangle_counts,
    )

    df = spark.createDataFrame(rows, schema)
    assert [tuple(r) for r in triangle_counts(df).collect()] == triangles
    assert [tuple(r) for r in degree_assortativity(df).collect()] == [assortativity]


@pytest.mark.parametrize("distributed", [False, True], ids=["driver", "distributed"])
def test_kcore_raises_on_nonconvergence_chain(spark, distributed):
    """H-index iteration is O(diameter), not O(log): a long path graph
    must raise NotConverged when max_iter is exhausted, on either path,
    rather than return interim (wrong) core numbers -- the
    connected_components contract."""
    from taxi_data_pipeline_pset2_spark.operators.graph import kcore

    chain = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(60)], "src string, dst string"
    )
    path = distributed_only() if distributed else contextlib.nullcontext()
    with path, rounds_log() as log:
        with pytest.raises(NotConverged, match="kcore did not converge in 5 rounds"):
            kcore(chain, max_iter=5)
    assert [(r.op, r.rounds, r.converged) for r in log] == [("kcore", 5, False)]
    if not distributed:
        # with enough rounds the same chain converges to all-1 cores
        out = kcore(chain, max_iter=60).collect()
        assert {r.core for r in out} == {1}


def test_lpa_ignores_self_loops_and_duplicate_listings(spark):
    """A self-loop must not freeze a node as a singleton (it would vote
    the node's own label with weight 2), and listing the same
    undirected edge in both directions must not double that neighbor's
    vote -- the result may not depend on how the graph is spelled."""
    from taxi_data_pipeline_pset2_spark.operators.graph import label_propagation

    # triangle b-c-d plus pendant a; a has a self-loop and its edge to
    # b is listed both ways
    once = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("b", "d")],
        "src string, dst string",
    )
    noisy = spark.createDataFrame(
        [("a", "a"), ("a", "b"), ("b", "a"), ("b", "c"), ("c", "d"), ("b", "d")],
        "src string, dst string",
    )
    r1 = {r.node: r.label for r in label_propagation(once, n_iter=4).collect()}
    r2 = {r.node: r.label for r in label_propagation(noisy, n_iter=4).collect()}
    assert r1 == r2
