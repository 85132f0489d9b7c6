"""Connected-components / cluster-resolution tests: ground truth is a
pure-Python union-find, exercised on adversarial topologies (long
chains, rings, stars, many islands) and random graphs."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from taxi_data_pipeline_pset2_spark.operators.components import (
    connected_components,
    resolve_duplicate_clusters,
)
from taxi_data_pipeline_pset2_spark.operators.dedup import jaccard_pairs
from taxi_data_pipeline_pset2_spark.operators.driver_path import (
    NotConverged,
    distributed_only,
)
from taxi_data_pipeline_pset2_spark.sources.readers import load_table


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _spark_components(spark, edges):
    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    return {r.node: r.component for r in connected_components(df).collect()}


def test_components_on_adversarial_topologies(spark):
    chain = [(i, i + 1) for i in range(100, 200)]  # diameter 100
    ring = [(i, i + 1) for i in range(300, 320)] + [(320, 300)]
    star = [(400, v) for v in range(401, 430)]
    islands = [(1000 + 2 * i, 1001 + 2 * i) for i in range(50)]
    edges = chain + ring + star + islands
    got = _spark_components(spark, edges)
    assert got == _union_find(edges)


def test_components_match_union_find_on_random_graphs(spark):
    rng = random.Random(42)
    for trial in range(3):
        n = 200
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(150)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        got = _spark_components(spark, edges)
        assert got == _union_find(edges), f"trial {trial}"


def test_distributed_path_matches_driver_fast_path(spark):
    """distributed_only forces the star alternation; both paths must
    emit identical (node, component) sets on every topology class."""
    chain = [(i, i + 1) for i in range(100, 160)]
    star = [(400, v) for v in range(401, 430)]
    rng = random.Random(7)
    rand = [(rng.randrange(80), rng.randrange(80)) for _ in range(60)]
    edges = chain + star + [(a, b) for a, b in rand if a != b]
    fast = _spark_components(spark, edges)  # small -> driver union-find
    with distributed_only():
        dist = _spark_components(spark, edges)
    assert fast == dist == _union_find(edges)


def test_distributed_path_raises_when_rounds_run_out(spark):
    """A long chain cannot finish in one star round: the distributed
    alternation raises NotConverged instead of returning a partial
    clustering."""
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 200)], "doc_a long, doc_b long"
    )
    with distributed_only(), pytest.raises(
        NotConverged, match="connected_components did not converge in 1 rounds"
    ):
        connected_components(df, max_rounds=1)


def test_components_empty_and_single_edge(spark):
    assert _spark_components(spark, [(7, 3)]) == {7: 3, 3: 3}
    df = spark.createDataFrame([], "doc_a long, doc_b long")
    assert connected_components(df).count() == 0


def test_resolve_keeps_one_doc_per_cluster(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = jaccard_pairs(docs, threshold=0.5)
    kept = resolve_duplicate_clusters(docs, pairs)
    comp = {
        r.node: r.component for r in connected_components(pairs).collect()
    }
    assert comp, "fixture should contain near-dup clusters"
    survivors = set(comp.values())
    losers = {n for n, c in comp.items() if n != c}
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    assert kept_ids == all_ids - losers
    assert survivors <= kept_ids


def test_resolve_keep_best_member(spark):
    """keep_best_col keeps the highest-scoring cluster member (ties by
    min id); unpaired docs survive untouched."""
    from taxi_data_pipeline_pset2_spark.operators.components import (
        resolve_duplicate_clusters,
    )

    docs = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (4, 0.5), (10, 0.1)],
        "doc_id long, quality double",
    )
    # cluster {1,2,3} chained, pair {4} none, 10 isolated
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "doc_a long, doc_b long"
    )
    kept = {
        r.doc_id
        for r in resolve_duplicate_clusters(
            docs, pairs, keep_best_col="quality"
        ).collect()
    }
    # 2 and 3 tie at 0.9 -> min id 2 survives; min-id default would keep 1
    assert kept == {2, 4, 10}
    kept_min = {r.doc_id for r in resolve_duplicate_clusters(docs, pairs).collect()}
    assert kept_min == {1, 4, 10}


def test_min_id_survivor_restricted_to_present_members(spark):
    """Pairs referencing an id filtered out of docs upstream: the
    min-id policy must keep the smallest PRESENT member, not delete the
    whole cluster because the absent component label matched nobody."""
    from taxi_data_pipeline_pset2_spark.operators.components import (
        resolve_duplicate_clusters,
    )

    docs = spark.createDataFrame([(2, "x"), (3, "y"), (9, "z")],
                                 "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")
    out = sorted(r.doc_id for r in resolve_duplicate_clusters(docs, pairs).collect())
    assert out == [2, 9]  # 2 survives its cluster; 9 untouched
