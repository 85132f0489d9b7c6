"""Two-path equality for every operator with a bounded driver fast path
(operators/driver_path.py): the driver kernel and the distributed body
return the same result on degenerate inputs, which reach each kernel
as a zero-row or tiny Arrow table.

Cases, one shape per operator family:

- ``empty``: no rows at all;
- ``all_null``: every key or value NULL, so nothing survives cleaning;
- ``self_loop``: graphs and pairs of only self-edges (dropped, except
  by pagerank, where a self-loop is a real edge); for kmeans identical
  points (zero distances, an empty cluster); for BPE words made of one
  repeated character (overlapping self-pairs);
- ``single_key_ties``: one key whose candidates tie (a hub with equal
  leaves; an exactly equidistant point; one word whose pairs tie);
- ``mixed``: a small realistic input (duplicate and bidirectional edges,
  self-loops; random vectors; a chained pair graph; a text corpus);
- ``over_cap``: ``mixed`` with the operator's cap constant set to 1, so
  the helper must return None and the distributed body runs; its
  result is compared with the driver kernel's at the real cap.
"""

from __future__ import annotations

import contextlib
import random

import pytest
from pyspark.sql import functions as F

from taxi_data_pipeline_pset2_spark.operators import (
    bpe,
    clustering,
    components,
    graph,
)
from taxi_data_pipeline_pset2_spark.operators.driver_path import (
    bounded_arrow,
    distributed_only,
    iterate,
    rounds_log,
)
from taxi_data_pipeline_pset2_spark.queries.catalog import registry

_rng = random.Random(1414)
_nodes = [f"v{i:02d}" for i in range(30)]
GRAPH = (
    "src string, dst string",
    {
        "empty": [],
        "all_null": [(None, None), ("a", None), (None, "b")],
        "self_loop": [("a", "a"), ("b", "b"), ("b", "b")],
        "single_key_ties": [("hub", "x"), ("hub", "y"), ("hub", "z")],
        "mixed": [
            (_rng.choice(_nodes), _rng.choice(_nodes)) for _ in range(120)
        ]
        + [("v00", "v00"), ("v01", "v02"), ("v02", "v01")],
    },
)

_rng = random.Random(7)
VECTORS = (
    "vec_id long, embedding array<double>",
    {
        "empty": [],
        "all_null": [(1, None), (2, None)],
        "self_loop": [(1, [1.0, 1.0]), (2, [1.0, 1.0]), (3, [1.0, 1.0])],
        "single_key_ties": [(1, [0.0, 0.0]), (2, [2.0, 0.0]), (3, [1.0, 0.0])],
        "mixed": [
            (i, [round(_rng.uniform(-1, 1), 3) for _ in range(3)])
            for i in range(40)
        ],
    },
)

_rng = random.Random(8)
PAIRS = (
    "doc_a long, doc_b long",
    {
        "empty": [],
        "all_null": [(None, None), (1, None), (None, 2)],
        "self_loop": [(1, 1), (2, 2)],
        "single_key_ties": [(5, 9), (5, 7), (5, 8), (9, 5)],
        "mixed": [(i, i + 1) for i in range(100, 130)]
        + [(_rng.randrange(40), _rng.randrange(40)) for _ in range(40)],
    },
)

DOCS = (
    "doc_id long, text string",
    {
        "empty": [],
        "all_null": [(0, None), (1, None)],
        "self_loop": [(0, "aaaa aa"), (1, "aaa aaaa")],
        "single_key_ties": [(0, "ab ab ab")],
        "mixed": list(
            enumerate(
                [
                    "low lower lowest low low",
                    "new newer newest new new new",
                    "wide wider widest low new",
                    "low low low newer",
                ]
            )
        ),
    },
)
MERGES = [("a", "a"), ("l", "o"), ("lo", "w"), ("a", "b"), ("ab", bpe.EOW)]


def _sorted(rows):
    return sorted((tuple(r) for r in rows), key=repr)


def _kmeans(df):
    out, cents = clustering.kmeans_fit_assign(
        df, k=2, n_iter=2, return_centroids=True
    )
    return _sorted(out.collect()), cents.shape, cents.tolist()


def _tokenize(df):
    out = bpe.tokenize_bpe(df, MERGES).collect()
    return sorted((r.doc_id, list(r.bpe_tokens), r.n_tokens) for r in out)


# name -> (module, cap constant, (schema, cases), run, result on no rows)
OPS = {
    "pagerank": (
        graph, "DRIVER_PAGERANK_EDGE_CAP", GRAPH,
        lambda df: [tuple(r) for r in graph.pagerank(df, n_iter=2).collect()],
        [],
    ),
    "label_propagation": (
        graph, "DRIVER_GRAPH_EDGE_CAP", GRAPH,
        lambda df: _sorted(graph.label_propagation(df, n_iter=5).collect()),
        [],
    ),
    "kcore": (
        graph, "DRIVER_GRAPH_EDGE_CAP", GRAPH,
        lambda df: _sorted(graph.kcore(df).collect()),
        [],
    ),
    "kmeans_fit_assign": (
        clustering, "DRIVER_KMEANS_CELL_CAP", VECTORS, _kmeans,
        ([], (0, 1), []),
    ),
    "connected_components": (
        components, "DRIVER_CC_EDGE_CAP", PAIRS,
        lambda df: _sorted(components.connected_components(df).collect()),
        [],
    ),
    "bpe_learn": (
        bpe, "DRIVER_VOCAB_CAP", DOCS,
        lambda df: bpe.bpe_learn(df, n_merges=6),
        [],
    ),
    "tokenize_bpe": (bpe, "DRIVER_VOCAB_CAP", DOCS, _tokenize, []),
}
CASES = [
    "empty", "all_null", "self_loop", "single_key_ties", "mixed", "over_cap",
]


@pytest.mark.parametrize("case", CASES)
@pytest.mark.parametrize("op", sorted(OPS))
def test_fast_path_matches_distributed(spark, monkeypatch, op, case):
    module, cap_name, (schema, cases), run, empty_result = OPS[op]
    df = spark.createDataFrame(cases.get(case, cases["mixed"]), schema)
    taken = []

    def spy(frame, cap, weight=None):
        out = bounded_arrow(frame, cap, weight)
        taken.append(out[1])
        return out

    with monkeypatch.context() as m:
        m.setattr(module, "bounded_arrow", spy)
        if case == "over_cap":
            m.setattr(module, cap_name, 1)
        got = run(df)
    assert taken, f"{op} never consulted the driver-path helper"
    if case == "over_cap":
        assert all(t is None for t in taken)
        assert got == run(df)  # the driver kernel at the real cap
        return
    assert all(t is not None for t in taken)
    with distributed_only():
        assert got == run(df)
    if case == "empty":
        assert got == empty_result


@pytest.mark.parametrize("op", ["kcore", "label_propagation"])
def test_self_loop_and_null_edge_gives_no_rows_on_both_paths(spark, op):
    """One self-loop plus one NULL endpoint cleans to zero edges: the
    driver kernel gets a zero-row table and must return no rows, like
    the distributed loop (it used to raise IndexError)."""
    df = spark.createDataFrame(
        [("a", "a"), ("b", None)], "src string, dst string"
    )
    fn = getattr(graph, op)
    assert fn(df).collect() == []
    with distributed_only():
        assert fn(df).collect() == []


def _table(df, cap, weight=None):
    frame, tbl = bounded_arrow(df, cap, weight)
    assert sorted(frame.collect()) == sorted(df.collect())
    return tbl


def test_bounded_arrow_contract(spark):
    df = spark.createDataFrame(
        [(i, [1, 2, 3]) for i in range(4)], "id long, v array<int>"
    )
    assert _table(df, 4).num_rows == 4
    assert _table(df, 3) is None
    # weighted: 4 rows x 3 cells
    weight = F.size("v")
    assert _table(df, 12, weight=weight).num_rows == 4
    assert _table(df, 11, weight=weight) is None
    # zero rows sum to NULL, which counts as 0
    empty = _table(df.limit(0), 0)
    assert empty is not None and empty.num_rows == 0
    with distributed_only():
        assert _table(df, 100) is None
    assert _table(df, 100) is not None


def test_bounded_arrow_raises_when_evaluation_fails(spark):
    """A failed checkpoint leaves the Observation holding zeros or a
    partial total; the helper must raise, never return a table built
    on those."""
    df = spark.range(8).withColumn(
        "x", F.when(F.col("id") == 5, F.raise_error(F.lit("bad row")))
    )
    with pytest.raises(Exception, match="bad row"):
        bounded_arrow(df, 1_000)


def test_bounded_arrow_jobs_and_single_evaluation(spark):
    """On an exchange-free frame the driver path runs exactly 2 jobs
    (the observed checkpoint and the collect) and the distributed path
    exactly 1; re-reading the returned frame never re-evaluates the
    input."""
    sc = spark.sparkContext
    calls = sc.accumulator(0)

    @F.udf("long")
    def counted(x):
        calls.add(1)
        return x

    df = spark.range(0, 10, 1, 2).select(counted("id").alias("id"))
    for group, forced, want in (
        ("bounded-driver", False, 2), ("bounded-distributed", True, 1),
    ):
        before = calls.value
        sc.setJobGroup(group, group)
        try:
            if forced:
                with distributed_only():
                    frame, tbl = bounded_arrow(df, 100)
                assert tbl is None
            else:
                frame, tbl = bounded_arrow(df, 100)
                assert tbl.num_rows == 10
        finally:
            for prop in ("spark.jobGroup.id", "spark.job.description",
                         "spark.job.interruptOnCancel"):
                sc.setLocalProperty(prop, None)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == want
        assert calls.value - before == 10
        assert sorted(r.id for r in frame.collect()) == list(range(10))
        assert calls.value - before == 10


def _jobs_in_group(sc, group, fn):
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("distributed", [False, True], ids=["driver", "distributed"])
@pytest.mark.parametrize(
    "op, kwargs",
    [("kcore", {"max_iter": 0}), ("connected_components", {"max_rounds": 0})],
)
def test_round_budget_below_one_rejected_before_any_job(
    spark, op, kwargs, distributed
):
    """A round budget below 1 is a ValueError on both paths, raised
    before any Spark job runs."""
    module, _, (schema, cases), _, _ = OPS[op]
    df = spark.createDataFrame(cases["mixed"], schema)
    fn = getattr(module, op)

    def call():
        path = distributed_only() if distributed else contextlib.nullcontext()
        with path, pytest.raises(ValueError, match="must be >= 1"):
            fn(df, **kwargs)

    group = f"budget-{op}-{distributed}"
    assert _jobs_in_group(spark.sparkContext, group, call) == []


@pytest.mark.parametrize("shape", ["part_kcore", "path"])
def test_kcore_rounds_agree_across_paths(spark, sf_dir, shape):
    """Both paths stop at the first round that changes no node, so
    their rounds_log records are equal."""
    if shape == "part_kcore":
        def run():
            return registry()["part_kcore"].fn(spark, sf_dir)
    else:
        path = spark.createDataFrame(
            [(f"p{i:02d}", f"p{i + 1:02d}") for i in range(20)],
            "src string, dst string",
        )

        def run():
            return graph.kcore(path)

    with rounds_log() as driver_log:
        driver_rows = _sorted(run().collect())
    with distributed_only(), rounds_log() as dist_log:
        dist_rows = _sorted(run().collect())
    assert driver_rows == dist_rows
    assert [r[:3] for r in driver_log] == [r[:3] for r in dist_log]
    assert len(driver_log) == 1 and driver_log[0].converged
    assert driver_log[0].rounds > 1


def test_iterate_cadence_and_record(spark):
    """Only every checkpoint_every-th round and the last one run a job
    (the rounds between are lazy checkpoints), and every loop leaves
    one record, also when a round fails."""

    def step(df):
        return df.select((F.col("id") + 1).alias("id"))

    def failing(df):
        raise RuntimeError("round failed")

    out = []
    with rounds_log() as log:
        jobs = _jobs_in_group(
            spark.sparkContext,
            "iterate-cadence",
            lambda: out.append(
                iterate("probe", spark.range(3), step, max_rounds=7,
                        checkpoint_every=3)
            ),
        )
        with pytest.raises(RuntimeError, match="round failed"):
            iterate("failing", spark.range(3), failing, max_rounds=2)
    assert len(jobs) == 3  # rounds 3, 6 and 7
    assert sorted(r.id for r in out[0].collect()) == [7, 8, 9]
    assert [r[:3] for r in log] == [("probe", 7, True), ("failing", 1, False)]
