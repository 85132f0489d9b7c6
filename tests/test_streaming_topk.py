"""Streaming Misra-Gries heavy hitters: merge step equals a python MG
reference, the frequency guarantee holds, state stays bounded, replay
rewrites identical state."""

from __future__ import annotations

import os
import time
from collections import Counter

import pytest

from taxi_data_pipeline_pset2_spark.streaming.incremental import read_docs_stream
from taxi_data_pipeline_pset2_spark.streaming.state import state_dir
from taxi_data_pipeline_pset2_spark.streaming.topk import (
    mg_merge,
    read_topk_state,
    run_streaming_topk,
)


def _mg_reference(values, m):
    """From-scratch Misra-Gries with batch folding = item-at-a-time MG
    bounds; here we replicate the EXACT batch-merge rule the stream
    uses: add exact counts, a value ENTERING the summary takes the
    stream-global accumulated deduction D as its undercount floor (its
    pre-entry occurrences are bounded by D -- a zero floor broke
    true <= est + under for drop-then-re-enter values, a misconception
    this reference originally SHARED with the engine), subtract the
    (m+1)-th largest, drop <= 0. Returns (state, under, D)."""
    state: dict[str, int] = {}
    under: dict[str, int] = {}
    total_d = 0
    for batch in values:
        c = Counter(batch)
        for v, n in c.items():
            if v not in state:
                under[v] = total_d
            state[v] = state.get(v, 0) + n
        if len(state) > m:
            d = sorted(state.values(), reverse=True)[m]
        else:
            d = 0
        if d:
            total_d += d
            for v in list(state):
                state[v] -= d
                under[v] += d
                if state[v] <= 0:
                    del state[v]
                    del under[v]
    return state, under, total_d


def _write_units(spark, base, batches):
    flat = os.path.join(base, "flat")
    os.makedirs(flat)
    t0 = time.time() - 100
    n = 0
    for i, rows in enumerate(batches):
        unit = os.path.join(base, f"unit{i}")
        spark.createDataFrame(
            [(j, v) for j, v in enumerate(rows)], "event_id long, v string"
        ).coalesce(1).write.mode("overwrite").parquet(unit)
        for f in sorted(os.listdir(unit)):
            if f.endswith(".parquet"):
                dst = os.path.join(flat, f"part-{i:03d}.parquet")
                os.rename(os.path.join(unit, f), dst)
                os.utime(dst, (t0 + n, t0 + n))
                n += 1
    return flat


def _batches():
    return [
        ["a"] * 30 + ["b"] * 10 + [f"x{i}" for i in range(20)],
        ["a"] * 20 + ["c"] * 15 + [f"y{i}" for i in range(20)],
        ["b"] * 25 + ["a"] * 5 + [f"z{i}" for i in range(10)],
    ]


class TestMgMerge:
    def test_single_merge_matches_reference(self, spark):
        state0 = spark.createDataFrame(
            [], "value string, est bigint, max_undercount bigint"
        )
        batch = ["a"] * 5 + ["b"] * 3 + ["c", "d", "e"]
        counts = (
            spark.createDataFrame([(v,) for v in batch], "value string")
            .groupBy("value")
            .count()
            .selectExpr(
                "value",
                "cast(count as bigint) as est",
                "cast(0 as bigint) as max_undercount",
            )
        )
        rows = mg_merge(state0, counts, 2).collect()
        got = {
            r.value: (r.est, r.max_undercount)
            for r in rows
            if r.value is not None
        }
        ref_state, ref_under, ref_d = _mg_reference([batch], 2)
        assert {v: c for v, (c, _) in got.items()} == ref_state
        for v, (_, u) in got.items():
            assert u == ref_under[v]
        meta = [r for r in rows if r.value is None]
        assert len(meta) == 1 and meta[0].est is None
        assert meta[0].max_undercount == ref_d

    def test_capacity_validation(self, spark):
        df = spark.createDataFrame(
            [], "value string, est bigint, max_undercount bigint"
        )
        with pytest.raises(ValueError, match="capacity"):
            mg_merge(df, df, 0)


def test_stream_matches_reference_and_guarantee(spark, tmp_path):
    batches = _batches()
    flat = _write_units(spark, str(tmp_path / "ev"), batches)
    state_base = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    m = 4

    stream = read_docs_stream(spark, flat, max_files_per_trigger=1)
    run_streaming_topk(stream, "v", state_base, ckpt, capacity=m)

    rows = read_topk_state(spark, state_base, len(batches) - 1).collect()
    final = {
        r.value: (r.est, r.max_undercount) for r in rows if r.value is not None
    }
    ref_state, ref_under, ref_d = _mg_reference(batches, m)
    assert {v: c for v, (c, _) in final.items()} == ref_state
    for v, (_, u) in final.items():
        assert u == ref_under[v]
    assert len(final) <= m  # bounded state
    meta = [r for r in rows if r.value is None]
    assert len(meta) == 1 and meta[0].max_undercount == ref_d

    # the MG guarantee: anything with true freq > N/(m+1) is present,
    # and est <= true <= est + max_undercount
    truth = Counter(v for b in batches for v in b)
    n_total = sum(truth.values())
    for v, n in truth.items():
        if n > n_total / (m + 1):
            assert v in final, v
    for v, (est, u) in final.items():
        assert est <= truth[v] <= est + u, v


def test_replay_rewrites_identical_state(spark, tmp_path):
    batches = _batches()[:2]
    flat = _write_units(spark, str(tmp_path / "ev"), batches)
    state_base = str(tmp_path / "state")
    m = 4

    run_streaming_topk(
        read_docs_stream(spark, flat, max_files_per_trigger=1),
        "v", state_base, str(tmp_path / "ckpt1"), capacity=m,
    )
    first = sorted(
        ((r.value or "", r.est or 0, r.max_undercount)
         for r in read_topk_state(spark, state_base, 1).collect())
    )
    # wipe the CHECKPOINT (not the state) -> full at-least-once replay
    run_streaming_topk(
        read_docs_stream(spark, flat, max_files_per_trigger=1),
        "v", state_base, str(tmp_path / "ckpt2"), capacity=m,
    )
    second = sorted(
        ((r.value or "", r.est or 0, r.max_undercount)
         for r in read_topk_state(spark, state_base, 1).collect())
    )
    assert first == second


def test_missing_state_raises_instead_of_resetting(spark, tmp_path):
    """The streaming/state.py contract, same as the KMV monitor: only
    batch_id < 0 maps to the empty summary; a missing or uncommitted
    directory for a real batch raises (the old swallow-everything
    fallback silently reset the summary on ANY read failure)."""
    base = str(tmp_path / "state")
    assert read_topk_state(spark, base, -1).count() == 0
    with pytest.raises(FileNotFoundError, match="batch 2"):
        read_topk_state(spark, base, 2)
    os.makedirs(state_dir(base, 3))  # crash mid-overwrite
    with pytest.raises(FileNotFoundError, match="batch 3"):
        read_topk_state(spark, base, 3)


def test_docs_stream_schema_param_and_empty_dir_error(spark, tmp_path):
    """read_docs_stream must start BEFORE the first file lands when
    given schema=, and report an empty dir as a clear error (not a raw
    AnalysisException) when asked to infer."""
    empty = str(tmp_path / "in")
    os.makedirs(empty)
    with pytest.raises(ValueError, match="pass schema="):
        read_docs_stream(spark, empty)
    s = read_docs_stream(spark, empty, schema="doc_id long, text string")
    assert s.isStreaming and [f.name for f in s.schema.fields] == [
        "doc_id",
        "text",
    ]


def test_reentering_value_keeps_the_guarantee(spark):
    """Drop-then-re-enter is the case the zero undercount floor broke:
    v's 5 batch-1 occurrences are deducted away, v re-enters in batch 2,
    and with a zero floor the state would claim true(v) <= est + 2 while
    true(v) = 9. The floor is the accumulated deduction D at entry."""
    from taxi_data_pipeline_pset2_spark.streaming.topk import topk_counters

    m = 3
    batches = [
        ["a"] * 9 + ["b"] * 8 + ["c"] * 7 + ["v"] * 5,  # d=5: v dropped, D=5
        ["v"] * 4,                                       # v re-enters
    ]
    state = spark.createDataFrame(
        [], "value string, est bigint, max_undercount bigint"
    )
    for batch in batches:
        counts = (
            spark.createDataFrame([(x,) for x in batch], "value string")
            .groupBy("value")
            .count()
            .selectExpr(
                "value",
                "cast(count as bigint) as est",
                "cast(0 as bigint) as max_undercount",
            )
        )
        state = mg_merge(state, counts, m)
        state = spark.createDataFrame(state.collect(), state.schema)

    got = {
        r.value: (r.est, r.max_undercount)
        for r in topk_counters(state).collect()
    }
    ref_state, ref_under, ref_d = _mg_reference(batches, m)
    assert {v: c for v, (c, _) in got.items()} == ref_state
    truth = Counter(x for b in batches for x in b)
    assert "v" in got
    for v, (est, u) in got.items():
        assert est <= truth[v] <= est + u, (v, est, u, truth[v])
        assert u == ref_under[v]


def test_mg_reference_guarantee_property():
    """Hypothesis over random batch sequences: the (fixed) merge rule's
    per-value bound true <= est + under and the classic presence
    guarantee (true freq > N/(m+1) => present) hold on every geometry,
    including drop/re-enter chains. Pure python (the Spark merge is
    pinned equal to this reference in the tests above)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(
        batches=st.lists(
            st.lists(st.sampled_from("abcdef"), min_size=0, max_size=25),
            min_size=1,
            max_size=6,
        ),
        m=st.integers(min_value=1, max_value=4),
    )
    def run(batches, m):
        state, under, total_d = _mg_reference(batches, m)
        truth = Counter(v for b in batches for v in b)
        n_total = sum(truth.values())
        assert len(state) <= m
        for v, n in truth.items():
            if n > n_total / (m + 1):
                assert v in state
        for v, est in state.items():
            assert est <= truth[v] <= est + under[v]
            assert under[v] <= total_d

    run()


def test_misra_gries_bound_audit_guarantees(spark):
    """The deterministic MG guarantees on the audit's real batch split:
    never overcounts, the est+undercount bound holds for every kept
    counter (re-entering values included), and every true heavy hitter
    is in the summary."""
    from taxi_data_pipeline_pset2_spark.queries.analytics import (
        misra_gries_bound_audit,
    )
    from tests.conftest import SF_SMOKE_DIR

    rows = misra_gries_bound_audit(spark, SF_SMOKE_DIR).collect()
    assert rows
    for r in rows:
        if r.est is not None:
            assert r.underestimate >= 0, r
            assert r.bound_slack >= 0, r
        if r.is_heavy:
            # completeness: heavy hitters are never missing
            assert r.est is not None, r
