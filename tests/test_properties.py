"""Property-based tests (hypothesis): operator implementations vs
brute-force python references on adversarial small inputs."""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from taxi_data_pipeline_pset2_spark.operators.asof import asof_join
from taxi_data_pipeline_pset2_spark.operators.skew import salted_aggregate

_SPARK = None


def _spark():
    global _SPARK
    if _SPARK is None:
        from taxi_data_pipeline_pset2_spark.session import get_spark

        _SPARK = get_spark(app_name="props")
    return _SPARK


_ts = st.integers(min_value=0, max_value=50).map(
    lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
)
_key = st.integers(min_value=1, max_value=3)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    left=st.lists(st.tuples(_key, _ts), min_size=1, max_size=8),
    right=st.lists(
        st.tuples(_key, _ts, st.integers(min_value=-5, max_value=5)),
        min_size=0,
        max_size=8,
        unique_by=lambda r: (r[0], r[1]),  # unique (key, ts) on the right
    ),
)
def test_asof_join_matches_bruteforce(left, right):
    spark = _spark()
    ldf = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left)], "k long, ts timestamp, rid long"
    )
    rdf = spark.createDataFrame(right, "k long, ts timestamp, v long")
    got = {r.rid: r.v_asof for r in asof_join(ldf, rdf, on="k").collect()}
    for rid, (k, t) in enumerate(left):
        cands = [(rt, v) for (rk, rt, v) in right if rk == k and rt <= t]
        want = max(cands)[1] if cands else None
        assert got[rid] == want, (rid, k, t, got[rid], want)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    left=st.lists(st.tuples(_key, _ts), min_size=1, max_size=8),
    right=st.lists(
        st.tuples(_key, _ts, st.integers(min_value=-5, max_value=5)),
        min_size=0,
        max_size=8,
        unique_by=lambda r: (r[0], r[1]),
    ),
)
def test_asof_forward_and_nearest_match_bruteforce(left, right):
    from taxi_data_pipeline_pset2_spark.operators.asof import (
        asof_join_forward,
        asof_join_nearest,
    )

    spark = _spark()
    ldf = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left)], "k long, ts timestamp, rid long"
    )
    rdf = spark.createDataFrame(right, "k long, ts timestamp, v long")
    fwd = {r.rid: r.v_asof for r in asof_join_forward(ldf, rdf, on="k").collect()}
    near = {
        r.rid: (r.v_asof, r.ts_asof)
        for r in asof_join_nearest(ldf, rdf, on="k").collect()
    }
    for rid, (k, t) in enumerate(left):
        after = [(rt, v) for (rk, rt, v) in right if rk == k and rt >= t]
        want_f = min(after)[1] if after else None
        assert fwd[rid] == want_f, ("fwd", rid, k, t)
        cands = [(rt, v) for (rk, rt, v) in right if rk == k]
        if not cands:
            assert near[rid] == (None, None)
        else:
            # min |dt|, ties -> backward (the earlier timestamp)
            best = min(cands, key=lambda rv: (abs(rv[0] - t), rv[0] > t))
            assert near[rid] == (best[1], best[0]), ("near", rid, k, t)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(_key, st.integers(min_value=-1000, max_value=1000)),
        min_size=1,
        max_size=40,
    ),
    n_salts=st.sampled_from([1, 2, 7]),
)
def test_salted_aggregate_matches_bruteforce(rows, n_salts):
    spark = _spark()
    df = spark.createDataFrame(rows, "k long, x long")
    got = {
        r.k: (r.n, r.total)
        for r in salted_aggregate(
            df,
            ["k"],
            {"n": (F.count("*"), F.sum("n")), "total": (F.sum("x"), F.sum("total"))},
            n_salts=n_salts,
        ).collect()
    }
    want: dict[int, tuple[int, int]] = {}
    for k, x in rows:
        n, tot = want.get(k, (0, 0))
        want[k] = (n + 1, tot + x)
    assert got == want


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=12),
        min_size=2,
        max_size=8,
    ),
    max_d=st.integers(min_value=0, max_value=2),
)
def test_fuzzy_pairs_match_bruteforce_within_block(texts, max_d):
    """Every emitted pair is a true <=d Levenshtein pair, and every true
    pair that shares the block key is emitted (blocking recall is exact
    within blocks)."""
    import re

    from taxi_data_pipeline_pset2_spark.operators.fuzzy import fuzzy_pairs

    spark = _spark()
    rows = [(i, s) for i, s in enumerate(texts)]
    df = spark.createDataFrame(rows, "id long, name string")
    got = {
        (r.id_a, r.id_b): r.dist
        for r in fuzzy_pairs(df, "name", "id", max_distance=max_d, block_len=2).collect()
    }

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    def norm(s: str) -> str:
        return re.sub(r"\s+", " ", s.strip().lower())

    want = {}
    for i, a in rows:
        for j, b in rows:
            if i < j and norm(a)[:2] == norm(b)[:2]:
                d = lev(norm(a), norm(b))
                if d <= max_d:
                    want[(i, j)] = d
    assert got == want, (got, want)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),
            st.integers(min_value=0, max_value=3),
            st.integers(min_value=-100, max_value=100),
        ),
        min_size=1,
        max_size=12,
    )
)
def test_pivot_matches_bruteforce(vals):
    from taxi_data_pipeline_pset2_spark.operators.reshape import pivot_agg

    spark = _spark()
    df = spark.createDataFrame(vals, "g long, p long, v long")
    wide = pivot_agg(df, ["g"], "p", [0, 1, 2, 3], F.sum("v")).collect()
    got = {
        (r.g, p): r[str(p)] for r in wide for p in (0, 1, 2, 3)
    }
    for g in {v[0] for v in vals}:
        for p in (0, 1, 2, 3):
            cell = [v for (gg, pp, v) in vals if gg == g and pp == p]
            want = sum(cell) if cell else None
            assert got[(g, p)] == want, (g, p, got[(g, p)], want)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),  # doc_id
            st.integers(min_value=0, max_value=40),  # n_tokens (incl. 0 and oversize)
        ),
        min_size=1,
        max_size=24,
        unique_by=lambda d: d[0],
    ),
    token_budget=st.integers(min_value=1, max_value=16),
    n_shards=st.sampled_from([1, 2, 4]),
)
def test_packing_invariants(docs, token_budget, n_shards):
    """The packing contract over the whole input space (VERDICT r4 #8):
    (1) every doc appears exactly once; (2) no non-oversize sequence
    exceeds token_budget; (3) oversize flags exactly the docs longer
    than the budget, each alone in its sequence; (4) seq_pos is a dense
    0..m permutation within each sequence; (5) the assignment is
    deterministic under reshuffle."""
    from taxi_data_pipeline_pset2_spark.operators.packing import pack_sequences

    spark = _spark()
    df = spark.createDataFrame(docs, "doc_id long, n_tokens long")
    rows = pack_sequences(
        df, token_budget, len_col="n_tokens", n_shards=n_shards
    ).collect()

    # (1) exactly-once
    assert sorted(r.doc_id for r in rows) == sorted(d for d, _ in docs)
    lens = dict(docs)
    by_seq: dict[int, list] = {}
    for r in rows:
        assert r.n_tokens == lens[r.doc_id]
        by_seq.setdefault(r.seq_id, []).append(r)
    for seq_rows in by_seq.values():
        # (4) dense in-sequence positions
        assert sorted(r.seq_pos for r in seq_rows) == list(range(len(seq_rows)))
        # (3)/(2) oversize isolation and budget fit
        if any(r.oversize for r in seq_rows):
            assert len(seq_rows) == 1
            assert seq_rows[0].n_tokens > token_budget
        else:
            assert sum(r.n_tokens for r in seq_rows) <= token_budget
    for r in rows:
        # (3) completeness of the oversize flag
        assert r.oversize == (lens[r.doc_id] > token_budget)

    # (5) reshuffle determinism: same assignment from a different layout
    again = pack_sequences(
        df.repartition(5, "doc_id"), token_budget, len_col="n_tokens", n_shards=n_shards
    ).collect()
    assert {(r.doc_id, r.seq_id, r.seq_pos) for r in again} == {
        (r.doc_id, r.seq_id, r.seq_pos) for r in rows
    }


# ---- BPE greedy merge vs an independently-structured reference -------------
#
# _bpe_learn_driver (and the distributed twin pinned equal to it in
# test_bpe.py) rewrites symbol ARRAYS left-to-right; Sennrich's original
# operates on SPACE-JOINED STRINGS with a boundary-anchored regex. The
# two formulations only agree if the overlap semantics (non-overlapping
# left-to-right, e.g. "a a a" -> "aa a") and the tie-break (count desc,
# then lexicographic pair) are both right -- a shared-misconception
# guard the same-author from-scratch reference in test_bpe.py cannot
# give.


def _bpe_reference_string(words: list[tuple[str, int]], n_merges: int, min_count: int):
    import re

    table = {" ".join(list(w) + ["</w>"]): f for w, f in words}
    merges = []
    for _ in range(n_merges):
        pairs: dict = {}
        for word, freq in table.items():
            syms = word.split(" ")
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + freq
        if not pairs:
            break
        (a, b), n = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if n < min_count:
            break
        merges.append((a, b))
        pat = re.compile(r"(?<!\S)" + re.escape(a + " " + b) + r"(?!\S)")
        table = {pat.sub(a + b, word): f for word, f in table.items()}
    return merges


@settings(max_examples=40, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    words=st.lists(
        st.tuples(
            st.text(alphabet="abc", min_size=1, max_size=6),
            st.integers(min_value=1, max_value=5),
        ),
        min_size=1,
        max_size=8,
    ),
    n_merges=st.integers(min_value=0, max_value=10),
    min_count=st.integers(min_value=1, max_value=3),
)
def test_bpe_driver_loop_matches_string_reference(words, n_merges, min_count):
    import pyarrow as pa

    from taxi_data_pipeline_pset2_spark.operators.bpe import EOW, _bpe_learn_driver

    # collapse duplicate words the way word_symbol_table's groupBy does
    agg: dict = {}
    for w, f in words:
        agg[w] = agg.get(w, 0) + f
    items = sorted(agg.items())
    # the kernel reads the word table as the Arrow collect delivers it
    tbl = pa.table(
        {
            "freq": [f for _, f in items],
            "symbols": [list(w) + [EOW] for w, _ in items],
        }
    )
    got = _bpe_learn_driver(tbl, n_merges, min_count)
    want = _bpe_reference_string(items, n_merges, min_count)
    assert got == want


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    buckets=st.lists(
        st.sets(st.integers(min_value=0, max_value=99), max_size=40).map(sorted),
        min_size=1,
        max_size=4,
    ),
    cap=st.integers(min_value=1, max_value=8),
)
def test_bucket_pairs_matches_naive_over_random_geometries(buckets, cap):
    """bucket_pairs (the pair expander under every LSH/blocking op) must
    emit EXACTLY the naive triangular pair multiset of each bucket for
    ANY (bucket size, cap) geometry -- incl. cap=1 (every chunk is a
    single element, so all pairs come from cross-chunk rows), sizes at
    and one off the chunk boundary, and empty/singleton buckets -- while
    no materialized row ever exceeds cap^2 pair structs. The pinned
    b=137/cap=16 case proved one geometry; the chunk arithmetic
    (triangular chunk-index expansion, slice offsets, small-bucket fast
    path) has off-by-one surface this walks at random."""
    from taxi_data_pipeline_pset2_spark.operators.dedup import (
        _bucket_pair_arrays,
        bucket_pairs,
    )

    spark = _spark()
    df = spark.createDataFrame([(b,) for b in buckets], "ids array<int>")
    got = sorted(
        (r.p.a, r.p.b) for r in bucket_pairs(df, "ids", cap=cap).collect()
    )
    want = sorted(
        (a, b)
        for ids in buckets
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
    )
    assert got == want  # multiset equality: every pair exactly once
    sizes = [
        r.s
        for r in _bucket_pair_arrays(df, "ids", cap=cap)
        .select(F.size("pair_arr").alias("s"))
        .collect()
    ]
    assert all(s <= cap * cap for s in sizes), (cap, max(sizes))
