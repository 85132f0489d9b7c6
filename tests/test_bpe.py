"""BPE training/encoding vs a from-scratch python reference (the
Sennrich et al. algorithm verbatim), plus determinism and shape checks."""

from __future__ import annotations

from collections import Counter

import pytest

from taxi_data_pipeline_pset2_spark.operators.bpe import (
    EOW,
    bpe_encode,
    bpe_learn,
    tokenize_bpe,
    word_symbol_table,
)
from taxi_data_pipeline_pset2_spark.operators.driver_path import distributed_only

TEXTS = [
    "low lower lowest low low",
    "new newer newest new new new",
    "wide wider widest low new",
    "low low low newer",
]


def _ref_learn(texts: list[str], n_merges: int, min_count: int = 2):
    """Reference BPE: word-frequency table, greedy left-to-right merge."""
    freqs = Counter()
    for t_ in texts:
        freqs.update(w for w in t_.strip().lower().split() if w)
    table = {w: list(w) + [EOW] for w in freqs}
    merges = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for w, syms in table.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += freqs[w]
        if not pairs:
            break
        # count desc, then lexicographic pair
        (a, b), n = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if n < min_count:
            break
        merges.append((a, b))
        for w, syms in table.items():
            out = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            table[w] = out
    return merges, table


def _docs(spark):
    return spark.createDataFrame(
        list(enumerate(TEXTS)), "doc_id long, text string"
    )


def test_learn_matches_reference(spark):
    got = bpe_learn(_docs(spark), n_merges=12)
    want, _ = _ref_learn(TEXTS, 12)
    assert got == want
    assert len(got) > 3  # the corpus supports several merges


def test_symbol_table_and_vocab_consistency(spark):
    tbl = {r.word: list(r.symbols) for r in word_symbol_table(_docs(spark)).collect()}
    assert tbl["low"] == ["l", "o", "w", EOW]
    # the learned merges, applied to the symbol table, give the
    # reference's final per-word symbols (the vocab)
    merges = bpe_learn(_docs(spark), n_merges=8)
    _, ref_table = _ref_learn(TEXTS, 8)
    enc = bpe_encode(word_symbol_table(_docs(spark)), merges).collect()
    assert {r.word: list(r.symbols) for r in enc} == ref_table


def test_tokenize_round_trips_characters(spark):
    merges = bpe_learn(_docs(spark), n_merges=10)
    out = {r.doc_id: list(r.bpe_tokens) for r in tokenize_bpe(_docs(spark), merges).collect()}
    for i, text in enumerate(TEXTS):
        # concatenating a doc's BPE tokens reproduces its words + markers
        joined = "".join(out[i])
        expected = "".join(w + EOW for w in text.split())
        assert joined == expected
    # merged units actually appear (compression happened)
    assert any(len(s) > 2 for toks in out.values() for s in toks)


def test_early_stop_and_validation(spark):
    docs = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    # every pair is unique (freq 1) -> min_count=2 stops immediately
    assert bpe_learn(docs, n_merges=5) == []
    with pytest.raises(ValueError):
        bpe_learn(docs, n_merges=-1)


def test_distributed_path_matches_driver_fast_path(spark):
    """distributed_only forces the distributed merge loop; both paths
    are the same greedy algorithm and must emit identical merges."""
    fast = bpe_learn(_docs(spark), n_merges=6)
    with distributed_only():
        dist = bpe_learn(_docs(spark), n_merges=6)
    assert fast == dist == _ref_learn(TEXTS, 6)[0]


def test_tokenize_vocab_dict_path_matches_distributed(spark):
    """tokenize_bpe's vocab-dict fast path and the distributed
    encode-distinct+join fallback must emit identical rows -- same
    greedy kernel (_encode_symbols), two execution shapes."""
    merges = bpe_learn(_docs(spark), n_merges=10)
    fast = {
        r.doc_id: (list(r.bpe_tokens), r.n_tokens)
        for r in tokenize_bpe(_docs(spark), merges).collect()
    }
    with distributed_only():
        rows = tokenize_bpe(_docs(spark), merges).collect()
    dist = {r.doc_id: (list(r.bpe_tokens), r.n_tokens) for r in rows}
    assert fast == dist
    assert len(fast) == len(TEXTS)
