"""Byte-pair-encoding tokenizer training + encoding at corpus scale.

Classic BPE (Sennrich et al. 2016, the public algorithm every GPT-style
tokenizer descends from): start from characters (with an end-of-word
marker), repeatedly merge the most frequent adjacent symbol pair. The
engine splits the work the way real trainers do:

- **corpus-sized work happens exactly once**: one scan + one shuffle
  builds the word-frequency table (vocab-sized -- Heaps' law puts a web
  corpus's distinct-word count around 10^7, a rounding error next to
  the corpus itself).
- **the merge loop is vocab-sized**: each iteration aggregates adjacent
  pairs over the word table (weighted by word frequency), takes the top
  pair (one driver row), and rewrites the symbol arrays. No iteration
  ever touches the corpus again.
- the merges run in driver_path.iterate, which local-checkpoints every
  merge's table (lazily; eagerly every 8th) so the plan never grows --
  an iterative-plan necessity (cf. operators/components.py), not an
  optimization.

Pair counting is pure column expressions (the zip_with shifted-slice
pattern shared with dedup.positioned_shingles). The per-word merge
rewrite is a Pandas-UDF ``mapInPandas`` kernel: a left-to-right greedy
array rewrite is inherently sequential per word, exactly the "built-in
operators genuinely can't express it" case -- the kernel is O(len)
per word on a vocab-sized frame.

Encoding applies the learned merge ranks greedily (lowest rank first),
the standard BPE encode; merges broadcast as a plain dict.

Determinism: ties on pair count break by lexicographic pair -- the
result is a pure function of the corpus, independent of partitioning.
Iterative + driver-coordinated means no single SQL oracle; correctness
is pinned against a from-scratch python reference in tests/test_bpe.py.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from taxi_data_pipeline_pset2_spark.operators.dedup import tokenize
from taxi_data_pipeline_pset2_spark.operators.driver_path import (
    bounded_arrow,
    iterate,
)

EOW = "</w>"  # end-of-word marker, standard BPE
# Vocabularies up to this many distinct words run bpe_learn's merge loop
# and tokenize_bpe's encode on the driver (operators/driver_path.py).
# Heaps' law keeps a web corpus's vocab ~1e7, so the cap is a memory
# statement, not a scale limit.
DRIVER_VOCAB_CAP = 200_000


def word_symbol_table(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(word, freq, symbols): the vocab-sized BPE work table. Symbols
    start as the word's characters plus the end-of-word marker."""
    from taxi_data_pipeline_pset2_spark.operators.skew import (
        spread_small_input,
    )

    words = (
        spread_small_input(docs.select(F.col(text_col)))
        .select(F.explode(tokenize(F.col(text_col))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("freq"))
    )
    # split(word, '') yields one element per character (no empty tail in
    # Spark 4); append the marker
    return words.withColumn(
        "symbols",
        F.concat(F.split(F.col("word"), ""), F.array(F.lit(EOW))),
    )


def _pair_counts(table: DataFrame) -> DataFrame:
    """(a, b, n): adjacent symbol pairs weighted by word frequency."""
    syms = F.col("symbols")
    n_pairs = F.greatest(F.size(syms) - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice(syms, 1, n_pairs),
        F.slice(syms, 2, n_pairs),
        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
    )
    return (
        table.select(F.col("freq"), F.explode(pairs).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("freq").alias("n"))
    )


def _merge_kernel(a: str, b: str):
    merged = a + b

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def merge_one(syms):
            out = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = merged
                else:
                    out.append(s)
            return out

        for pdf in batches:
            pdf = pdf.copy()
            pdf["symbols"] = pdf["symbols"].map(merge_one)
            yield pdf

    return run


def bpe_learn(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    min_count: int = 2,
) -> list[tuple[str, str]]:
    """Learn up to ``n_merges`` BPE merge rules. Stops early when no
    pair reaches ``min_count`` weighted occurrences. Returns the merges
    in rank order.

    Vocabularies up to DRIVER_VOCAB_CAP words run the identical greedy
    loop on the driver; see operators/driver_path.py for the
    contract."""
    if n_merges < 0:
        raise ValueError("n_merges must be >= 0")
    table, tbl = bounded_arrow(
        word_symbol_table(docs, text_col), DRIVER_VOCAB_CAP
    )
    if tbl is not None:
        return _bpe_learn_driver(tbl, n_merges, min_count)
    merges: list[tuple[str, str]] = []

    def merge_top(table: DataFrame) -> DataFrame | None:
        top = (
            _pair_counts(table)
            .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["n"] < min_count:
            return None
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        if len(merges) == n_merges:
            return None  # the table after the last merge is never read
        return table.mapInPandas(_merge_kernel(a, b), schema=table.schema)

    iterate("bpe_learn", table, merge_top, max_rounds=n_merges, checkpoint_every=8)
    return merges


def _bpe_learn_driver(
    tbl, n_merges: int, min_count: int
) -> list[tuple[str, str]]:
    """Driver-side merge loop over the collected Arrow (word, freq,
    symbols) table; greedy tie-break (count desc, lexicographic pair)
    identical to the distributed path's orderBy."""
    from collections import Counter

    table = list(
        zip(tbl.column("freq").to_pylist(), tbl.column("symbols").to_pylist())
    )
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for freq, syms in table:
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += freq
        if not pairs:
            break
        (a, b), n = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if n < min_count:
            break
        merges.append((a, b))
        for idx, (freq, syms) in enumerate(table):
            out = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            table[idx] = (freq, out)
    return merges


def _encode_symbols(
    syms, merges: list[tuple[str, str]], ranks: dict[tuple[str, str], int]
) -> list[str]:
    """Greedy BPE encode of one symbol list: repeatedly merge the
    present pair with the LOWEST merge rank. O(len * applied merges).
    Shared by the distributed kernel (bpe_encode) and the vocab-dict
    fast path (tokenize_bpe) so the two paths cannot drift."""
    syms = list(syms)
    while len(syms) > 1:
        best = None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best is None or r < best[0]):
                best = (r, i)
        if best is None:
            break
        a, b = merges[best[0]]
        out, i = [], 0
        while i < len(syms):
            if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    symbols_col: str = "symbols",
) -> DataFrame:
    """Apply learned merges to a symbol-array column: standard greedy
    encode (see _encode_symbols). The rank dict broadcasts; the kernel
    is O(len * applied merges) per row."""
    ranks = {pair: r for r, pair in enumerate(merges)}
    sc = df.sparkSession.sparkContext
    b_ranks = sc.broadcast(ranks)
    schema = df.schema

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rk = b_ranks.value

        def encode_one(syms):
            return _encode_symbols(syms, merges, rk)

        for pdf in batches:
            pdf = pdf.copy()
            pdf[symbols_col] = pdf[symbols_col].map(encode_one)
            yield pdf

    return df.mapInPandas(run, schema=schema)


def tokenize_bpe(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Document-level BPE tokenization: (id, bpe_tokens, n_tokens).
    Word-split first (the same whitespace tokenization the rest of the
    engine uses), then per-word greedy encode.

    The greedy encode is a pure function of the WORD, so it runs once
    per DISTINCT word, never once per occurrence. Vocabularies up to
    DRIVER_VOCAB_CAP words encode on the driver (see
    operators/driver_path.py) and broadcast as a dict consumed by ONE
    Arrow pass over the docs -- no shuffle at all. Above the cap the
    encode runs distributed over the distinct-word frame and hash-joins
    back onto the exploded occurrences -- still vocab-sized Python,
    plus one occurrence-shaped join and the per-doc reassembly
    aggregate. Both paths share _encode_symbols."""
    from taxi_data_pipeline_pset2_spark.operators.skew import (
        spread_small_input,
    )

    toks = F.filter(tokenize(F.col(text_col)), lambda w: w != "")
    base = docs.select(F.col(id_col), toks.alias("_toks")).filter(
        F.size("_toks") > 0
    )
    # checkpointed once by bounded_arrow: the collect and the
    # distributed fallback both read it
    vocab, tbl = bounded_arrow(
        base.select(F.explode("_toks").alias("word")).distinct(),
        DRIVER_VOCAB_CAP,
    )
    id_type = docs.schema[id_col].dataType.simpleString()
    out_schema = (
        f"{id_col} {id_type}, {out_col} array<string>, n_tokens bigint"
    )
    if tbl is not None:
        ranks = {pair: r for r, pair in enumerate(merges)}
        enc_map = {
            w: _encode_symbols(list(w) + [EOW], merges, ranks)
            for w in tbl.column("word").to_pylist()
        }
        b_map = docs.sparkSession.sparkContext.broadcast(enc_map)

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            m = b_map.value
            for pdf in batches:
                outs = []
                for words in pdf["_toks"]:
                    flat: list[str] = []
                    for w in words:
                        flat.extend(m[w])
                    outs.append(flat)
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col],
                        out_col: outs,
                        "n_tokens": [len(o) for o in outs],
                    }
                )

        # id-keyed spread: hashing the _toks array to pick a partition
        # would re-scan every token byte
        return spread_small_input(base, key_cols=[id_col]).mapInPandas(
            run, schema=out_schema
        )

    # Distributed fallback: encode the distinct-word frame, join back.
    exploded = base.select(
        F.col(id_col), F.posexplode("_toks").alias("_wpos", "word")
    )
    with_syms = vocab.withColumn(
        "symbols", F.concat(F.split(F.col("word"), ""), F.array(F.lit(EOW)))
    )
    enc = bpe_encode(with_syms, merges)
    return (
        exploded.join(enc, "word")
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("_wpos", "symbols"))
                    ),
                    lambda s: s["symbols"],
                )
            ).alias(out_col)
        )
        .withColumn("n_tokens", F.size(F.col(out_col)).cast("bigint"))
    )
