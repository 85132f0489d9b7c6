"""Round-7 analytics catalog entries: association rules, survival,
change-point, Benford audit, collocations, RFM segmentation.

Every entry follows the catalog determinism contract (catalog.py): exact
integer counts, decimal-accumulated money sums, single 6-dp rounding of
each ratio, full tiebreaker sort keys, identical aliases on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from taxi_data_pipeline_pset2_spark.queries._helpers import t
from taxi_data_pipeline_pset2_spark.queries.catalog import query

_BASKET_ORACLE = """
    WITH bi AS (
      SELECT DISTINCT l_orderkey AS b, p_brand AS i
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE l_orderkey IS NOT NULL AND p_brand IS NOT NULL
    ),
    ok AS (SELECT b FROM bi GROUP BY b HAVING count(*) <= 256),
    bi2 AS (SELECT bi.* FROM bi JOIN ok USING (b)),
    nb AS (SELECT count(DISTINCT b) AS n FROM bi2),
    ic AS (SELECT i, count(*) AS c FROM bi2 GROUP BY i),
    pc AS (SELECT x.i AS item_a, y.i AS item_b,
                  CAST(count(*) AS BIGINT) AS n_ab
           FROM bi2 x JOIN bi2 y ON x.b = y.b AND x.i < y.i
           GROUP BY 1, 2)
    SELECT item_a, item_b, n_ab,
           CAST(ca.c AS BIGINT) AS n_a, CAST(cb.c AS BIGINT) AS n_b,
           round(n_ab / n.n, 6) AS support,
           round(n_ab / ca.c, 6) AS conf_a_b,
           round(n_ab / cb.c, 6) AS conf_b_a,
           round((n_ab * n.n) / (ca.c * cb.c), 6) AS lift
    FROM pc
    JOIN ic ca ON pc.item_a = ca.i
    JOIN ic cb ON pc.item_b = cb.i
    CROSS JOIN nb n
    WHERE n_ab / n.n >= 0.005
    ORDER BY n_ab DESC, item_a, item_b
"""


@query("brand_association_rules", oracle=_BASKET_ORACLE, tags=("basket", "join", "bench"))
def brand_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise brand association rules over order baskets
    (operators/basket.py): support / confidence / lift for every brand
    pair co-occurring in >= 0.5% of orders. Pair generation explodes
    each basket's sorted item list in place (one basket-keyed
    aggregate, chunked at cap^2 structs per row -- r13; no basket
    self-join), never an item cartesian; item frequencies and the
    basket total broadcast onto the pair aggregate."""
    from taxi_data_pipeline_pset2_spark.operators.basket import (
        association_rules,
    )

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = li.join(
        F.broadcast(part), li.l_partkey == part.p_partkey
    ).select("l_orderkey", "p_brand")
    return association_rules(
        baskets, "l_orderkey", "p_brand", min_support=0.005
    )


_KM_ORACLE = """
    WITH dur AS (
      SELECT o.o_orderpriority AS priority,
             date_diff('day', CAST(o.o_orderdate AS DATE),
                       CAST(max(l.l_shipdate) AS DATE)) AS d,
             CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS ev
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate,
               o.o_orderstatus
    ),
    by_t AS (
      SELECT priority, CAST(d AS DOUBLE) AS t,
             CAST(sum(ev) AS BIGINT) AS n_event,
             CAST(sum(1 - ev) AS BIGINT) AS n_censored
      FROM dur WHERE d >= 0 GROUP BY 1, 2
    ),
    risk AS (
      SELECT *,
             sum(n_event + n_censored) OVER (PARTITION BY priority)
               - coalesce(sum(n_event + n_censored) OVER (
                   PARTITION BY priority ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
      FROM by_t
    ),
    fac AS (SELECT *, 1.0 - n_event / CAST(n_risk AS DOUBLE) AS factor
            FROM risk),
    s AS (
      SELECT *,
             max(CASE WHEN factor <= 0 THEN 1 ELSE 0 END)
               OVER cum AS zero_seen,
             sum(CASE WHEN factor > 0 THEN ln(factor) ELSE 0 END)
               OVER cum AS logsum
      FROM fac
      WINDOW cum AS (PARTITION BY priority ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT priority, t, CAST(n_risk AS BIGINT) AS n_risk, n_event,
           n_censored,
           round(CASE WHEN zero_seen = 1 THEN 0.0 ELSE exp(logsum) END, 6)
             AS survival
    FROM s ORDER BY priority, t
"""


@query("fulfillment_survival_km", oracle=_KM_ORACLE, tags=("survival", "window", "bench"))
def fulfillment_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier time-to-fulfillment curves per order priority
    (operators/survival.py): duration = days from order date to the
    last line shipment, event observed when the order reached status
    'F', censored otherwise. Curve rows are (group, distinct duration)
    -- subjects reduce to one hash aggregate before any window runs."""
    from taxi_data_pipeline_pset2_spark.operators.survival import (
        kaplan_meier,
    )

    o = t(spark, sf_dir, "orders")
    li = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max("l_shipdate").alias("_last_ship"))
    )
    base = o.join(li, o.o_orderkey == li.l_orderkey).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(
            F.to_date("_last_ship"), F.to_date("o_orderdate")
        ).alias("d"),
        # coalesce false: an order with NULL status is CENSORED (the
        # event was not observed), matching the oracle's CASE ELSE 0 --
        # a bare == would make ev NULL and the operator would drop the
        # subject from the risk set entirely (r11 twin alignment)
        F.coalesce(F.col("o_orderstatus") == "F", F.lit(False)).alias("ev"),
    )
    return kaplan_meier(base, "d", "ev", ["priority"])


_CUSUM_ORACLE = """
    WITH base AS (
      SELECT user_id, ts, event_id, CAST(value AS DECIMAL(18,6)) AS x
      FROM events WHERE value IS NOT NULL
    ),
    w AS (
      SELECT user_id,
             row_number() OVER ord AS k,
             count(*) OVER (PARTITION BY user_id) AS n,
             CAST(sum(x) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS DOUBLE) AS cum,
             CAST(sum(x) OVER (PARTITION BY user_id) AS DOUBLE) AS tot,
             CAST(sum(x * x) OVER (PARTITION BY user_id) AS DOUBLE) AS tot2
      FROM base
      WINDOW ord AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    cand AS (
      SELECT user_id, n, k AS change_pos,
             abs(cum - k * tot / n) AS abs_c,
             cum / k AS mb,
             (tot - cum) / (n - k) AS ma,
             tot2 / n - (tot / n) * (tot / n) AS varp
      FROM w WHERE k < n
    ),
    best AS (
      SELECT *, row_number() OVER (PARTITION BY user_id
                  ORDER BY abs_c DESC, change_pos ASC) AS r
      FROM cand
    )
    SELECT user_id,
           CAST(n AS BIGINT) AS n,
           CAST(CASE WHEN varp > 0 THEN change_pos END AS BIGINT)
             AS change_pos,
           round(CASE WHEN varp > 0 THEN abs_c END, 6) AS cusum_abs,
           round(CASE WHEN varp > 0
                      THEN abs_c / (sqrt(varp) * sqrt(n)) END, 6)
             AS cusum_stat,
           round(CASE WHEN varp > 0 THEN mb END, 6) AS mean_before,
           round(CASE WHEN varp > 0 THEN ma END, 6) AS mean_after,
           round(CASE WHEN varp > 0 THEN ma - mb END, 6) AS shift
    FROM best WHERE r = 1 ORDER BY user_id
"""


@query("user_value_changepoint", oracle=_CUSUM_ORACLE, tags=("changepoint", "window", "bench"))
def user_value_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user mean-shift change point over the event value series
    (operators/changepoint.py): centered-CUSUM argmax with a
    scale-free strength score -- the WHEN to drift.py's WHETHER.
    O(n) per series via the CUSUM identity, never a per-split
    two-sample rescan."""
    from taxi_data_pipeline_pset2_spark.operators.changepoint import (
        mean_shift_changepoint,
    )

    return mean_shift_changepoint(
        t(spark, sf_dir, "events"),
        ["user_id"],
        ["ts", "event_id"],
        "value",
    )


def _benford_oracle() -> str:
    import math

    vals = ", ".join(
        f"('{d}', {math.log10(1 + 1 / d)!r})" for d in range(1, 10)
    )
    return f"""
    WITH d AS (
      SELECT regexp_extract(
               CAST(CAST(o_totalprice AS DECIMAL(38,6)) AS VARCHAR),
               '[1-9]', 0) AS digit
      FROM orders
    ),
    counts AS (
      SELECT digit, CAST(count(*) AS BIGINT) AS n
      FROM d WHERE digit <> '' GROUP BY digit
    ),
    expd AS (SELECT * FROM (VALUES {vals}) AS v(digit, frac_expected)),
    j AS (
      SELECT e.digit, coalesce(c.n, 0) AS n, e.frac_expected
      FROM expd e LEFT JOIN counts c USING (digit)
    ),
    tot AS (SELECT CAST(sum(n) AS DOUBLE) AS tt FROM j)
    SELECT digit, n,
           round(n / tt, 6) AS frac_observed,
           round(frac_expected, 6) AS frac_expected,
           round((n - tt * frac_expected) * (n - tt * frac_expected)
                 / (tt * frac_expected), 6) AS chi2_contrib
    FROM j, tot ORDER BY digit
"""


@query("benford_price_audit", oracle=_benford_oracle(), tags=("quality", "agg"))
def benford_price_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-digit Benford audit of order totals
    (operators/profiling.py benford_audit): per-digit observed vs
    expected fraction and chi-square contribution -- the forensic
    screen for fabricated/truncated numeric feeds. One hash aggregate
    to 9 rows; decimal-string digit extraction, not float log10."""
    from taxi_data_pipeline_pset2_spark.operators.profiling import (
        benford_audit,
    )

    return benford_audit(t(spark, sf_dir, "orders"), "o_totalprice")


_PMI_ORACLE = r"""
    WITH toks AS (
      SELECT string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents
    ),
    uc AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS n_tok
      FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY tok
    ),
    bc AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair
      FROM (SELECT t[i] AS w1, t[i + 1] AS w2
            FROM toks, unnest(range(1, len(t))) AS g(i))
      GROUP BY w1, w2 HAVING count(*) >= 5
    ),
    tot AS (
      SELECT CAST(sum(len(t)) AS DOUBLE) AS tu,
             CAST(sum(greatest(len(t) - 1, 0)) AS DOUBLE) AS tb
      FROM toks
    )
    SELECT w1, w2, n_pair, a.n_tok AS n_w1, b.n_tok AS n_w2,
           round(ln((n_pair / tb)
                    / ((a.n_tok / tu) * (b.n_tok / tu))), 6) AS pmi
    FROM bc JOIN uc a ON bc.w1 = a.tok JOIN uc b ON bc.w2 = b.tok, tot
    ORDER BY pmi DESC, w1, w2 LIMIT 100
"""


@query("pmi_collocations_docs", oracle=_PMI_ORACLE, tags=("text", "bench"))
def pmi_collocations_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 collocations by PMI over the document corpus
    (operators/text.py pmi_collocations): adjacent token pairs glued
    tighter than unigram independence predicts, min pair count 5.
    Two explode+aggregate passes, vocabulary-keyed joins, TakeOrdered."""
    from taxi_data_pipeline_pset2_spark.operators.text import (
        pmi_collocations,
    )

    return pmi_collocations(
        t(spark, sf_dir, "documents"), min_count=5, top_k=100
    )


_RFM_ORACLE = """
    WITH pc AS (
      SELECT o_custkey AS customer,
             max(CAST(o_orderdate AS DATE)) AS last_d,
             CAST(count(o_orderdate) AS BIGINT) AS frequency,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS monetary
      FROM orders GROUP BY 1
    ),
    a AS (SELECT max(last_d) AS anchor FROM pc),
    s AS (SELECT pc.*,
                 CAST(date_diff('day', last_d, anchor) AS BIGINT)
                   AS recency_days
          FROM pc, a),
    sc AS (SELECT *,
             ntile(5) OVER (ORDER BY recency_days DESC NULLS FIRST,
                            customer) AS r_score,
             ntile(5) OVER (ORDER BY frequency ASC NULLS FIRST,
                            customer) AS f_score,
             ntile(5) OVER (ORDER BY monetary ASC NULLS FIRST,
                            customer) AS m_score
           FROM s)
    SELECT customer, recency_days, frequency,
           round(monetary, 2) AS monetary,
           CAST(r_score AS INT) AS r_score,
           CAST(f_score AS INT) AS f_score,
           CAST(m_score AS INT) AS m_score,
           CAST(r_score * 100 + f_score * 10 + m_score AS INT) AS rfm
    FROM sc ORDER BY customer
"""


@query("customer_rfm_segments", oracle=_RFM_ORACLE, tags=("segmentation", "window"))
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quintile segmentation of customers from the orders fact
    (operators/segmentation.py): one customer-sized aggregate, then
    exact NTILE scoring with key tie-breaks (dimension-scale; the
    corpus-scale route is quantile_bin's sketch boundaries)."""
    from taxi_data_pipeline_pset2_spark.operators.segmentation import (
        rfm_segments,
    )

    return rfm_segments(
        t(spark, sf_dir, "orders"),
        "o_custkey",
        "o_orderdate",
        "o_totalprice",
    )


def _pq_oracle(
    m: int = 8,
    k: int = 16,
    n_iter: int = 10,
    dim: int = 64,
    top_k: int = 10,
    train_cap: int = 50_000,
    extra_ctes: dict[str, str] | None = None,
) -> str:
    """DuckDB twin of the ENTIRE PQ pipeline -- train, encode, ADC
    search -- unrolled: m independent subspace Lloyd chains (the
    exact-integer update of _kmeans_oracle, n_iter rounds each), then
    per-subspace argmin encode over the corpus, then the query LUT and
    the integer ADC sum. Possible since r9's exact-integer _lloyd:
    codebooks live on the 1e-6 grid via floor((2S+n)/(2n)) updates, so
    every argmin/LUT/sum is integer arithmetic both engines reproduce
    bit-exactly; only the final reported adc_dist divides by SCALE^2
    (an exact-int-to-double conversion) and 6-dp rounds. ~{m * n_iter
    * 3} CTEs, every one AS MATERIALIZED (the _kcore_oracle lesson:
    DuckDB's planner blows up inlining deep chains)."""
    dsub = dim // m

    def d2(vec: str, cte: str) -> str:
        return (
            f"list_sum(list_transform(generate_series(1, {dsub}),"
            f" i -> ({vec} - {cte}.c[i]) * ({vec} - {cte}.c[i])))"
        )

    # LIMIT matches the engine's train_pq(train_cap=50_000) exactly:
    # without it the oracle would train on the FULL corpus and silently
    # diverge the day the embeddings table exceeds the cap (ADVICE r9)
    parts = [
        f"""smp AS MATERIALIZED (SELECT vec_id, iv FROM n
                                 ORDER BY vec_id LIMIT {train_cap}),
        qv AS MATERIALIZED (SELECT iv AS qiv FROM n ORDER BY vec_id LIMIT 1),
        dims AS MATERIALIZED (SELECT unnest(generate_series(1, {dsub})) AS dim)"""
    ]
    for s in range(m):
        off = s * dsub
        sub = f"smp.iv[{off} + i]"
        parts.append(
            f"""cs{s}_0 AS MATERIALIZED (
          SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
                 AS code,
                 list_transform(generate_series(1, {dsub}),
                                i -> iv[{off} + i]) AS c
          FROM (SELECT vec_id, iv FROM n ORDER BY vec_id LIMIT {k}))"""
        )
        for r in range(1, n_iter + 1):
            p = f"cs{s}_{r - 1}"
            parts.append(
                f"""as{s}_{r} AS MATERIALIZED (
          SELECT vec_id, code FROM (
            SELECT vec_id, code,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d2, code) AS rk
            FROM (SELECT smp.vec_id, {p}.code, {d2(sub, p)} AS d2
                  FROM smp CROSS JOIN {p}))
          WHERE rk = 1),
        ss{s}_{r} AS MATERIALIZED (
          SELECT a.code, d.dim,
                 CAST(sum(smp.iv[{off} + d.dim]) AS BIGINT) AS sx,
                 CAST(count(*) AS BIGINT) AS cnt
          FROM as{s}_{r} a JOIN smp ON smp.vec_id = a.vec_id
          CROSS JOIN dims d GROUP BY 1, 2),
        cs{s}_{r} AS MATERIALIZED (
          SELECT p.code,
                 list(CASE WHEN s.sx IS NULL THEN p.c[d.dim]
                           ELSE ((2 * s.sx + s.cnt)
                                 - (((2 * s.sx + s.cnt) % (2 * s.cnt)
                                     + (2 * s.cnt)) % (2 * s.cnt)))
                                // (2 * s.cnt)
                      END ORDER BY d.dim) AS c
          FROM {p} p CROSS JOIN dims d
          LEFT JOIN ss{s}_{r} s ON s.code = p.code AND s.dim = d.dim
          GROUP BY p.code)"""
            )
        last = f"cs{s}_{n_iter}"
        nsub = f"n.iv[{off} + i]"
        parts.append(
            f"""enc{s} AS MATERIALIZED (
          SELECT vec_id, code FROM (
            SELECT vec_id, code,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d2, code) AS rk
            FROM (SELECT n.vec_id, {last}.code, {d2(nsub, last)} AS d2
                  FROM n CROSS JOIN {last}))
          WHERE rk = 1),
        lut{s} AS MATERIALIZED (
          SELECT c.code,
                 CAST({d2(f"qv.qiv[{off} + i]", "c")} AS BIGINT) AS d
          FROM {last} c CROSS JOIN qv)"""
        )
    joins = " ".join(
        (
            f"JOIN enc{s} e{s} ON e{s}.vec_id = e0.vec_id "
            if s
            else "FROM enc0 e0 "
        )
        + f"JOIN lut{s} l{s} ON l{s}.code = e{s}.code"
        for s in range(m)
    )
    total = " + ".join(f"l{s}.d" for s in range(m))
    with_body = (
        "WITH prep AS (SELECT vec_id, list_transform(embedding::DOUBLE[],"
        " x -> CAST(round(x * 1000000) AS BIGINT)) AS iv FROM embeddings),\n"
        "        n AS MATERIALIZED (SELECT vec_id, iv FROM prep),\n        "
        + ",\n        ".join(parts)
    )
    topk_select = f"""
        SELECT e0.vec_id,
               round(CAST(({total}) AS DOUBLE) / 1000000000000.0, 6)
                 AS adc_dist
        {joins}
        ORDER BY CAST(({total}) AS DOUBLE) / 1000000000000.0 ASC, e0.vec_id
        LIMIT {top_k}"""
    if extra_ctes is None:
        return with_body + topk_select
    # recall-audit composition: the topk select becomes one more
    # MATERIALIZED CTE on the SAME flat WITH chain -- wrapping the whole
    # statement as a derived table instead loses the materialization
    # (measured 6.4 s -> 97 s at sf0.001)
    inner = topk_select.replace("\n", "\n    ")
    return (
        with_body
        + f",\n        pqtop AS MATERIALIZED ({inner}),\n        "
        + extra_ctes["ctes"]
        + "\n"
        + extra_ctes["final"]
    )


@query("pq_ann_topk", oracle=_pq_oracle(), tags=("similarity", "ann", "bench"))
def pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/pq.py): train m=8/k=16
    codebooks on the embedding corpus, encode to 8 codes/vector (32x
    compression of the 64-d float vectors), ADC top-10 for the lowest
    vec_id's embedding. FULL oracle since r9 (_pq_oracle): the
    exact-integer _lloyd upgrade puts codebooks on the 1e-6 grid, so
    train -> encode -> LUT -> ADC unrolls into a DuckDB CTE chain and
    even the APPROXIMATE index's answer is hash-verified end to end.
    Determinism + recall stay pinned in tests/test_pq.py. The
    compressed search path never touches a stored float vector."""
    from taxi_data_pipeline_pset2_spark.operators.pq import (
        encode_pq,
        search_pq,
        train_pq,
    )

    emb = t(spark, sf_dir, "embeddings")
    cb = train_pq(emb, m=8, k=16, n_iter=10)
    q = (
        emb.orderBy("vec_id")
        .limit(1)
        .select(F.col("embedding").cast("array<double>").alias("v"))
        .collect()[0]["v"]
    )
    return search_pq(encode_pq(emb, cb), cb, q, top_k=10)


# Recall-audit k, shared by BOTH engines' sides of both audits: the
# engine's search/exact top-k, the F.lit(k) output column and divisor,
# and the oracle builders' top_k must all agree or engine and oracle
# silently compare different cutoffs.
_RECALL_K = 10


def _lowest_id_query_vector(emb: DataFrame) -> list[float]:
    """The audits' fixed query: the lowest vec_id's embedding as
    doubles (bounded 1-row collect), matching the oracles' qv CTE."""
    return (
        emb.orderBy("vec_id")
        .limit(1)
        .select(F.col("embedding").cast("array<double>").alias("v"))
        .collect()[0]["v"]
    )


def _recall_row(approx: DataFrame, exact: DataFrame, k: int) -> DataFrame:
    """One (k, n_hits, recall) row from two (vec_id) top-k frames --
    the Spark twin of _exact_recall_ctes' final select."""
    return (
        approx.join(exact, "vec_id")
        .agg(F.count("*").cast("bigint").alias("n_hits"))
        .select(
            F.lit(k).cast("bigint").alias("k"),
            "n_hits",
            (F.col("n_hits").cast("double") / F.lit(k)).alias("recall"),
        )
    )


def _exact_recall_ctes(top_k: int, dim: int) -> dict[str, str]:
    """The shared recall-audit tail: a brute-force exact-euclid CTE over
    the grid table ``n`` (reusing the chain's own qv query CTE --
    duplicating its definition would let the two sides silently compare
    different queries after an edit) and the single-row overlap count
    against the chain's ``pqtop`` top-k."""
    ctes = f"""ex AS MATERIALIZED (
            SELECT vec_id FROM (
                SELECT n.vec_id,
                       list_sum(list_transform(generate_series(1, {dim}),
                                i -> (n.iv[i] - qv.qiv[i])
                                     * (n.iv[i] - qv.qiv[i]))) AS d2
                FROM n CROSS JOIN qv)
            ORDER BY d2, vec_id LIMIT {top_k})"""
    final = f"""
        SELECT CAST({top_k} AS BIGINT) AS k,
               CAST(count(*) AS BIGINT) AS n_hits,
               CAST(count(*) AS DOUBLE) / {top_k} AS recall
        FROM pqtop JOIN ex USING (vec_id)"""
    return {"ctes": ctes, "final": final}


def _pq_recall_oracle(top_k: int = 10, dim: int = 64) -> str:
    """Recall@k of the PQ index vs exact integer-grid squared-L2: the
    full _pq_oracle chain plus a pqtop CTE on the SAME flat WITH list
    (materialization-preserving), one brute-force exact CTE on the same
    grid, and a single output row counting the overlap."""
    return _pq_oracle(top_k=top_k, extra_ctes=_exact_recall_ctes(top_k, dim))


@query(
    "pq_recall_audit",
    oracle=_pq_recall_oracle(top_k=_RECALL_K),
    tags=("similarity", "ann"),
)
def pq_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@10 of the PQ ADC index against the exact
    integer-grid euclidean top-10 (operators/similarity.py
    exact_euclid_topk) for the same query -- the quantified-quality row
    the PQ family lacked while the LSH family carried lsh_recall_audit /
    brp_recall_audit: an approximate index without a measured recall
    number is an unquantified risk at corpus scale. Both ranked lists
    are exact-integer deterministic, so even this audit of an
    APPROXIMATE index is hash-verified end to end (the oracle re-runs
    the whole PQ train/encode/ADC chain as a subquery plus one
    brute-force CTE)."""
    from taxi_data_pipeline_pset2_spark.operators.pq import (
        encode_pq,
        search_pq,
        train_pq,
    )
    from taxi_data_pipeline_pset2_spark.operators.similarity import (
        exact_euclid_topk,
    )

    emb = t(spark, sf_dir, "embeddings")
    cb = train_pq(emb, m=8, k=16, n_iter=10)
    q = _lowest_id_query_vector(emb)
    approx = search_pq(encode_pq(emb, cb), cb, q, top_k=_RECALL_K).select(
        "vec_id"
    )
    exact = exact_euclid_topk(emb, q, k=_RECALL_K).select("vec_id")
    return _recall_row(approx, exact, _RECALL_K)


def _pagerank_oracle(n_iter: int = 8, damping: float = 0.85, limit: int = 25) -> str:
    """DuckDB twin of the fixed-iteration power iteration: one chained
    CTE pair (dangling scalar + contribution aggregate) per round,
    mirroring operators/graph.py's update rule with IDENTICAL double
    arithmetic -- literals injected via repr() so both engines parse the
    same IEEE constants (python 1.0-0.85 != decimal 0.15), every
    expression left-associated exactly as the Spark column expression,
    and the final 8-dp rounding via the shared scaled-bigint discipline.
    The only cross-engine difference left is double SUM order, whose
    ~1e-16 noise is 7 orders of magnitude under the rounding grain.
    Every CTE is MATERIALIZED: each round reads the previous one twice,
    so DuckDB's inlining would expand 2^rounds copies of the chain."""
    tele = repr(1.0 - damping)
    d = repr(damping)
    parts = [
        """edges AS MATERIALIZED (
            SELECT 's' || l_suppkey AS src, 'c' || o_custkey AS dst,
                   CAST(1 AS DOUBLE) AS w
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        nodes AS MATERIALIZED (
            SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
        deg AS MATERIALIZED (SELECT src, sum(w) AS deg FROM edges GROUP BY src),
        r0 AS MATERIALIZED (SELECT node, CAST(1 AS DOUBLE) / nn.n AS rank
               FROM nodes CROSS JOIN nn)"""
    ]
    prev = "r0"
    for k in range(1, n_iter + 1):
        parts.append(
            f"""d{k} AS MATERIALIZED (
                 SELECT coalesce(sum(r.rank), CAST(0 AS DOUBLE)) AS dang
                 FROM {prev} r LEFT JOIN deg ON r.node = deg.src
                 WHERE deg.src IS NULL),
        c{k} AS MATERIALIZED (
                 SELECT e.dst AS node, sum(r.rank * e.w / dg.deg) AS contrib
                 FROM edges e JOIN {prev} r ON e.src = r.node
                      JOIN deg dg ON e.src = dg.src
                 GROUP BY e.dst),
        r{k} AS MATERIALIZED (SELECT nd.node,
                        CAST({tele} AS DOUBLE) / nn.n
                        + CAST({d} AS DOUBLE) * d{k}.dang / nn.n
                        + CAST({d} AS DOUBLE)
                          * coalesce(c{k}.contrib, CAST(0 AS DOUBLE)) AS rank
                 FROM nodes nd CROSS JOIN nn CROSS JOIN d{k}
                 LEFT JOIN c{k} ON nd.node = c{k}.node)"""
        )
        prev = f"r{k}"
    return (
        "WITH "
        + ",\n        ".join(parts)
        + f"""
        SELECT node, CAST(round(rank * 1e8) AS BIGINT) / 1e8 AS rank
        FROM {prev}
        ORDER BY CAST(round(rank * 1e8) AS BIGINT) / 1e8 DESC, node
        LIMIT {limit}"""
    )


@query(
    "pagerank_supplier_customer",
    oracle=_pagerank_oracle(),
    tags=("graph", "bench"),
)
def pagerank_supplier_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the supplier->customer fulfillment graph
    (operators/graph.py): an edge per order line from its supplier to
    the ordering customer; customers are all dangling, exercising the
    teleport redistribution. Top-25 authorities. Iterative, but the
    iteration count is FIXED (8), so the power iteration unrolls into a
    chained-CTE DuckDB oracle (_pagerank_oracle) -- upgrading this from
    the weaker rows-only check to a full rows+schema+hash twin; the
    update rule is additionally pinned against a from-scratch python
    power iteration in tests/test_graph.py."""
    from taxi_data_pipeline_pset2_spark.operators.graph import pagerank

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("src"),
        F.concat(F.lit("c"), F.col("o_custkey")).alias("dst"),
    )
    return pagerank(edges, n_iter=8).limit(25)


_GINI_ORACLE = """
    WITH pc AS (
      SELECT o_custkey,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS spend
      FROM orders GROUP BY 1
    ),
    seg AS (
      SELECT c_mktsegment AS segment, CAST(spend AS DECIMAL(18,6)) AS x
      FROM pc JOIN customer ON c_custkey = o_custkey
    ),
    ranked AS (
      SELECT segment, x,
             row_number() OVER (PARTITION BY segment ORDER BY x ASC)
               AS i
      FROM seg
    ),
    agg AS (
      SELECT segment, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS DOUBLE) AS sx,
             CAST(sum(CAST(i AS DECIMAL(10,0)) * x) AS DOUBLE) AS six
      FROM ranked GROUP BY 1
    )
    SELECT segment, n, round(sx, 6) AS total,
           round(CASE WHEN sx > 0
                      THEN (2 * six - (n + 1) * sx) / (n * sx) END, 6)
             AS gini
    FROM agg ORDER BY segment
"""


@query("gini_customer_spend", oracle=_GINI_ORACLE, tags=("stats", "window"))
def gini_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration of customer lifetime spend per market segment
    (operators/stats.py gini_coefficient): how top-heavy each segment's
    revenue is. Facts reduce to a customer-sized aggregate before the
    rank window runs."""
    from taxi_data_pipeline_pset2_spark.operators.stats import (
        gini_coefficient,
    )

    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("spend")
    )
    seg = per_cust.join(
        F.broadcast(c), per_cust.o_custkey == c.c_custkey
    ).select(F.col("c_mktsegment").alias("segment"), "spend")
    return gini_coefficient(seg, "spend", ["segment"])


_ENTROPY_ORACLE = """
    WITH c AS (
      SELECT user_id, event_type, count(*) AS c
      FROM events GROUP BY 1, 2
    ),
    a AS (
      SELECT user_id, CAST(sum(c) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS k,
             sum(CAST(round(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
                            * 1000000) AS BIGINT)) AS clogc_m
      FROM c GROUP BY 1
    )
    SELECT user_id, n, k,
           round(ln(CAST(n AS DOUBLE))
                 - (CAST(clogc_m AS DOUBLE) / 1000000) / n, 6) AS entropy,
           round(CASE WHEN k > 1
                      THEN (ln(CAST(n AS DOUBLE))
                            - (CAST(clogc_m AS DOUBLE) / 1000000) / n)
                           / ln(CAST(k AS DOUBLE))
                      ELSE 0.0 END, 6) AS norm_entropy
    FROM a ORDER BY user_id
"""


@query("event_type_entropy", oracle=_ENTROPY_ORACLE, tags=("stats", "agg"))
def event_type_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type mix
    (operators/stats.py group_entropy): behavioral diversity, the
    per-entity companion to the corpus-level PSI drift gauges.
    Integer-millionths c*ln(c) accumulation keeps the sum
    partitioning-independent."""
    from taxi_data_pipeline_pset2_spark.operators.stats import group_entropy

    return group_entropy(
        t(spark, sf_dir, "events"), "event_type", ["user_id"]
    )


_ABC_ORACLE = """
    WITH per_key AS (
      SELECT p_brand AS key,
             sum(CAST(l_extendedprice * (1 - l_discount)
                      AS DECIMAL(18,6))) AS v
      FROM lineitem JOIN part ON p_partkey = l_partkey
      GROUP BY 1
    ),
    ranked AS (
      SELECT key, CAST(v AS DOUBLE) AS value,
             CAST(row_number() OVER ord AS BIGINT) AS rank,
             CAST(sum(v) OVER (ORDER BY v DESC, key ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS DOUBLE) AS cum
      FROM per_key
      WINDOW ord AS (ORDER BY v DESC, key ASC)
    ),
    tot AS (SELECT CAST(sum(v) AS DOUBLE) AS tt FROM per_key)
    SELECT key, round(value, 6) AS value, rank,
           round(CASE WHEN tt > 0 THEN value / tt END, 6) AS share,
           round(CASE WHEN tt > 0 THEN cum / tt END, 6) AS cum_share,
           CASE WHEN tt > 0 THEN
             CASE WHEN cum / tt <= 0.8 THEN 'A'
                  WHEN cum / tt <= 0.95 THEN 'B'
                  ELSE 'C' END
           END AS abc_class
    FROM ranked, tot ORDER BY rank
"""


@query("abc_brand_revenue", oracle=_ABC_ORACLE, tags=("segmentation", "window"))
def abc_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto/ABC classification of brands by discounted revenue
    (operators/segmentation.py abc_classification): cumulative-share
    classes over the brand-sized aggregate -- the Lorenz companion to
    gini_customer_spend."""
    from taxi_data_pipeline_pset2_spark.operators.segmentation import (
        abc_classification,
    )

    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
    )
    part = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return abc_classification(j, "p_brand", "rev")


_ATTRIB_ORACLE = """
    WITH conv AS (
      SELECT user_id AS cu, ts AS ct, event_id AS cid
      FROM events WHERE event_type = 'purchase'
    ),
    tch AS (
      SELECT user_id AS tu, ts AS tt, event_id AS tid,
             event_type AS channel
      FROM events WHERE event_type IN ('click', 'view', 'signup')
    ),
    j AS (
      SELECT channel, cu, cid, tt, tid
      FROM tch JOIN conv
        ON tu = cu AND tt < ct AND tt >= ct - INTERVAL 120 MINUTE
    ),
    r AS (
      SELECT channel,
             row_number() OVER (PARTITION BY cu, cid ORDER BY tt, tid)
               AS rn,
             count(*) OVER (PARTITION BY cu, cid) AS n
      FROM j
    ),
    wts AS (
      SELECT channel,
             CASE WHEN rn = 1 THEN CAST(1.0 AS DOUBLE) ELSE 0.0 END AS f,
             CASE WHEN rn = n THEN CAST(1.0 AS DOUBLE) ELSE 0.0 END AS l,
             CAST(1.0 AS DOUBLE) / n AS lin,
             CASE WHEN n = 1 THEN CAST(1.0 AS DOUBLE)
                  WHEN n = 2 THEN CAST(0.5 AS DOUBLE)
                  WHEN rn = 1 OR rn = n THEN CAST(0.4 AS DOUBLE)
                  ELSE CAST(0.2 AS DOUBLE) / (n - 2) END AS pos
      FROM r
    )
    SELECT channel, CAST(count(*) AS BIGINT) AS n_touches,
           CAST(sum(CAST(round(f * 1000000) AS BIGINT)) AS DOUBLE)
             / 1000000 AS credit_first,
           CAST(sum(CAST(round(l * 1000000) AS BIGINT)) AS DOUBLE)
             / 1000000 AS credit_last,
           CAST(sum(CAST(round(lin * 1000000) AS BIGINT)) AS DOUBLE)
             / 1000000 AS credit_linear,
           CAST(sum(CAST(round(pos * 1000000) AS BIGINT)) AS DOUBLE)
             / 1000000 AS credit_position
    FROM wts GROUP BY channel ORDER BY channel
"""


@query("purchase_attribution", oracle=_ATTRIB_ORACLE, tags=("attribution", "join", "bench"))
def purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch attribution of purchases to the click/view/signup
    touches in the prior 2 hours (operators/attribution.py): all four
    standard models in one pass -- user-equi-key join with the window
    predicate in the join condition (no nested-loop), millionth-exact
    credit sums."""
    from taxi_data_pipeline_pset2_spark.operators.attribution import (
        multi_touch_attribution,
    )

    ev = t(spark, sf_dir, "events")
    return multi_touch_attribution(
        ev,
        "user_id",
        "ts",
        "event_id",
        "event_type",
        is_conversion=F.col("event_type") == "purchase",
        is_touch=F.col("event_type").isin("click", "view", "signup"),
        lookback_minutes=120,
    )


_PATHS_ORACLE = """
    WITH r AS (
      SELECT user_id, event_type,
             -- NULLS FIRST explicitly: the Spark side orders by
             -- array_sort over (t, id) structs, whose field comparison
             -- puts NULLs first; DuckDB's bare ORDER BY defaults to
             -- NULLS LAST and would place a NULL-timestamp event at the
             -- END of the journey instead (r11, measured divergence)
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts NULLS FIRST,
                                         event_id NULLS FIRST) AS rn
      FROM events
    ),
    p AS (
      SELECT user_id,
             string_agg(coalesce(event_type, ''), ' > ' ORDER BY rn)
               AS path
      FROM r WHERE rn <= 5 GROUP BY user_id
    )
    SELECT path, CAST(count(*) AS BIGINT) AS n_users
    FROM p GROUP BY path
    ORDER BY n_users DESC, path LIMIT 20
"""


@query("top_user_paths", oracle=_PATHS_ORACLE, tags=("paths", "agg"))
def top_user_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 five-step user journey prefixes (operators/paths.py):
    per-user array collect + array-side sort (no window shuffle),
    path-count aggregate, TakeOrdered head -- the Sankey table."""
    from taxi_data_pipeline_pset2_spark.operators.paths import top_paths

    return top_paths(
        t(spark, sf_dir, "events"),
        "user_id",
        "ts",
        "event_id",
        "event_type",
        max_steps=5,
        top_n=20,
    )


_SNAIVE_ORACLE = """
    WITH s AS (
      SELECT event_type, date_trunc('hour', ts) AS t,
             sum(CAST(value AS DECIMAL(18,6))) AS y
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    j AS (
      SELECT a.event_type, a.t, a.y, b.y AS yp
      FROM s a JOIN s b
        ON a.event_type IS NOT DISTINCT FROM b.event_type
       AND a.t = b.t + INTERVAL 24 HOUR
    ),
    agg AS (
      SELECT event_type,
             CAST(count(*) FILTER (t < TIMESTAMP '2024-01-24 00:00:00')
                  AS BIGINT) AS n_train,
             CAST(count(*) FILTER (t >= TIMESTAMP '2024-01-24 00:00:00')
                  AS BIGINT) AS n_test,
             CAST(sum(abs(y - yp))
                  FILTER (t < TIMESTAMP '2024-01-24 00:00:00')
                  AS DOUBLE) AS se_train,
             CAST(sum(abs(y - yp))
                  FILTER (t >= TIMESTAMP '2024-01-24 00:00:00')
                  AS DOUBLE) AS se_test
      FROM j GROUP BY 1
    )
    SELECT event_type, n_train, n_test,
           round(CASE WHEN n_train > 0 THEN se_train / n_train END, 6)
             AS mae_train,
           round(CASE WHEN n_test > 0 THEN se_test / n_test END, 6)
             AS mae_test,
           round(CASE WHEN n_train > 0 AND n_test > 0 AND se_train > 0
                      THEN (se_test / n_test) / (se_train / n_train)
                 END, 6) AS mase
    FROM agg ORDER BY event_type
"""


@query("seasonal_naive_mase", oracle=_SNAIVE_ORACLE, tags=("forecast", "join"))
def seasonal_naive_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive backtest of hourly event value per type
    (operators/forecast.py): forecast = same hour yesterday, scored by
    MASE with the train period before Jan 24. The time-shift self-join
    handles gapped hours exactly where a row-lag window would not."""
    from taxi_data_pipeline_pset2_spark.operators.forecast import (
        seasonal_naive_eval,
    )

    return seasonal_naive_eval(
        t(spark, sf_dir, "events"),
        ["event_type"],
        "ts",
        "value",
        "2024-01-24 00:00:00",
        bucket="hour",
        season_buckets=24,
    )


def _ivfpq_oracle(
    n_cells: int = 8,
    n_probe: int = 2,
    m: int = 8,
    k: int = 16,
    kmeans_iter: int = 3,
    pq_iter: int = 10,
    dim: int = 64,
    top_k: int = 10,
    train_cap: int = 50_000,
    extra_ctes: dict[str, str] | None = None,
) -> str:
    """DuckDB twin of the ENTIRE IVFPQ pipeline: the coarse exact-integer
    Lloyd chain (kmeans_iter rounds over the full dim), integer cell
    assignment, EXACT integer residuals (riv = iv - coarse_c, no float
    subtraction anywhere -- the r9 make_residuals form), m residual
    subspace Lloyd chains (pq_iter rounds each, trained on the first
    ``train_cap`` residuals by id -- the engine's train_pq cap, ADVICE
    r9), per-subspace encode, integer-ranked probe-cell selection (ties
    to the lower cell id, matching numpy's stable argsort over the
    ascending populated list), per-cell integer LUTs from the integer
    query residual, and the exact integer ADC ranking. ~270 CTEs, all
    AS MATERIALIZED."""
    dsub = dim // m

    def d2(vec_elem: str, cte: str, n_el: int) -> str:
        return (
            f"list_sum(list_transform(generate_series(1, {n_el}),"
            f" i -> ({vec_elem} - {cte}.c[i]) * ({vec_elem} - {cte}.c[i])))"
        )

    parts = [
        """qv AS MATERIALIZED (SELECT iv AS qiv FROM n ORDER BY vec_id LIMIT 1),
        dims AS MATERIALIZED (SELECT unnest(generate_series(1, 64)) AS dim),
        dsubs AS MATERIALIZED (SELECT unnest(generate_series(1, 8)) AS dim)""",
        f"""cc0 AS MATERIALIZED (
          SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
                 AS cell, iv AS c
          FROM (SELECT vec_id, iv FROM n ORDER BY vec_id LIMIT {n_cells}))""",
    ]
    # coarse Lloyd chain over the full dim (same update as the engine)
    for r in range(1, kmeans_iter + 1):
        p = f"cc{r - 1}"
        parts.append(
            f"""ca{r} AS MATERIALIZED (
          SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d2, cell) AS rk
            FROM (SELECT n.vec_id, {p}.cell, {d2("n.iv[i]", p, dim)} AS d2
                  FROM n CROSS JOIN {p}))
          WHERE rk = 1),
        csum{r} AS MATERIALIZED (
          SELECT a.cell, d.dim,
                 CAST(sum(n.iv[d.dim]) AS BIGINT) AS sx,
                 CAST(count(*) AS BIGINT) AS cnt
          FROM ca{r} a JOIN n ON n.vec_id = a.vec_id
          CROSS JOIN dims d GROUP BY 1, 2),
        cc{r} AS MATERIALIZED (
          SELECT p.cell,
                 list(CASE WHEN s.sx IS NULL THEN p.c[d.dim]
                           ELSE ((2 * s.sx + s.cnt)
                                 - (((2 * s.sx + s.cnt) % (2 * s.cnt)
                                     + (2 * s.cnt)) % (2 * s.cnt)))
                                // (2 * s.cnt)
                      END ORDER BY d.dim) AS c
          FROM {p} p CROSS JOIN dims d
          LEFT JOIN csum{r} s ON s.cell = p.cell AND s.dim = d.dim
          GROUP BY p.cell)"""
        )
    cfin = f"cc{kmeans_iter}"
    parts.append(
        f"""cellof AS MATERIALIZED (
          SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d2, cell) AS rk
            FROM (SELECT n.vec_id, {cfin}.cell,
                         {d2("n.iv[i]", cfin, dim)} AS d2
                  FROM n CROSS JOIN {cfin}))
          WHERE rk = 1),
        resid AS MATERIALIZED (
          SELECT n.vec_id, co.cell,
                 list_transform(generate_series(1, {dim}),
                                i -> n.iv[i] - cc.c[i]) AS riv
          FROM n JOIN cellof co ON co.vec_id = n.vec_id
          JOIN {cfin} cc ON cc.cell = co.cell),
        rsmp AS MATERIALIZED (
          SELECT vec_id, riv FROM resid
          ORDER BY vec_id LIMIT {train_cap})"""
    )
    # m residual subspace Lloyd chains + encode + per-probed-cell LUTs
    for s in range(m):
        off = s * dsub
        parts.append(
            f"""ps{s}_0 AS MATERIALIZED (
          SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
                 AS code,
                 list_transform(generate_series(1, {dsub}),
                                i -> riv[{off} + i]) AS c
          FROM (SELECT vec_id, riv FROM rsmp ORDER BY vec_id LIMIT {k}))"""
        )
        for r in range(1, pq_iter + 1):
            p = f"ps{s}_{r - 1}"
            parts.append(
                f"""pa{s}_{r} AS MATERIALIZED (
          SELECT vec_id, code FROM (
            SELECT vec_id, code,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d2, code) AS rk
            FROM (SELECT rsmp.vec_id, {p}.code,
                         {d2(f"rsmp.riv[{off} + i]", p, dsub)} AS d2
                  FROM rsmp CROSS JOIN {p}))
          WHERE rk = 1),
        psum{s}_{r} AS MATERIALIZED (
          SELECT a.code, d.dim,
                 CAST(sum(rsmp.riv[{off} + d.dim]) AS BIGINT) AS sx,
                 CAST(count(*) AS BIGINT) AS cnt
          FROM pa{s}_{r} a JOIN rsmp ON rsmp.vec_id = a.vec_id
          CROSS JOIN dsubs d GROUP BY 1, 2),
        ps{s}_{r} AS MATERIALIZED (
          SELECT p.code,
                 list(CASE WHEN s.sx IS NULL THEN p.c[d.dim]
                           ELSE ((2 * s.sx + s.cnt)
                                 - (((2 * s.sx + s.cnt) % (2 * s.cnt)
                                     + (2 * s.cnt)) % (2 * s.cnt)))
                                // (2 * s.cnt)
                      END ORDER BY d.dim) AS c
          FROM {p} p CROSS JOIN dsubs d
          LEFT JOIN psum{s}_{r} s ON s.code = p.code AND s.dim = d.dim
          GROUP BY p.code)"""
            )
        last = f"ps{s}_{pq_iter}"
        parts.append(
            f"""penc{s} AS MATERIALIZED (
          SELECT vec_id, code FROM (
            SELECT vec_id, code,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d2, code) AS rk
            FROM (SELECT resid.vec_id, {last}.code,
                         {d2(f"resid.riv[{off} + i]", last, dsub)} AS d2
                  FROM resid CROSS JOIN {last}))
          WHERE rk = 1)"""
        )
    parts.append(
        f"""probed AS MATERIALIZED (
          SELECT cell, c FROM (
            SELECT pc.cell, cc.c,
                   row_number() OVER (ORDER BY {d2("qv.qiv[i]", "cc", dim)},
                                      pc.cell) AS rk
            FROM (SELECT DISTINCT cell FROM cellof) pc
            JOIN {cfin} cc ON cc.cell = pc.cell CROSS JOIN qv)
          WHERE rk <= {n_probe})"""
    )
    for s in range(m):
        off = s * dsub
        last = f"ps{s}_{pq_iter}"
        parts.append(
            f"""plut{s} AS MATERIALIZED (
          SELECT p.cell, cw.code,
                 CAST(list_sum(list_transform(generate_series(1, {dsub}),
                      i -> ((qv.qiv[{off} + i] - p.c[{off} + i]) - cw.c[i])
                           * ((qv.qiv[{off} + i] - p.c[{off} + i]) - cw.c[i])))
                      AS BIGINT) AS d
          FROM probed p CROSS JOIN {last} cw CROSS JOIN qv)"""
        )
    joins = "FROM cellof v JOIN probed pb ON pb.cell = v.cell " + " ".join(
        f"JOIN penc{s} e{s} ON e{s}.vec_id = v.vec_id "
        f"JOIN plut{s} l{s} ON l{s}.cell = v.cell AND l{s}.code = e{s}.code"
        for s in range(m)
    )
    total = " + ".join(f"l{s}.d" for s in range(m))
    with_body = (
        "WITH prep AS (SELECT vec_id, list_transform(embedding::DOUBLE[],"
        " x -> CAST(round(x * 1000000) AS BIGINT)) AS iv FROM embeddings),\n"
        "        n AS MATERIALIZED (SELECT vec_id, iv FROM prep),\n        "
        + ",\n        ".join(parts)
    )
    topk_select = f"""
        SELECT v.vec_id, CAST(v.cell AS INTEGER) AS cell,
               round(CAST(({total}) AS DOUBLE) / 1000000000000.0, 6)
                 AS adc_dist
        {joins}
        ORDER BY CAST(({total}) AS DOUBLE) / 1000000000000.0 ASC, v.vec_id
        LIMIT {top_k}"""
    if extra_ctes is None:
        return with_body + topk_select
    # same flat-WITH recall composition as _pq_oracle (derived-table
    # wrapping loses DuckDB's materialization of the deep chain)
    inner = topk_select.replace("\n", "\n    ")
    return (
        with_body
        + f",\n        pqtop AS MATERIALIZED ({inner}),\n        "
        + extra_ctes["ctes"]
        + "\n"
        + extra_ctes["final"]
    )


@query(
    "ivfpq_ann_topk", oracle=_ivfpq_oracle(), tags=("similarity", "ann", "bench")
)
def ivfpq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ ANN (operators/pq.py ivfpq_search): coarse k-means cells
    prune the scan to ~n_probe/n_cells of the corpus, residual PQ codes
    score it compressed -- the FAISS IndexIVFPQ composition on Spark.
    Top-10 for the lowest vec_id's embedding. FULL oracle since r9
    (_ivfpq_oracle): with the coarse fit, residuals, subspace
    codebooks, probe ranking and ADC sums all exact-integer, the whole
    two-level approximate index unrolls into ~270 materialized DuckDB
    CTEs and hash-verifies end to end. Recall and pruning stay pinned
    in tests/test_pq.py."""
    from taxi_data_pipeline_pset2_spark.operators.pq import ivfpq_search

    emb = t(spark, sf_dir, "embeddings")
    q = (
        emb.orderBy("vec_id")
        .limit(1)
        .select(F.col("embedding").cast("array<double>").alias("v"))
        .collect()[0]["v"]
    )
    return ivfpq_search(emb, q, n_cells=8, n_probe=2, m=8, k=16, top_k=10)


def _ivfpq_recall_oracle(top_k: int = 10, dim: int = 64) -> str:
    """Recall@k of the IVFPQ index vs exact integer-grid squared-L2 --
    the same flat-WITH composition as _pq_recall_oracle over the ~270-CTE
    IVFPQ chain."""
    return _ivfpq_oracle(
        top_k=top_k, extra_ctes=_exact_recall_ctes(top_k, dim)
    )


@query(
    "ivfpq_recall_audit",
    oracle=_ivfpq_recall_oracle(top_k=_RECALL_K),
    tags=("similarity", "ann"),
)
def ivfpq_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@10 of the IVFPQ index against the exact
    integer-grid euclidean top-10 -- completing the recall-audit story:
    every approximate index the engine ships (sign-LSH, BRP-LSH, PQ,
    IVFPQ) now carries a hash-verified recall number. IVFPQ's is the
    most informative of the four: n_probe=2 of 8 cells bounds recall by
    the probe pruning itself, not just codebook quantization error, so
    this row quantifies the compute/recall trade the two-level index
    makes at corpus scale."""
    from taxi_data_pipeline_pset2_spark.operators.pq import ivfpq_search
    from taxi_data_pipeline_pset2_spark.operators.similarity import (
        exact_euclid_topk,
    )

    emb = t(spark, sf_dir, "embeddings")
    q = _lowest_id_query_vector(emb)
    approx = ivfpq_search(
        emb, q, n_cells=8, n_probe=2, m=8, k=16, top_k=_RECALL_K
    ).select("vec_id")
    exact = exact_euclid_topk(emb, q, k=_RECALL_K).select("vec_id")
    return _recall_row(approx, exact, _RECALL_K)


_CMS_ORACLE = """
    WITH src AS (
      SELECT CAST(l_partkey AS STRING) AS v
      FROM lineitem WHERE l_partkey IS NOT NULL
    ),
    d(j) AS (VALUES (0), (1), (2), (3)),
    sk AS (
      SELECT j AS row,
             CAST('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || v), 1, 8)
                  AS BIGINT) % 512 AS bucket,
             CAST(count(*) AS BIGINT) AS c
      FROM src, d GROUP BY 1, 2
    ),
    items AS (
      SELECT DISTINCT CAST(p_partkey AS VARCHAR) AS value
      FROM part WHERE p_partkey <= 50
    ),
    probes AS (
      SELECT value, j AS row,
             CAST('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || value),
                                 1, 8) AS BIGINT) % 512 AS bucket
      FROM items, d
    )
    SELECT value, CAST(min(coalesce(c, 0)) AS BIGINT) AS est
    FROM probes LEFT JOIN sk USING (row, bucket)
    GROUP BY value ORDER BY value
"""


@query("cms_partkey_counts", oracle=_CMS_ORACLE, tags=("sketch", "agg", "bench"))
def cms_partkey_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch frequency estimates for the first 50 part keys
    over lineitem (operators/cms.py, width 512 x depth 4 -- narrow
    enough that collisions are real): the engine-portable md5 hashing
    means the DuckDB oracle rebuilds the SKETCH ITSELF bit-exactly,
    overestimates included. Fixed-size mergeable state, pure
    explode+aggregate, no UDF."""
    from taxi_data_pipeline_pset2_spark.operators.cms import (
        cms_point_estimates,
        cms_sketch,
    )

    li = t(spark, sf_dir, "lineitem")
    sk = cms_sketch(li, "l_partkey", width=512, depth=4)
    items = (
        t(spark, sf_dir, "part")
        .filter(F.col("p_partkey") <= 50)
        .select(F.col("p_partkey").alias("pk"))
    )
    return cms_point_estimates(sk, items, "pk", width=512, depth=4)


_PROPS_ORACLE = """
    WITH x AS (
      SELECT event_type,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events
    )
    SELECT event_type,
           CAST(count(k) AS BIGINT) AS n,
           CAST(min(k) AS BIGINT) AS min_k,
           CAST(max(k) AS BIGINT) AS max_k,
           CAST(sum(k) AS BIGINT) AS sum_k,
           round(CAST(sum(k) AS DOUBLE) / count(k), 6) AS avg_k
    FROM x WHERE k IS NOT NULL
    GROUP BY event_type ORDER BY event_type
"""


@query("props_payload_stats", oracle=_PROPS_ORACLE, tags=("json", "agg"))
def props_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed aggregation over the JSON payload column
    (operators/json_ops.py): parse events.props through the inferred
    schema ONCE (from_json, JVM-side -- never per-query
    get_json_object re-parsing), then plain grouped stats on the typed
    field. The silver-boundary pattern for semi-structured feeds."""
    from taxi_data_pipeline_pset2_spark.operators.json_ops import (
        parse_json_column,
    )

    ev = parse_json_column(
        t(spark, sf_dir, "events"), "props", flatten=True, prefix="p_"
    )
    k = F.col("p_k").cast("long")
    base = ev.filter(k.isNotNull())
    return (
        base.groupBy("event_type")
        .agg(
            F.count(k).cast("bigint").alias("n"),
            F.min(k).cast("bigint").alias("min_k"),
            F.max(k).cast("bigint").alias("max_k"),
            F.sum(k).cast("bigint").alias("sum_k"),
            F.round(
                F.sum(k).cast("double") / F.count(k), 6
            ).alias("avg_k"),
        )
        .orderBy("event_type")
    )


def _lpa_oracle(n_iter: int = 4, top_edges: int = 40) -> str:
    """DuckDB twin of the fixed-round synchronous LPA over the top-lift
    brand edges: the edge set re-derives from _BASKET_ORACLE (whose lift
    column is already hash-proven 6-dp identical), then each of the
    n_iter rounds is one (neighbor-label count, argmax) CTE pair --
    all-integer counts and string labels, so unlike pagerank there is
    not even summation-order noise to reason about. Tie-break mirrors
    the operator exactly: most frequent label, then SMALLEST label."""
    parts = [
        f"""rules AS (SELECT * FROM ({_BASKET_ORACLE})),
        top_e AS (SELECT item_a AS src, item_b AS dst FROM rules
                  ORDER BY lift DESC, item_a, item_b LIMIT {top_edges}),
        sym AS (SELECT DISTINCT a, b FROM (
                  SELECT src AS a, dst AS b FROM top_e
                  UNION ALL SELECT dst AS a, src AS b FROM top_e)
                WHERE a <> b),
        l0 AS (SELECT DISTINCT a AS node, a AS label FROM sym)"""
    ]
    for k in range(1, n_iter + 1):
        parts.append(
            f"""l{k} AS (
          SELECT node, label FROM (
            SELECT s.a AS node, l.label, count(*) AS cnt,
                   row_number() OVER (PARTITION BY s.a
                        ORDER BY count(*) DESC, l.label) AS r
            FROM sym s JOIN l{k - 1} l ON l.node = s.b
            GROUP BY s.a, l.label)
          WHERE r = 1)"""
        )
    return (
        "WITH "
        + ",\n        ".join(parts)
        + f"\n        SELECT node, label FROM l{n_iter} ORDER BY node"
    )


@query("brand_communities", oracle=_lpa_oracle(), tags=("graph",))
def brand_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities over the brand co-occurrence graph
    (operators/graph.py label_propagation composing
    operators/basket.py): edges = brand pairs whose order-basket lift
    exceeds 1 (co-bought more than independence predicts). The 4
    synchronous rounds with the deterministic smallest-label tie-break
    unroll into a chained-CTE DuckDB oracle (_lpa_oracle) -- upgraded
    from rows-only in r8 (all-integer counts, no float caveats at all);
    determinism and reference equality also pinned in
    tests/test_graph.py."""
    from taxi_data_pipeline_pset2_spark.operators.basket import (
        association_rules,
    )
    from taxi_data_pipeline_pset2_spark.operators.graph import (
        label_propagation,
    )

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = li.join(
        F.broadcast(part), li.l_partkey == part.p_partkey
    ).select("l_orderkey", "p_brand")
    rules = association_rules(
        baskets, "l_orderkey", "p_brand", min_support=0.005
    )
    # top-40 edges by lift: thresholding at lift > 1 keeps a
    # near-complete graph (25 brands all co-occur somewhere) and LPA
    # correctly folds it into one community -- sparsify to the
    # strongest associations so the structure is visible
    edges = (
        rules.orderBy(F.desc("lift"), "item_a", "item_b")
        .limit(40)
        .select(F.col("item_a").alias("src"), F.col("item_b").alias("dst"))
    )
    return label_propagation(edges, n_iter=4)


_TRI_ORACLE = """
    WITH bi AS (
      SELECT DISTINCT l_orderkey AS bk, CAST(l_partkey AS STRING) AS i
      FROM lineitem
      WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
        AND l_shipdate >= TIMESTAMP '1998-01-01'
        AND l_shipdate < TIMESTAMP '1999-01-01'
    ),
    e0 AS (
      SELECT x.i AS a, y.i AS b
      FROM bi x JOIN bi y ON x.bk = y.bk AND x.i < y.i
      GROUP BY 1, 2
    ),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS degree
      FROM (SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0)
      GROUP BY 1
    ),
    o AS (
      SELECT CASE WHEN da.degree < db.degree
                   OR (da.degree = db.degree AND a < b)
             THEN a ELSE b END AS lo,
             CASE WHEN da.degree < db.degree
                   OR (da.degree = db.degree AND a < b)
             THEN b ELSE a END AS hi,
             CASE WHEN da.degree < db.degree
                   OR (da.degree = db.degree AND a < b)
             THEN db.degree ELSE da.degree END AS dhi
      FROM e0 JOIN deg da ON da.node = a JOIN deg db ON db.node = b
    ),
    tri AS (
      SELECT o1.lo AS n1, o1.hi AS n2, o2.hi AS n3
      FROM o o1
      JOIN o o2 ON o1.lo = o2.lo
               AND (o1.dhi < o2.dhi
                    OR (o1.dhi = o2.dhi AND o1.hi < o2.hi))
      JOIN o o3 ON o3.lo = o1.hi AND o3.hi = o2.hi
    ),
    tc AS (
      SELECT node, CAST(count(*) AS BIGINT) AS tcount
      FROM (SELECT n1 AS node FROM tri UNION ALL SELECT n2 FROM tri
            UNION ALL SELECT n3 FROM tri)
      GROUP BY 1
    )
    SELECT deg.node, degree,
           CAST(coalesce(tcount, 0) AS BIGINT) AS triangles,
           round(CASE WHEN degree >= 2
                 THEN 2e0 * coalesce(tcount, 0)
                      / (degree * (degree - 1e0)) END, 6) AS clustering
    FROM deg LEFT JOIN tc USING (node)
    ORDER BY node
"""


@query("part_triangle_stats", oracle=_TRI_ORACLE, tags=("graph", "join", "bench"))
def part_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counts + local clustering coefficient per part over the
    1998 co-purchase graph (operators/graph.py triangle_counts): parts
    are linked when the same order ships both that year (each order's
    parts form a clique, so the graph is triangle-rich). Pair
    generation is the order-key self-join (bounded by order width,
    never an all-part cartesian); the triangle pass uses degree
    orientation so each triangle is emitted once at its lowest-degree
    apex -- the first fully-oracled entry of the graph family
    (pagerank/LPA are iterative, rows-only). The year slice keeps the
    bench entry demo-sized; the full-corpus graph is the scale probe's
    job (scripts/scale_probe.py)."""
    from taxi_data_pipeline_pset2_spark.operators.graph import (
        triangle_counts,
    )

    bi = (
        t(spark, sf_dir, "lineitem")
        .filter(
            F.col("l_orderkey").isNotNull()
            & F.col("l_partkey").isNotNull()
            & (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
        )
        .select(
            F.col("l_orderkey").alias("bk"),
            F.col("l_partkey").cast("string").alias("i"),
        )
        .distinct()
    )
    edges = (
        bi.alias("x")
        .join(
            bi.alias("y"),
            (F.col("x.bk") == F.col("y.bk")) & (F.col("x.i") < F.col("y.i")),
        )
        .select(F.col("x.i").alias("src"), F.col("y.i").alias("dst"))
        .distinct()
    )
    return triangle_counts(edges)


# Single source of truth for the k-core oracle's unroll depth, cited by
# COVERAGE.md and asserted against the MEASURED convergence round count
# in tests/test_graph.py (ADVICE r8 item #3): the engine runs to
# convergence (max_iter=100) while the oracle runs a fixed unroll, so
# the unroll must dominate convergence at every tested scale factor
# (measured 7 @ sf0.001, 11 @ sf0.01, 38 @ sf0.1 -- 96 keeps >= 2x
# headroom even at the sf0.1 gate a future driver might run; past-
# convergence rounds are exact no-ops at ~6 ms each, so the margin is
# free).
KCORE_ORACLE_ROUNDS = 96


def _kcore_oracle(n_rounds: int = KCORE_ORACLE_ROUNDS) -> str:
    """DuckDB twin of the H-index k-core iteration, unrolled to a FIXED
    round count: the update h(v) = max_r min(r, v_r-sorted-desc) is
    all-integer, non-increasing, and IDEMPOTENT at the fixpoint (Lu et
    al. 2016 prove it converges to the exact coreness), so any round
    count >= convergence yields the identical table -- measured 7
    rounds at sf0.001, 11 at sf0.01, 38 at sf0.1; unrolled to 64
    (rounds are ~6 ms each materialized, so the margin is free).
    A divergence would surface as a visible hash mismatch, never a
    silent wrong answer. Unlike the engine (which stops on a
    changed-count scalar), the oracle just runs all 64 rounds.

    Every round CTE is AS MATERIALIZED: with default inlining DuckDB's
    planner blows up on the 24-deep chain (minutes at sf0.001);
    materialized, the whole thing runs in ~0.15 s."""
    base = """bi AS MATERIALIZED (
          SELECT DISTINCT l_orderkey AS bk, CAST(l_partkey AS VARCHAR) AS i
          FROM lineitem
          WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
            AND l_shipdate >= TIMESTAMP '1998-01-01'
            AND l_shipdate < TIMESTAMP '1999-01-01'),
        e0 AS MATERIALIZED (SELECT x.i AS a, y.i AS b
               FROM bi x JOIN bi y ON x.bk = y.bk AND x.i < y.i
               GROUP BY 1, 2),
        sym AS MATERIALIZED (
               SELECT a, b FROM e0 UNION SELECT b AS a, a AS b FROM e0),
        v0 AS MATERIALIZED (
               SELECT a AS node, CAST(count(*) AS BIGINT) AS core
               FROM sym GROUP BY a)"""
    parts = [base]
    for k in range(1, n_rounds + 1):
        parts.append(
            f"""v{k} AS MATERIALIZED (
          SELECT a AS node, max(least(rnk, v)) AS core FROM (
            SELECT s.a, c.core AS v,
                   CAST(row_number() OVER (PARTITION BY s.a
                        ORDER BY c.core DESC, s.b) AS BIGINT) AS rnk
            FROM sym s JOIN v{k - 1} c ON c.node = s.b)
          GROUP BY a)"""
        )
    return (
        "WITH "
        + ",\n        ".join(parts)
        + f"\n        SELECT node, core FROM v{n_rounds} ORDER BY node"
    )


@query("part_kcore", oracle=_kcore_oracle(), tags=("graph",))
def part_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Core numbers over the 1998 part co-purchase graph
    (operators/graph.py kcore, H-index iteration): the dense-nucleus
    ladder next to part_triangle_stats' local clustering. The iteration
    is all-integer and idempotent at its unique fixpoint, so a
    fixed-96-round unrolled DuckDB twin (_kcore_oracle) reproduces it
    exactly -- upgraded from rows-only in r8; peeling-reference equality
    also pinned in tests/test_graph.py."""
    from taxi_data_pipeline_pset2_spark.operators.graph import kcore

    bi = (
        t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
        )
        .select(
            F.col("l_orderkey").alias("bk"),
            F.col("l_partkey").cast("string").alias("i"),
        )
        .distinct()
    )
    edges = (
        bi.alias("x")
        .join(
            bi.alias("y"),
            (F.col("x.bk") == F.col("y.bk")) & (F.col("x.i") < F.col("y.i")),
        )
        .select(F.col("x.i").alias("src"), F.col("y.i").alias("dst"))
    )
    return kcore(edges)


_ASSORT_ORACLE = """
    WITH bi AS (
      SELECT DISTINCT l_orderkey AS bk, CAST(l_partkey AS STRING) AS i
      FROM lineitem
      WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
        AND l_shipdate >= TIMESTAMP '1998-01-01'
        AND l_shipdate < TIMESTAMP '1999-01-01'
    ),
    e0 AS (
      SELECT x.i AS a, y.i AS b
      FROM bi x JOIN bi y ON x.bk = y.bk AND x.i < y.i
      GROUP BY 1, 2
    ),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS deg
      FROM (SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0)
      GROUP BY 1
    ),
    sym AS (SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0),
    j AS (
      SELECT da.deg AS dx, db.deg AS dy
      FROM sym
      JOIN deg da ON da.node = sym.a
      JOIN deg db ON db.node = sym.b
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(dx AS DECIMAL(38,0))) AS DOUBLE) AS sx,
             CAST(sum(CAST(dx * dy AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(dx * dx AS DECIMAL(38,0))) AS DOUBLE) AS sxx
      FROM j
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
    SELECT n_nodes,
           CAST(n / 2 AS BIGINT) AS n_edges,
           round(CASE WHEN (n * sxx - sx * sx) > 0
                 THEN (n * sxy - sx * sx) / (n * sxx - sx * sx)
                 END, 6) AS assortativity
    FROM agg, nn
"""


@query("part_graph_assortativity", oracle=_ASSORT_ORACLE, tags=("graph", "agg"))
def part_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the 1998 part co-purchase graph
    (operators/graph.py degree_assortativity): do popular parts
    co-occur with other popular parts, or with long-tail ones? The
    one-number structure summary next to part_triangle_stats' local
    clustering -- exact integer sufficient statistics, fully
    oracled."""
    from taxi_data_pipeline_pset2_spark.operators.graph import (
        degree_assortativity,
    )

    bi = (
        t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
        )
        .select(
            F.col("l_orderkey").alias("bk"),
            F.col("l_partkey").cast("string").alias("i"),
        )
        .distinct()
    )
    edges = (
        bi.alias("x")
        .join(
            bi.alias("y"),
            (F.col("x.bk") == F.col("y.bk")) & (F.col("x.i") < F.col("y.i")),
        )
        .select(F.col("x.i").alias("src"), F.col("y.i").alias("dst"))
    )
    return degree_assortativity(edges)


_PINBALL_ORACLE = """
    WITH s AS (
      SELECT event_type, date_trunc('hour', ts) AS t,
             sum(CAST(value AS DECIMAL(18,6))) AS y
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.event_type,
             CAST(a.y AS DECIMAL(28,6)) AS y,
             CAST(b.y AS DECIMAL(28,6)) AS f
      FROM s a JOIN s b
        ON a.event_type IS NOT DISTINCT FROM b.event_type
       AND a.t = b.t + INTERVAL 24 HOUR
      WHERE a.t >= TIMESTAMP '2024-01-24 00:00:00'
    ),
    agg AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             sum(CASE WHEN y >= f
                 THEN CAST(CAST(0.500000 AS DECIMAL(8,6)) * (y - f)
                           AS DECIMAL(38,12))
                 ELSE CAST((CAST(1.000000 AS DECIMAL(8,6))
                            - CAST(0.500000 AS DECIMAL(8,6))) * (f - y)
                           AS DECIMAL(38,12)) END) AS s50,
             sum(CASE WHEN y >= f
                 THEN CAST(CAST(0.900000 AS DECIMAL(8,6)) * (y - f)
                           AS DECIMAL(38,12))
                 ELSE CAST((CAST(1.000000 AS DECIMAL(8,6))
                            - CAST(0.900000 AS DECIMAL(8,6))) * (f - y)
                           AS DECIMAL(38,12)) END) AS s90
      FROM pairs GROUP BY 1
    )
    SELECT event_type, CAST(q AS DOUBLE) AS q, n,
           round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS pinball
    FROM (
      SELECT event_type, 0.5 AS q, n, s50 AS s FROM agg
      UNION ALL
      SELECT event_type, 0.9 AS q, n, s90 AS s FROM agg
    )
    ORDER BY event_type, q
"""


@query("seasonal_naive_pinball", oracle=_PINBALL_ORACLE, tags=("forecast", "agg"))
def seasonal_naive_pinball(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinball loss of the seasonal-naive hourly forecast on the test
    window, q = 0.5 / 0.9 (operators/forecast.py pinball_loss composing
    seasonal_naive_eval's pair construction): the proper scoring rule
    for quantile forecasts next to seasonal_naive_mase's point
    accuracy -- an under-prediction at q=0.9 costs 9x an equal
    over-prediction. Exact decimal losses end to end."""
    from taxi_data_pipeline_pset2_spark.operators.forecast import (
        pinball_loss,
    )

    ev = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    series = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("_t")
    ).agg(F.sum(F.col("value").cast("decimal(18,6)")).alias("_y"))
    prev = series.select(
        F.col("event_type").alias("_pe"),
        (F.col("_t") + F.expr("INTERVAL 24 HOUR")).alias("_pt"),
        F.col("_y").alias("_f"),
    )
    pairs = series.join(
        prev,
        (F.col("event_type") == F.col("_pe")) & (F.col("_t") == F.col("_pt")),
    ).filter(F.col("_t") >= F.lit("2024-01-24 00:00:00").cast("timestamp"))
    return pinball_loss(
        pairs, "_y", "_f", quantiles=(0.5, 0.9), group_cols=["event_type"]
    )


# -- r12 sketch-accuracy audits (VERDICT r11 item #5): the sketch family
# is the one approximate family whose error was guaranteed on paper but
# never MEASURED as a hash-verified catalog row. These three rows close
# that, mirroring the recall-audit pattern (lsh/brp/pq/ivfpq/minhash/
# simhash/fuzzy-blocking): exact ground truth and the approximate
# estimate computed side by side, the error a first-class hash-compared
# number in BOTH engines.

_CMS_ERR_W, _CMS_ERR_D = 256, 4

_CMS_ERROR_ORACLE = f"""
    WITH src AS (
      SELECT CAST(l_partkey AS VARCHAR) AS v
      FROM lineitem WHERE l_partkey IS NOT NULL
    ),
    n_tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM src),
    d(j) AS (VALUES (0), (1), (2), (3)),
    sk AS (
      SELECT j AS row,
             CAST('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || v), 1, 8)
                  AS BIGINT) % {_CMS_ERR_W} AS bucket,
             CAST(count(*) AS BIGINT) AS c
      FROM src, d GROUP BY 1, 2
    ),
    exact AS (SELECT v AS value, CAST(count(*) AS BIGINT) AS true_cnt
              FROM src GROUP BY 1),
    probes AS (
      SELECT value, j AS row,
             CAST('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || value),
                                 1, 8) AS BIGINT) % {_CMS_ERR_W} AS bucket
      FROM exact, d
    ),
    est AS (
      SELECT value, CAST(min(coalesce(c, 0)) AS BIGINT) AS est
      FROM probes LEFT JOIN sk USING (row, bucket) GROUP BY value
    ),
    err AS (
      SELECT e.value, e.est, x.true_cnt, e.est - x.true_cnt AS err
      FROM est e JOIN exact x USING (value)
    )
    SELECT
      CAST(count(*) AS BIGINT) AS n_items,
      CAST(count(*) FILTER (err < 0) AS BIGINT) AS n_underestimates,
      CAST(max(err) AS BIGINT) AS max_err,
      CAST(sum(err) AS BIGINT) AS sum_err,
      CAST(round(sum(err) * 1000000.0 / count(*)) AS BIGINT)
        AS mean_err_x1e6,
      CAST(ceil(exp(1.0) * n_tot.n / {_CMS_ERR_W}) AS BIGINT) AS err_bound,
      CAST(count(*) FILTER (err > ceil(exp(1.0) * n_tot.n / {_CMS_ERR_W}))
           AS BIGINT) AS n_over_bound
    FROM err, n_tot
    GROUP BY n_tot.n
"""


@query("cms_error_audit", oracle=_CMS_ERROR_ORACLE, tags=("sketch", "audit"))
def cms_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured count-min-sketch point-estimate error vs EXACT counts,
    every distinct l_partkey probed, at a deliberately narrow pinned
    width x depth (256 x 4 -- far fewer cells than keys at sf0.01, so
    collisions are real and the error is non-trivial). Reports the
    one-sided-guarantee check (n_underestimates MUST be 0: CMS only
    ever overcounts), the max/mean overcount, and the classic Markov
    bound ceil(e*N/width) with how many items exceed it (expected
    ~ n_items * e^-depth: the bound holds per item with prob
    1 - e^-depth, so a FEW exceedances on thousands of items are the
    mathematically honest outcome, not a defect). Engine-portable md5
    hashing means DuckDB rebuilds the sketch bit-exactly and the whole
    error profile hash-matches."""
    from taxi_data_pipeline_pset2_spark.operators.cms import (
        cms_point_estimates,
        cms_sketch,
    )

    li = t(spark, sf_dir, "lineitem").filter(F.col("l_partkey").isNotNull())
    sk = cms_sketch(li, "l_partkey", width=_CMS_ERR_W, depth=_CMS_ERR_D)
    est = cms_point_estimates(
        sk, li.select("l_partkey"), "l_partkey",
        width=_CMS_ERR_W, depth=_CMS_ERR_D,
    )
    exact = (
        li.groupBy(F.col("l_partkey").cast("string").alias("value"))
        .agg(F.count("*").cast("bigint").alias("true_cnt"))
    )
    n_tot = li.agg(F.count("*").cast("bigint").alias("n"))
    err = (
        est.join(exact, "value")
        .select("value", (F.col("est") - F.col("true_cnt")).alias("err"))
    )
    bound = F.ceil(F.exp(F.lit(1.0)) * F.col("n") / _CMS_ERR_W)
    return (
        err.crossJoin(F.broadcast(n_tot))
        .groupBy("n")
        .agg(
            F.count("*").cast("bigint").alias("n_items"),
            F.sum((F.col("err") < 0).cast("bigint"))
            .cast("bigint")
            .alias("n_underestimates"),
            F.max("err").cast("bigint").alias("max_err"),
            F.sum("err").cast("bigint").alias("sum_err"),
            F.round(F.sum("err") * 1000000.0 / F.count("*"))
            .cast("bigint")
            .alias("mean_err_x1e6"),
            bound.cast("bigint").alias("err_bound"),
            F.sum((F.col("err") > bound).cast("bigint"))
            .cast("bigint")
            .alias("n_over_bound"),
        )
        .drop("n")
    )


_KMV_ERR_K = 256

_KMV_ERROR_ORACLE = f"""
    WITH src AS (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem WHERE l_extendedprice IS NOT NULL
    ),
    hs AS (
      SELECT DISTINCT CAST('0x' || substr(md5(CAST(cents AS VARCHAR)), 1, 8)
                           AS BIGINT) AS h
      FROM src
    ),
    sk AS (SELECT h FROM hs ORDER BY h LIMIT {_KMV_ERR_K}),
    ex AS (SELECT CAST(count(DISTINCT cents) AS BIGINT) AS exact_distinct
           FROM src),
    e AS (SELECT CAST(count(*) AS BIGINT) AS n_kept, max(h) AS hk FROM sk)
    SELECT
      ex.exact_distinct,
      e.n_kept,
      round(CASE WHEN e.n_kept >= {_KMV_ERR_K}
            THEN ({_KMV_ERR_K - 1}.0 * 4294967296.0) / CAST(e.hk AS DOUBLE)
            ELSE CAST(e.n_kept AS DOUBLE) END, 6) AS est_distinct,
      CAST(round(abs(round(CASE WHEN e.n_kept >= {_KMV_ERR_K}
                  THEN ({_KMV_ERR_K - 1}.0 * 4294967296.0)
                       / CAST(e.hk AS DOUBLE)
                  ELSE CAST(e.n_kept AS DOUBLE) END, 6)
                 - ex.exact_distinct) * 1000000.0 / ex.exact_distinct)
           AS BIGINT) AS rel_err_ppm
    FROM ex, e
"""


@query("kmv_error_audit", oracle=_KMV_ERROR_ORACLE, tags=("sketch", "audit"))
def kmv_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured KMV distinct-count error vs exact COUNT(DISTINCT) on a
    high-cardinality column (lineitem extendedprice in integer cents --
    thousands of distinct values vs k=256 sketch rows, so the
    (k-1)*M/h_k estimator path is exercised, never the exact-count
    fallback). Reports the exact truth, the estimate, and the relative
    error in integer ppm (the *1e6-then-cast rule, identical on both
    sides -- no float-rounding divergence). The expected relative error
    of a k-row KMV is ~1/sqrt(k-2) ~ 6.3%; the measured number is the
    honest single-draw realization of that, hash-verified because the
    md5 hash makes the sketch itself deterministic. (The 32-bit hash
    space adds expected ~n^2/2^33 collisions -- ~0.4 at the sf0.01
    cardinality: the sketch estimates distinct HASHES, and that
    sub-1-value bias is part of the measured error, identically in
    both engines.)"""
    from taxi_data_pipeline_pset2_spark.operators.kmv import (
        kmv_distinct_estimate,
        kmv_sketch,
    )

    src = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_extendedprice").isNotNull())
        .select(
            F.round(F.col("l_extendedprice") * 100)
            .cast("bigint")
            .alias("cents")
        )
    )
    est = kmv_distinct_estimate(
        kmv_sketch(src, "cents", _KMV_ERR_K), _KMV_ERR_K
    )
    exact = src.agg(
        F.countDistinct("cents").cast("bigint").alias("exact_distinct")
    )
    return (
        exact.crossJoin(F.broadcast(est))
        .select(
            "exact_distinct",
            "n_kept",
            "est_distinct",
            F.round(
                F.abs(F.col("est_distinct") - F.col("exact_distinct"))
                * 1000000.0
                / F.col("exact_distinct")
            )
            .cast("bigint")
            .alias("rel_err_ppm"),
        )
    )


_MG_CAP = 16

def _mg_oracle(cap: int = _MG_CAP, n_batches: int = 4) -> str:
    """The full Misra-Gries merge chain (streaming/topk.py mg_merge) as
    one flat WITH list: per batch, exact counts full-outer-merged into
    the carried summary (fresh values floor at the accumulated
    deduction D -- the r11 re-entry fix under audit here), the
    (cap+1)-th largest counter subtracted, non-positives dropped, D
    accumulated. Deterministic end to end: ties at the deduction
    threshold resolve (est DESC, value ASC), all counts exact
    integers."""
    parts = [
        """ex AS (
      SELECT CAST(l_partkey AS VARCHAR) AS value,
             CAST(count(*) AS BIGINT) AS true_cnt
      FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(true_cnt) AS BIGINT) AS n FROM ex)"""
    ]
    for i in range(n_batches):
        parts.append(f"""b{i} AS (
      SELECT CAST(l_partkey AS VARCHAR) AS value,
             CAST(count(*) AS BIGINT) AS est
      FROM lineitem
      WHERE l_partkey IS NOT NULL AND l_orderkey % {n_batches} = {i}
      GROUP BY 1
    )""")
        if i == 0:
            parts.append(f"""m0 AS (
      SELECT value, est, CAST(0 AS BIGINT) AS mu FROM b0
    )""")
        else:
            parts.append(f"""m{i} AS (
      SELECT coalesce(s.value, b.value) AS value,
             coalesce(s.est, 0) + coalesce(b.est, 0) AS est,
             CASE WHEN s.value IS NULL THEN dd{i - 1}.dtot
                  ELSE s.mu END AS mu
      FROM s{i - 1} s FULL OUTER JOIN b{i} b ON s.value = b.value
      CROSS JOIN dd{i - 1}
    )""")
        parts.append(f"""t{i} AS (
      SELECT CASE WHEN count(*) > {cap} THEN min(est)
             ELSE CAST(0 AS BIGINT) END AS d
      FROM (SELECT est, value FROM m{i}
            ORDER BY est DESC, value ASC LIMIT {cap + 1})
    )""")
        parts.append(f"""s{i} AS (
      SELECT value, est - d AS est, mu + d AS mu
      FROM m{i}, t{i} WHERE est > d
    )""")
        dd_prev = f"dd{i - 1}.dtot + " if i else ""
        dd_from = f"dd{i - 1}, " if i else ""
        parts.append(
            f"dd{i} AS (SELECT {dd_prev}t{i}.d AS dtot FROM {dd_from}t{i})"
        )
    last = n_batches - 1
    parts.append(f"""heavy AS (
      SELECT ex.value FROM ex, tot WHERE ex.true_cnt * {cap + 1} > tot.n
    )""")
    return (
        "WITH " + ",\n    ".join(parts) + f"""
    SELECT coalesce(s.value, h.value) AS value,
           CAST(s.est AS BIGINT) AS est,
           CAST(s.mu AS BIGINT) AS max_undercount,
           x.true_cnt,
           h.value IS NOT NULL AS is_heavy,
           CAST(x.true_cnt - s.est AS BIGINT) AS underestimate,
           CAST(s.est + s.mu - x.true_cnt AS BIGINT) AS bound_slack
    FROM s{last} s FULL OUTER JOIN heavy h ON s.value = h.value
    JOIN ex x ON x.value = coalesce(s.value, h.value)
    ORDER BY value"""
    )


@query(
    "misra_gries_bound_audit",
    oracle=_mg_oracle(),
    tags=("sketch", "streaming", "audit"),
)
def misra_gries_bound_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Misra-Gries deterministic guarantees as a hash-verified row
    set: lineitem part keys streamed through mg_merge in 4 deterministic
    batches (l_orderkey % 4) at capacity 16 -- far below the ~200-2000
    distinct keys, so deductions and drop-lose-re-enter cycles really
    happen -- then the FINAL summary joined full-outer against the
    true heavy-hitter set (true > N/(cap+1)) with exact counts. Per
    row: est <= true (underestimate >= 0, MG never overcounts),
    true <= est + max_undercount (bound_slack >= 0 -- the exact bound
    the r11 re-entry fix repaired; a zero floor for re-entering values
    makes this negative), and every is_heavy row present (est NOT NULL
    -- the completeness half of the guarantee). The oracle replays the
    whole merge chain in SQL, so the bound audit is engine-independent,
    not a pytest self-check."""
    from taxi_data_pipeline_pset2_spark.streaming.topk import (
        mg_merge,
        topk_counters,
    )

    li = t(spark, sf_dir, "lineitem").filter(F.col("l_partkey").isNotNull())
    counts_all = (
        li.groupBy(F.col("l_partkey").cast("string").alias("value"))
        .agg(F.count("*").cast("bigint").alias("true_cnt"))
    )
    state = spark.createDataFrame(
        [], "value string, est bigint, max_undercount bigint"
    )
    for i in range(4):
        bc = (
            li.filter(F.col("l_orderkey") % 4 == i)
            .groupBy(F.col("l_partkey").cast("string").alias("value"))
            .agg(F.count("*").cast("bigint").alias("est"))
            .withColumn("max_undercount", F.lit(0).cast("bigint"))
        )
        # summary-sized state: checkpoint keeps the 4-step lineage from
        # re-executing every upstream merge per reference to `state`
        state = mg_merge(state, bc, _MG_CAP).localCheckpoint(eager=True)
    counters = topk_counters(state)
    tot = counts_all.agg(F.sum("true_cnt").cast("bigint").alias("n"))
    heavy = (
        counts_all.crossJoin(F.broadcast(tot))
        .filter(F.col("true_cnt") * (_MG_CAP + 1) > F.col("n"))
        .select("value", F.lit(True).alias("_h"))
    )
    return (
        counters.join(heavy, "value", "full_outer")
        .join(counts_all, "value")
        .select(
            "value",
            F.col("est").cast("bigint").alias("est"),
            F.col("max_undercount").cast("bigint").alias("max_undercount"),
            "true_cnt",
            F.coalesce(F.col("_h"), F.lit(False)).alias("is_heavy"),
            (F.col("true_cnt") - F.col("est"))
            .cast("bigint")
            .alias("underestimate"),
            (F.col("est") + F.col("max_undercount") - F.col("true_cnt"))
            .cast("bigint")
            .alias("bound_slack"),
        )
        .orderBy("value")
    )
