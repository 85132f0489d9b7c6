"""dbt-style data-quality assertions (SURVEY.md section 2.10).

The reference ships 32 schema tests -- 18 not_null, 8 unique,
4 relationships, 2 accepted_values (``models/gold/schema.yml``,
``models/silver/schema.yml``; ``README.md:101-123``). Each test compiles
to a DataFrame returning *violating rows*; pass == empty, exactly dbt's
contract. ``taxi_test_suite`` re-declares all 32 against the built
medallion layer.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def not_null(df: DataFrame, col: str) -> DataFrame:
    return df.filter(F.col(col).isNull()).select(F.lit(col).alias("column"))


def unique(df: DataFrame, col: str) -> DataFrame:
    """dbt's unique: duplicate NON-NULL keys. NULLs are not keys and are
    not flagged here (dbt's compiled test filters them out; missing keys
    are not_null's one concern -- the accepted_range composition rule),
    so tables with legitimately-absent keys pass."""
    return (
        df.filter(F.col(col).isNotNull())
        .groupBy(col)
        .count()
        .filter(F.col("count") > 1)
        .select(F.col(col).cast("string").alias("duplicate_key"), "count")
    )


def accepted_values(df: DataFrame, col: str, values: Sequence) -> DataFrame:
    """dbt's accepted_values: NON-NULL values outside the list. NULLs
    pass (dbt's `col NOT IN (...)` is NULL for NULL, hence unselected)
    -- compose with not_null when both are required, so the two tests
    never double-cover a NULL."""
    return df.filter(
        F.col(col).isNotNull() & ~F.col(col).isin(list(values))
    ).select(F.col(col).cast("string").alias("unexpected_value"))


def relationships(child: DataFrame, child_col: str, parent: DataFrame, parent_col: str) -> DataFrame:
    """FK integrity as a broadcast left-anti join (operator J4)."""
    return child.select(F.col(child_col)).join(
        F.broadcast(parent.select(F.col(parent_col).alias(child_col))),
        on=child_col,
        how="left_anti",
    )


@dataclass(frozen=True)
class TestResult:
    name: str
    passed: bool
    failing_rows: int


def run_tests(cases: dict[str, DataFrame]) -> list[TestResult]:
    """Run the whole suite as ONE Spark action: every violation frame is
    projected to a tagged literal and unioned, then a single aggregate
    counts failures per test. 32 per-test ``count()`` actions would pay
    the per-job scheduling overhead 32 times; the union pays it once.
    It does not share scans: union keeps one scan per test input, so the
    reference suite still reads its tables 36 times in one plan."""
    if not cases:
        return []
    it = iter(cases.items())
    name0, v0 = next(it)
    unioned = v0.select(F.lit(name0).alias("_test_name"))
    for name, violations in it:
        unioned = unioned.unionByName(violations.select(F.lit(name).alias("_test_name")))
    counts = {
        r["_test_name"]: r["n"]
        for r in unioned.groupBy("_test_name").agg(F.count("*").alias("n")).collect()
    }
    return [
        TestResult(name, counts.get(name, 0) == 0, counts.get(name, 0))
        for name in cases
    ]


def taxi_test_suite(tables: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """All 32 reference tests against the built medallion tables
    (definition sites cited in SURVEY.md section 2.10)."""
    stg = tables["stg_trips_unified"]
    fct = tables["fct_trips"]
    d_date = tables["dim_date"]
    d_zone = tables["dim_zone"]
    d_pay = tables["dim_payment_type"]
    d_rate = tables["dim_rate_code"]

    cases: dict[str, DataFrame] = {}
    # 18 not_null (silver/schema.yml:9-17..., gold/schema.yml:9-22...)
    for col in ["service_type", "pickup_datetime", "dropoff_datetime",
                "trip_distance", "fare_amount", "total_amount"]:
        cases[f"not_null__stg__{col}"] = not_null(stg, col)
    for col in ["trip_id", "service_type", "pickup_date_sk", "dropoff_date_sk",
                "pickup_zone_sk", "dropoff_zone_sk", "pickup_datetime", "total_amount"]:
        cases[f"not_null__fct__{col}"] = not_null(fct, col)
    for tbl, df, col in [("dim_date", d_date, "date_sk"), ("dim_zone", d_zone, "zone_sk"),
                         ("dim_payment_type", d_pay, "payment_type_sk"),
                         ("dim_rate_code", d_rate, "rate_code_sk")]:
        cases[f"not_null__{tbl}__{col}"] = not_null(df, col)
    # 8 unique (gold/schema.yml:66-106)
    cases["unique__fct__trip_id"] = unique(fct, "trip_id")
    cases["unique__dim_date__date_sk"] = unique(d_date, "date_sk")
    cases["unique__dim_date__date_actual"] = unique(d_date, "date_actual")
    cases["unique__dim_zone__zone_sk"] = unique(d_zone, "zone_sk")
    cases["unique__dim_zone__locationid"] = unique(d_zone, "locationid")
    cases["unique__dim_payment_type__sk"] = unique(d_pay, "payment_type_sk")
    cases["unique__dim_rate_code__sk"] = unique(d_rate, "rate_code_sk")
    cases["unique__dim_payment_type__id"] = unique(d_pay, "payment_type_id")
    # 4 relationships (gold/schema.yml:23-49)
    # the fact's range filter guarantees every trip date exists in the
    # spine, so no union with a default member is needed for dates
    cases["relationships__fct__pickup_date_sk"] = relationships(fct, "pickup_date_sk", d_date, "date_sk")
    cases["relationships__fct__dropoff_date_sk"] = relationships(fct, "dropoff_date_sk", d_date, "date_sk")
    cases["relationships__fct__pickup_zone_sk"] = relationships(fct, "pickup_zone_sk", d_zone, "zone_sk")
    cases["relationships__fct__dropoff_zone_sk"] = relationships(fct, "dropoff_zone_sk", d_zone, "zone_sk")
    # 2 accepted_values (gold/schema.yml:16-17, silver/schema.yml:11-12)
    cases["accepted_values__stg__service_type"] = accepted_values(stg, "service_type", ["yellow", "green"])
    cases["accepted_values__fct__service_type"] = accepted_values(fct, "service_type", ["yellow", "green"])
    return cases


# --- dbt-utils-style expectations beyond the reference's four ops ---------


def accepted_range(
    df: DataFrame,
    col: str,
    min_value=None,
    max_value=None,
    inclusive: bool = True,
) -> DataFrame:
    """Violating rows outside [min_value, max_value] (dbt-utils
    accepted_range). NULLs pass (compose with not_null when both are
    required -- matching dbt's semantics where each test is one
    concern)."""
    if min_value is None and max_value is None:
        raise ValueError("need min_value and/or max_value")
    c = F.col(col)
    bad = F.lit(False)
    if min_value is not None:
        bad = bad | ((c < F.lit(min_value)) if inclusive else (c <= F.lit(min_value)))
    if max_value is not None:
        bad = bad | ((c > F.lit(max_value)) if inclusive else (c >= F.lit(max_value)))
    return df.filter(bad).select(F.col(col).cast("string").alias("out_of_range_value"))


def freshness(
    df: DataFrame, ts_col: str, max_age, now=None
) -> DataFrame:
    """dbt source-freshness: violating = the whole table when the newest
    ``ts_col`` is older than ``max_age`` (an INTERVAL string, e.g.
    '2 days') relative to ``now`` (default current_timestamp; pass a
    literal for deterministic tests). Returns one row with the observed
    lag when stale, empty when fresh -- one aggregate, no table scan
    beyond the max."""
    ref = F.lit(now).cast("timestamp") if now is not None else F.current_timestamp()
    agg = df.agg(F.max(F.col(ts_col)).alias("_newest")).select(
        "_newest",
        ref.alias("_ref"),
        (F.col("_newest") >= ref - F.expr(f"INTERVAL {max_age}")).alias("_fresh"),
    )
    return agg.filter(~F.coalesce(F.col("_fresh"), F.lit(False))).select(
        F.col("_newest").cast("string").alias("newest_record"),
        F.col("_ref").cast("string").alias("checked_at"),
    )


def monotonic_by(
    df: DataFrame, order_col: str, value_col: str, group_cols: list[str] | None = None
) -> DataFrame:
    """Violating rows where ``value_col`` DECREASES along ``order_col``
    within each group -- the audit for cumulative counters, watermark
    columns, version numbers. One (group, order) window."""
    from pyspark.sql import Window

    group_cols = group_cols or []
    w = Window.partitionBy(*group_cols).orderBy(F.col(order_col).asc())
    prev = F.lag(value_col).over(w)
    return (
        df.withColumn("_prev", prev)
        .filter(F.col("_prev").isNotNull() & (F.col(value_col) < F.col("_prev")))
        .select(
            *group_cols,
            F.col(order_col).cast("string").alias("at"),
            F.col(value_col).cast("string").alias("value"),
            F.col("_prev").cast("string").alias("previous"),
        )
    )


def expect_implication(
    df: DataFrame, when_expr: str, then_expr: str
) -> DataFrame:
    """Violating rows where ``when_expr`` holds but ``then_expr`` does
    not (dbt-utils expression_is_true scoped by a condition) -- the
    cross-field rule every warehouse accumulates: "if status is
    shipped, ship_date must be set", "if discount > 0, price > 0".
    Three-valued logic: a NULL ``then_expr`` under a true antecedent is
    a violation (the rule was applicable and unmet); rows where the
    antecedent is false or NULL pass. Scan-shaped, codegen-only."""
    cond = F.expr(when_expr)
    holds = F.expr(then_expr)
    return df.filter(
        F.coalesce(cond, F.lit(False)) & ~F.coalesce(holds, F.lit(False))
    )


def missing_ranges(
    df: DataFrame, seq_col: str, group_cols: list[str] | None = None
) -> DataFrame:
    """Gaps in an expected-contiguous integer sequence per group:
    (group_cols..., gap_start, gap_end, n_missing) for every maximal
    run of absent values between the observed min and max -- the
    completeness audit for offset/invoice/version columns where
    "nothing missing" is the contract (a dropped CDC batch shows up
    here long before any value-level test fires). Empty result = the
    sequence is contiguous.

    One distinct + one lead() window over the DISTINCT sequence values
    (value-vocabulary-sized, the spearman discipline) -- never a
    generated full-range spine, which would materialize max-min rows
    to find three gaps. Duplicates are fine (distinct first); NULL
    sequence values are ignored (not_null is a separate concern)."""
    from pyspark.sql import functions as F2
    from pyspark.sql.window import Window

    keys = list(group_cols or [])
    s = F2.col(seq_col).cast("bigint")
    vals = (
        df.filter(s.isNotNull())
        .select(*keys, s.alias("_s"))
        .distinct()
    )
    w = Window.partitionBy(*[F2.col(c) for c in keys]).orderBy("_s")
    out = (
        vals.withColumn("_next", F2.lead("_s").over(w))
        .filter(F2.col("_next") > F2.col("_s") + 1)
        .select(
            *keys,
            (F2.col("_s") + 1).alias("gap_start"),
            (F2.col("_next") - 1).alias("gap_end"),
            (F2.col("_next") - F2.col("_s") - 1).alias("n_missing"),
        )
    )
    return out.orderBy(*keys, "gap_start")
