"""Workload ``medallion_build``: the reference's batch ELT job.

Setup lands bronze parquet once from ``sources.taxi_fixtures``. Each
timed pass then does what the reference's scheduler does per run, the
first one on a session that has run nothing but the landing:

1. ``plans.dag.taxi_pipeline(...).run(spark)`` rebuilds silver, the four
   dims and ``fct_trips`` (six DAG nodes);
2. ``quality.run_tests(quality.taxi_test_suite(gold))`` runs the 32 dbt
   tests;
3. the seven read queries of ``gold.py`` run on the gold it just wrote.

Operations per pass: six DAG nodes, one quality suite, seven gold
queries. All outputs are checked after the timed passes, against DuckDB
twins over the parquet on disk.
"""

from __future__ import annotations

import glob
import math
import os
from concurrent.futures import ThreadPoolExecutor

import duckdb
from pyspark.sql import functions as F

from gold import QUERIES
from taxi_data_pipeline_pset2_spark.plans.dag import taxi_pipeline
from taxi_data_pipeline_pset2_spark.quality import run_tests, taxi_test_suite
from taxi_data_pipeline_pset2_spark.sources.taxi_fixtures import (
    gen_green,
    gen_yellow,
    gen_zones,
)
from tracing import duration, fp_value, median_of

# The seed keeps 7/8 of each fixture draw (a hash subset), so these
# draws land ~60k yellow and ~12k green trips: the fixture defaults.
DRAW = {"full": (68_571, 13_714), "tiny": (2_400, 600)}
NODES = (
    "stg_trips_unified",
    "dim_date",
    "dim_zone",
    "dim_payment_type",
    "dim_rate_code",
    "fct_trips",
)
OPS = [f"node.{n}" for n in NODES] + ["quality"] + [f"gold.{q}" for q in QUERIES]
N_QUALITY_TESTS = 32  # the reference's dbt test count (README.md:103)
# The reference's VALUES dims (dim_payment_type.sql, dim_rate_code.sql)
# each have six codes plus one default member.
VALUES_DIM_ROWS = 7

_STG_FILTER = """p IS NOT NULL AND d IS NOT NULL AND trip_distance >= 0
    AND fare_amount >= 0 AND total_amount >= 0"""
_IN_RANGE = """CAST(p AS DATE) BETWEEN DATE '2015-01-01' AND DATE '2025-12-31'
    AND CAST(d AS DATE) BETWEEN DATE '2015-01-01' AND DATE '2025-12-31'"""


def _seed_subset(df, seed: int):
    return df.filter(F.pmod(F.xxhash64(*df.columns, F.lit(seed)), F.lit(8)) != 0)


def _guarded(fn):
    """fn() or the exception it raised: a failed op is counted, not fatal."""
    try:
        return fn()
    except Exception as e:  # noqa: BLE001
        return e


def _canon(v):
    if hasattr(v, "isoformat"):
        return v.isoformat()[:10]
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def _key_sorted(rows: list[tuple]) -> list[tuple]:
    """Sort by the non-float columns so float noise cannot reorder rows."""
    return sorted(rows, key=lambda r: repr([v for v in r if not isinstance(v, float)]))


def compare_rows(got: list[tuple], want: list[tuple]) -> str | None:
    """None when the row multisets agree; floats agree to 1e-9 relative,
    which absorbs the engines' different double-sum orders."""
    got = _key_sorted([tuple(_canon(v) for v in r) for r in got])
    want = _key_sorted([tuple(_canon(v) for v in r) for r in want])
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    for g, w in zip(got, want):
        same = len(g) == len(w) and all(
            math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
            if isinstance(a, float) and isinstance(b, float)
            else a == b
            for a, b in zip(g, w)
        )
        if not same:
            return f"row {g} != expected {w}"
    return None


class Medallion:
    name = "medallion_build"

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.bronze = os.path.join(ctx.work, "bronze")
        self.warehouse = os.path.join(ctx.work, "warehouse")

    def land(self) -> None:
        """Write the seeded bronze inputs, the three tables at once; only
        these reach the package."""
        n_yellow, n_green = DRAW[self.ctx.size]
        seed = self.ctx.seed
        tables = {
            "yellow": _seed_subset(gen_yellow(self.spark, n_yellow), seed),
            "green": _seed_subset(gen_green(self.spark, n_green), seed),
            "zones": gen_zones(self.spark),
        }
        with ThreadPoolExecutor(max_workers=len(tables)) as pool:
            writes = [
                pool.submit(df.write.mode("overwrite").parquet, f"{self.bronze}/{t}")
                for t, df in tables.items()
            ]
        for w in writes:
            w.result()
        read = self.spark.read.parquet
        self.raw = {t: read(f"{self.bronze}/{t}") for t in tables}

    def run_pass(self) -> dict:
        """One ELT pass. Returns op name -> output, or the exception."""
        tr = self.ctx.tracer
        out: dict = {}
        try:
            with tr.span("plans.dag.run"):
                built, results = taxi_pipeline(
                    self.warehouse, self.raw["yellow"], self.raw["green"], self.raw["zones"]
                ).run(self.spark)
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            return {op: e for op in OPS}
        for r in results:
            out[f"node.{r.name}"] = (r.status, r.rows)
        if tr.enabled:
            tr.spans[-1]["node_seconds"] = {r.name: r.seconds for r in results}

        def quality():
            with tr.span("quality.taxi_test_suite"):
                cases = taxi_test_suite(built)
            with tr.span("quality.run_tests"):
                return [(t.name, t.passed) for t in run_tests(cases)]

        def gold(q):
            with tr.span(f"gold.{q}"):
                rows = QUERIES[q][0](built["fct_trips"], built["dim_zone"]).collect()
            return [tuple(r) for r in rows]

        out["quality"] = _guarded(quality)
        for q in QUERIES:
            out[f"gold.{q}"] = _guarded(lambda q=q: gold(q))
        return out

    def close(self) -> None:
        pass

    def _expected(self) -> dict:
        con = duckdb.connect()
        try:
            con.execute("SET threads=2")
            con.execute(f"SET temp_directory = '{self.ctx.work}/duckdb'")
            for t in ("yellow", "green", "zones"):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.bronze}/{t}/*.parquet')"
                )
            stg, fct = con.execute(
                f"""WITH u AS (
                      SELECT tpep_pickup_datetime AS p, tpep_dropoff_datetime AS d,
                             trip_distance, fare_amount, total_amount FROM yellow
                      UNION ALL
                      SELECT lpep_pickup_datetime, lpep_dropoff_datetime,
                             trip_distance, fare_amount, total_amount FROM green)
                    SELECT count(*) FILTER (WHERE {_STG_FILTER}),
                           count(*) FILTER (WHERE {_STG_FILTER} AND {_IN_RANGE})
                    FROM u"""
            ).fetchone()
            days, zones = con.execute(
                """SELECT date_diff('day', DATE '2015-01-01', DATE '2025-12-31') + 1,
                          (SELECT count(*) FROM zones)"""
            ).fetchone()
            exp = {
                "node.stg_trips_unified": ("success", stg),
                "node.dim_date": ("success", days),
                "node.dim_zone": ("success", zones + 1),  # + the Unknown member
                "node.dim_payment_type": ("success", VALUES_DIM_ROWS),
                "node.dim_rate_code": ("success", VALUES_DIM_ROWS),
                "node.fct_trips": ("success", fct),
            }
            con.execute(
                f"""CREATE VIEW fct AS SELECT * FROM read_parquet(
                    '{self.warehouse}/fct_trips/*/*.parquet', hive_partitioning = true)"""
            )
            con.execute(
                f"CREATE VIEW dim_zone AS SELECT * FROM "
                f"read_parquet('{self.warehouse}/dim_zone/*.parquet')"
            )
            for q, (_, sql) in QUERIES.items():
                exp[f"gold.{q}"] = con.execute(sql).fetchall()
            return exp
        finally:
            con.close()

    def check(self, passes: list[dict]) -> tuple[int, list[str]]:
        """(operations attempted, one problem line per failed operation)."""
        try:
            exp = self._expected()
        except Exception as e:  # noqa: BLE001
            n = sum(len(p) for p in passes)
            return n, [f"expected values unavailable: {e!r}"] * n
        if self.ctx.corrupt:
            status, rows = exp["node.stg_trips_unified"]
            exp["node.stg_trips_unified"] = (status, rows + 1)
        problems, attempted = [], 0
        for i, out in enumerate(passes):
            for op, got in out.items():
                attempted += 1
                if isinstance(got, Exception):
                    problems.append(f"pass {i} {op}: {got!r}"[:300])
                elif op == "quality":
                    bad = [n for n, ok in got if not ok]
                    if len(got) != N_QUALITY_TESTS or bad:
                        problems.append(f"pass {i} quality: {len(got)} tests, failing {bad}")
                elif op.startswith("gold."):
                    msg = compare_rows(got, exp[op])
                    if msg:
                        problems.append(f"pass {i} {op}: {msg}")
                elif got != exp[op]:
                    problems.append(f"pass {i} {op}: {got}, expected {exp[op]}")
        return attempted, problems

    def inputs(self) -> dict:
        files = glob.glob(f"{self.bronze}/*/*.parquet")
        con = duckdb.connect()
        try:
            rows = {
                t: con.execute(
                    f"SELECT count(*) FROM read_parquet('{self.bronze}/{t}/*.parquet')"
                ).fetchone()[0]
                for t in ("yellow", "green", "zones")
            }
        finally:
            con.close()
        return {"rows": rows, "bytes": sum(os.path.getsize(f) for f in files)}

    @staticmethod
    def layer_metrics(spans: dict) -> dict:
        dag = spans.get("plans.dag.run", [])
        m = {"plans.dag.run_s": median_of(dag, duration)}
        for n in NODES:
            m[f"plans.dag.{n}_s"] = median_of(dag, lambda r, n=n: r.get("node_seconds", {}).get(n, 0.0))
        for k, f in (
            ("jobs", "jobs"),
            ("tasks", "tasks"),
            ("input_bytes", "input_bytes"),
            ("output_bytes", "output_bytes"),
            ("shuffle_bytes", "shuffle_write_bytes"),
        ):
            m[f"plans.dag.{k}"] = median_of(dag, fp_value(f))
        suite = spans.get("quality.taxi_test_suite", [])
        tests = spans.get("quality.run_tests", [])
        m["quality.taxi_test_suite_s"] = median_of(suite, duration)
        m["quality.run_tests_s"] = median_of(tests, duration)
        both = list(zip(suite, tests))
        m["quality.jobs"] = median_of(
            both, lambda p: fp_value("jobs")(p[0]) + fp_value("jobs")(p[1])
        )
        m["quality.input_bytes"] = median_of(
            both, lambda p: fp_value("input_bytes")(p[0]) + fp_value("input_bytes")(p[1])
        )
        for q in QUERIES:
            recs = spans.get(f"gold.{q}", [])
            m[f"gold.{q}_s"] = median_of(recs, duration)
            m[f"gold.{q}_input_bytes"] = median_of(recs, fp_value("input_bytes"))
        return m

    @staticmethod
    def plan_ops(spans: dict) -> dict:
        """op -> its spans, for the plan fingerprints."""
        return {f"gold.{q}": spans.get(f"gold.{q}", []) for q in QUERIES}
