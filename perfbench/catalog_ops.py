"""Workload ``catalog_ops``: three catalog entries on TPC-H-shaped tables.

Each entry stands for items of ROADMAP.md: the eager probes
(``monthly_trend``; ``part_triangle_stats`` runs 23 eager jobs), the
driver fast paths and the scale loops (``part_kcore``, both) and the
carried ``part_triangle_stats`` re-adjudication. The work is
in ``queries`` and ``operators``.

Setup writes the base tables with ``tpch_gen.py`` and, for any seed but
0, a ``scripts/permute_testdata.py --seed`` twin of them. Each timed
pass's results are compared afterwards with the entries' DuckDB oracles
by ``tests.oracle_utils.compare_frames``, the comparison
``replay_entry`` makes.
"""

from __future__ import annotations

import dataclasses
import glob
import os
import re
import subprocess
import sys

import pyarrow.parquet as pq

from taxi_data_pipeline_pset2_spark.queries.catalog import registry
from tests.oracle_utils import compare_frames, duckdb_connection
from tracing import duration, fp_value, median_of

# A run starts a fresh JVM, and each entry's first run costs seconds of
# JIT, class loading and codegen on top of its warm time, so the run's
# time budget holds three entries; pagerank_supplier_customer,
# spearman_qty_price, brand_communities, demand_by_zone, dedup_components,
# kmeans_clusters and dedup_ngram_jaccard repeat the items these cover,
# and the perf backlog (bm25_topk_docs, brand_association_rules) is left
# out.
ENTRIES = (
    "monthly_trend",
    "part_kcore",
    "part_triangle_stats",
)
# lineitem rows = 6M x sf. A pass costs the same at sf0.001 and sf0.01
# (per-job overhead dominates on 4 cores), so the larger one is used.
SCALE = {"full": 0.01, "tiny": 0.001}
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def materialized(entry):
    """The entry with every CTE of its oracle marked ``MATERIALIZED``.

    DuckDB 1.0 inlines a CTE at each reference. ``part_triangle_stats``'s
    oracle reads its CTEs several times: 0.63 s inlined, 0.03 s
    materialized at sf0.01. An oracle that chains rounds, each read
    twice by the next (pagerank's), expands 2^rounds copies inlined and
    runs out of memory. Same SQL semantics; recursive CTEs cannot be
    materialized and are left alone."""
    if re.search(r"\bRECURSIVE\b|\bMATERIALIZED\b", entry.oracle, re.IGNORECASE):
        return entry
    return dataclasses.replace(
        entry, oracle=re.sub(r"\b(\w+) AS \(", r"\1 AS MATERIALIZED (", entry.oracle)
    )


class CatalogOps:
    name = "catalog_ops"

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.base = os.path.join(ctx.work, "tpch")
        self.sf_dir = self.base
        reg = registry()
        self.entries = [materialized(reg[n]) for n in ENTRIES]
        self.con = None

    def land(self) -> None:
        subprocess.run(
            [sys.executable, os.path.join(HERE, "tpch_gen.py"), "--out", self.base,
             "--sf", str(SCALE[self.ctx.size])],
            check=True,
        )
        if self.ctx.seed != 0:
            self.sf_dir = os.path.join(self.ctx.work, f"tpch_seed{self.ctx.seed}")
            subprocess.run(
                [sys.executable, os.path.join(ROOT, "scripts", "permute_testdata.py"),
                 "--src", self.base, "--out", self.sf_dir, "--seed", str(self.ctx.seed)],
                check=True,
                stdout=subprocess.DEVNULL,
            )

    def _connection(self):
        if self.con is None:
            self.con = duckdb_connection(self.sf_dir)
            self.con.execute("SET memory_limit = '2GB'")
            self.con.execute("SET threads = 2")
            self.con.execute(f"SET temp_directory = '{self.ctx.work}/duckdb'")
        return self.con

    def run_pass(self) -> dict:
        tr = self.ctx.tracer
        out: dict = {}
        for e in self.entries:
            try:
                with tr.span(f"queries.{e.name}.build"):
                    df = e.fn(self.spark, self.sf_dir)
                with tr.span(f"queries.{e.name}.exec"):
                    out[e.name] = df.toPandas()
            except Exception as ex:  # noqa: BLE001 - a failed op is counted, not fatal
                out[e.name] = ex
        return out

    def check(self, passes: list[dict]) -> tuple[int, list[str]]:
        con = self._connection()
        oracle: dict = {}
        for e in self.entries:
            try:
                oracle[e.name] = con.cursor().execute(e.oracle).df()
            except Exception as ex:  # noqa: BLE001
                oracle[e.name] = ex
        if self.ctx.corrupt:
            first = self.entries[0].name
            oracle[first] = oracle[first].iloc[1:]
        problems, attempted = [], 0
        for i, out in enumerate(passes):
            for op, got in out.items():
                attempted += 1
                want = oracle[op]
                if isinstance(got, Exception) or isinstance(want, Exception):
                    problems.append(f"pass {i} {op}: {got if isinstance(got, Exception) else want!r}"[:300])
                    continue
                diff = compare_frames(got, want)
                if diff:
                    problems.append(f"pass {i} {op}: {diff[0]}"[:300])
        return attempted, problems

    def close(self) -> None:
        if self.con is not None:
            self.con.close()
            self.con = None

    def inputs(self) -> dict:
        files = glob.glob(os.path.join(self.sf_dir, "*.parquet"))
        return {
            "rows": {
                os.path.basename(f)[: -len(".parquet")]: pq.ParquetFile(f).metadata.num_rows
                for f in sorted(files)
            },
            "bytes": sum(os.path.getsize(f) for f in files),
            "scale_factor": SCALE[self.ctx.size],
        }

    @staticmethod
    def layer_metrics(spans: dict) -> dict:
        m = {}
        for n in ENTRIES:
            build = spans.get(f"queries.{n}.build", [])
            run = spans.get(f"queries.{n}.exec", [])
            m[f"queries.{n}.build_s"] = median_of(build, duration)
            m[f"queries.{n}.build_jobs"] = median_of(build, fp_value("jobs"))
            m[f"queries.{n}.exec_s"] = median_of(run, duration)
            m[f"queries.{n}.exec_jobs"] = median_of(run, fp_value("jobs"))
            shuffle = fp_value("shuffle_write_bytes")
            m[f"queries.{n}.shuffle_bytes"] = median_of(
                list(zip(build, run)), lambda p: shuffle(p[0]) + shuffle(p[1])
            )
        m["queries.build_jobs"] = sum(m[f"queries.{n}.build_jobs"] for n in ENTRIES)
        m["queries.build_s"] = sum(m[f"queries.{n}.build_s"] for n in ENTRIES)
        return m

    @staticmethod
    def plan_ops(spans: dict) -> dict:
        """op -> its build and exec spans, for the plan fingerprints."""
        return {
            n: spans.get(f"queries.{n}.build", []) + spans.get(f"queries.{n}.exec", [])
            for n in ENTRIES
        }
