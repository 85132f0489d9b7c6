"""Mirror of the driver's DuckDB-oracle comparison (see __spark_entry__.py
docstring): row count + sorted-column schema + order-insensitive values.

Values are compared EXACTLY (no tolerance) -- the catalog's determinism
contract (exact-decimal aggregation, identical rounding on both sides) is
supposed to make Spark and DuckDB bit-identical; any drift is a bug here,
not acceptable noise.
"""

from __future__ import annotations

import datetime as _dt
import math

import duckdb
import numpy as np
import pandas as pd

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _canon_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        if v == 0.0:
            v = 0.0  # normalize -0.0
        return repr(v)
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        # np.ndarray MUST take this element-wise branch, never str():
        # str() of a >1000-element array TRUNCATES with '...', so two
        # different long arrays canonicalize identically -- a silent
        # false PASS in the harness every local replay trusts
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    if isinstance(v, (bool, np.bool_)):
        # np.bool_ is NOT a bool subclass; without this it falls to
        # str() = 'True' while a Python bool canonicalizes to 'true',
        # making equivalent values compare unequal whenever the two
        # engines' pandas bridges pick different bool representations
        return "true" if v else "false"
    try:
        if pd.isna(v):
            return "NULL"
    except (TypeError, ValueError):
        pass
    return str(v)


def canonical_rows(df: pd.DataFrame) -> list[tuple[str, ...]]:
    cols = sorted(df.columns)
    out = [tuple(_canon_cell(v) for v in row) for row in df[cols].itertuples(index=False)]
    return sorted(out)


def compare_frames(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    """Return a list of human-readable mismatch descriptions (empty = match)."""
    problems: list[str] = []
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        problems.append(
            f"columns differ: spark={sorted(spark_pdf.columns)} oracle={sorted(oracle_pdf.columns)}"
        )
        return problems
    if len(spark_pdf) != len(oracle_pdf):
        problems.append(f"row count differs: spark={len(spark_pdf)} oracle={len(oracle_pdf)}")
    s_rows = canonical_rows(spark_pdf)
    o_rows = canonical_rows(oracle_pdf)
    if s_rows != o_rows:
        diff_idx = [i for i, (a, b) in enumerate(zip(s_rows, o_rows)) if a != b][:3]
        for i in diff_idx:
            problems.append(f"row {i}: spark={s_rows[i]} oracle={o_rows[i]}")
        only_s = set(s_rows) - set(o_rows)
        only_o = set(o_rows) - set(s_rows)
        if only_s:
            problems.append(f"{len(only_s)} rows only in spark, e.g. {sorted(only_s)[:2]}")
        if only_o:
            problems.append(f"{len(only_o)} rows only in oracle, e.g. {sorted(only_o)[:2]}")
    return problems


def replay_entry(spark, sf_dir: str, con, entry) -> list[str]:
    """Run one catalog entry and its oracle; return mismatch descriptions
    (empty = pass). The single shared replay body for the pytest suite,
    scripts/sweep_catalog.py and scripts/preflight_entries.py: separate
    copies would drift when the compare logic changes. Exceptions are
    rendered into the problem list so one bad entry cannot poison a
    shared executor.

    Rows-only entries (oracle is None) get the driver's weaker check --
    non-vacuous, since every rows-only op in the registry returns >= 1
    row on the test tables by construction.
    DuckDB connections are not thread-safe; ``.cursor()`` is the
    documented per-thread handle onto the same catalog."""
    import traceback

    try:
        spark_pdf = entry.fn(spark, sf_dir).toPandas()
        if len(spark_pdf.columns) == 0:
            return ["result has zero columns"]
        if entry.oracle is None:
            return [] if len(spark_pdf) > 0 else ["rows-only entry returned 0 rows"]
        oracle_pdf = con.cursor().execute(entry.oracle).df()
        return compare_frames(spark_pdf, oracle_pdf)
    except Exception:
        return [traceback.format_exc(limit=8)]
