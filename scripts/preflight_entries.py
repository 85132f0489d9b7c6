"""Fresh-process pre-flight of specific catalog entries against DuckDB.

Mirrors the external driver's run shape: a plain SparkSession (not the
engine's tuned factory), default-memory DuckDB, one statement per
oracle. Each entry goes through tests.oracle_utils.replay_entry, the
compare the test suite and scripts/sweep_catalog.py run. Run twice --
default env and a hostile TZ (e.g. TZ=Pacific/Chatham) -- before
committing a new or changed oracle.

Usage: python scripts/preflight_entries.py [sf_dir] name [name ...]
"""

from __future__ import annotations

import os
import sys
import time

# anchor imports on the repo root, not the caller's cwd
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from taxi_data_pipeline_pset2_spark.queries import registry
from tests.oracle_utils import duckdb_connection, replay_entry


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args.pop(0) if args and "/" in args[0] else "/root/testdata/sf0.01"
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.session.timeZone", "UTC")
        .appName("preflight")
        .getOrCreate()
    )
    reg = registry()
    con = duckdb_connection(sf_dir)
    failed = []
    for name in args:
        t0 = time.time()
        problems = replay_entry(spark, sf_dir, con, reg[name])
        print(
            f"{name}: {time.time() - t0:.2f}s "
            + ("OK" if not problems else "FAIL " + "; ".join(problems)[:500])
        )
        if problems:
            failed.append(name)
    spark.stop()
    con.close()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
