"""Catalog DuckDB replay under an arbitrary (hostile) Spark config.

The determinism contract says every catalog entry is bit-exact against
its DuckDB oracle regardless of session configuration the engine does
not pin (partition counts, AQE, Arrow batch size, ANSI mode, codegen,
timezone). This script makes that axis reproducible, and with entry
names it is the fast loop for checking that a change altered nothing a
query computes:

    python scripts/sweep_catalog.py                          # default confs
    python scripts/sweep_catalog.py --conf spark.sql.codegen.wholeStage=false
    python scripts/sweep_catalog.py --conf spark.sql.shuffle.partitions=5 \
        --conf spark.sql.adaptive.enabled=false
    TZ=Pacific/Chatham python scripts/sweep_catalog.py       # hostile TZ
    python scripts/sweep_catalog.py part_kcore monthly_trend \
        --sf /root/testdata/sf0.01 --sf /root/testdata/sf0.001

Every entry goes through tests.oracle_utils.replay_entry, the compare
tests/test_catalog_oracle.py runs (threaded job submission; one DuckDB
cursor per task). Prints one line per failure plus a final
``full=<n>/<n> rows_only=<k> FAIL=<m>`` summary per testdata dir.
Exit 0 iff zero mismatches.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

# anchor imports on the repo root, not the caller's cwd
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from taxi_data_pipeline_pset2_spark.queries import registry
from taxi_data_pipeline_pset2_spark.session import get_spark
from tests.oracle_utils import duckdb_connection, replay_entry


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("names", nargs="*", help="entries to replay (default: all)")
    ap.add_argument(
        "--sf",
        action="append",
        default=None,
        help="testdata dir (repeatable); default /root/testdata/sf0.01",
    )
    ap.add_argument(
        "--conf",
        action="append",
        default=[],
        metavar="K=V",
        help="extra Spark conf (repeatable)",
    )
    ap.add_argument("--threads", type=int, default=8)
    args = ap.parse_args()

    for c in args.conf:
        if "=" not in c:
            ap.error(f"--conf expects K=V, got {c!r}")
    reg = registry()
    unknown = sorted(set(args.names) - set(reg))
    if unknown:
        ap.error(f"unknown entries: {unknown}")
    entries = [reg[n] for n in sorted(args.names or reg)]
    extra = dict(c.split("=", 1) for c in args.conf)
    spark = get_spark(app_name="catalog-sweep", extra_confs=extra)
    for k, v in extra.items():
        # getOrCreate() silently reuses a live session; make a stale
        # config impossible to miss.
        assert spark.conf.get(k) == v, f"conf {k} not applied (stale session?)"
    failures = 0
    for sf in args.sf or ["/root/testdata/sf0.01"]:
        failures += _sweep(spark, sf, entries, args.threads, extra)
    spark.stop()
    return 1 if failures else 0


def _sweep(spark, sf: str, entries, threads: int, extra: dict) -> int:
    """Replay ``entries`` on one testdata dir; returns the failure count."""
    con = duckdb_connection(sf)
    t0 = time.time()
    failures = full_pass = full_total = rows_only_pass = rows_only_total = 0
    with ThreadPoolExecutor(max_workers=threads) as pool:
        futures = [
            (e, pool.submit(replay_entry, spark, sf, con, e)) for e in entries
        ]
        for e, fut in futures:
            problems = fut.result()
            if e.oracle is None:
                rows_only_total += 1
                rows_only_pass += not problems
            else:
                full_total += 1
                full_pass += not problems
            if problems:
                failures += 1
                print(f"FAIL {e.name}: " + "; ".join(problems)[:800])
    con.close()
    print(
        f"sweep: full={full_pass}/{full_total} "
        f"rows_only={rows_only_pass}/{rows_only_total} FAIL={failures} "
        f"confs={extra or 'default'} sf={sf} {time.time() - t0:.0f}s"
    )
    return failures


if __name__ == "__main__":
    raise SystemExit(main())
