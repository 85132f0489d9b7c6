"""Benchmark of the medallion ELT job and of the operator catalog.

    python3 perfbench/run.py --workload medallion_build --seed 0 --seconds 1 --trace 0

Run from the repository root. One Spark session on ``local[nproc]`` per
run. Setup (session start, input landing) is timed as ``setup_s``; then
whole passes run until ``--seconds`` have passed (at least one, the
first on a cold session, as a scheduled batch run meets it), and every
output is checked after the timed region. The last line of
standard output is the result: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer ones with ``--trace 1``). The line before it records load,
environment, input sizes, pass times and any failed operation.

``--trace 1`` traces every timed pass: each call into a package module
runs under its own Spark job group and keeps a span for it; the spans
and per-operation plan fingerprints are written to ``.perfbench_out/``
when the run ends.

Seeds: 0 is the default (the fixture draw's 7/8 subset chosen by hash
seed 0, and the unpermuted catalog tables); 7 is held out, for
confirming a claimed gain on a seed not used while developing it.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END_UNITS = {
    "setup_s": "s",
    "run_s": "s",
    "peak_rss_mb": "MB",
    "success_rate": "ratio",
}


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    size: str
    corrupt: bool
    tracer: object


def unit_of(metric: str) -> str:
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("bytes"):
        return "bytes"
    return "count"


def _jvm_stop(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # the next session in this process launches a fresh gateway
    SparkContext._gateway = None
    SparkContext._jvm = None


def plan_fingerprints(ops: dict) -> dict:
    """Per operation: its plan fingerprint in each traced pass (its spans'
    counts summed) and whether all passes carry an equivalent plan."""
    from bench import fingerprints_equivalent

    out = {}
    for op, recs in ops.items():
        per_pass: dict[int, dict] = {}
        for r in recs:
            fp = r.get("fingerprint")
            if fp is None:
                continue
            acc = per_pass.setdefault(r["pass"], dict.fromkeys(fp, 0))
            for k, v in fp.items():
                acc[k] += v
        fps = [per_pass[p] for p in sorted(per_pass)]
        out[op] = {
            "fingerprints": fps,
            "equivalent_across_passes": all(
                fingerprints_equivalent(fps[0], f) for f in fps[1:]
            ),
        }
    return out


def run(workload: str, seed: int, seconds: float, trace: bool,
        size: str = "full", corrupt: bool = False) -> tuple[dict, dict]:
    """One benchmark run; returns (result, detail)."""
    from catalog_ops import CatalogOps
    from medallion import Medallion
    from taxi_data_pipeline_pset2_spark.session import get_spark
    from tracing import RssSampler, Tracer

    workloads = {w.name: w for w in (Medallion, CatalogOps)}
    cls = workloads[workload]
    run_id = f"{workload}-seed{seed}-{os.getpid()}"
    work = os.path.join(os.getcwd(), ".perfbench_work", run_id)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    heap = os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    load_before = os.getloadavg()[0]

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        extra_confs={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            # a fixed, pre-touched heap: the JVM's share of peak_rss_mb
            # is then the same in every run, not whenever G1 grew it;
            # no perf-data file outside the checkout
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Xms{heap} -XX:+AlwaysPreTouch -XX:-UsePerfData"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    spark_version = spark.version
    wl = None
    try:
        tracer = Tracer(spark, run_id)
        wl = cls(Ctx(spark, work, seed, size, corrupt, tracer))
        t0 = time.perf_counter()
        wl.land()
        land_s = time.perf_counter() - t0

        gc.collect()
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        outputs, passes = [], []
        with RssSampler([os.getpid(), int(jvm_pid)]) as rss:
            tracer.enabled = trace
            start = time.perf_counter()
            while not passes or time.perf_counter() - start < seconds:
                tracer.pass_no = len(passes)
                t0 = time.perf_counter()
                outputs.append(wl.run_pass())
                passes.append(time.perf_counter() - t0)
        tracer.enabled = False

        attempted, problems = wl.check(outputs)
        inputs = wl.inputs()
    finally:
        if wl is not None:
            wl.close()
        _jvm_stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    run_s = statistics.median(passes)
    if trace:
        spans = tracer.by_name()
        metrics = {
            "session.get_spark_s": session_s,
            "sources.taxi_fixtures.land_s": land_s if cls is Medallion else 0.0,
            "trace.overhead_s": tracer.overhead_s / len(passes),
        }
        for w in workloads.values():
            metrics.update(w.layer_metrics(spans if w is cls else {}))
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()}
    else:
        values = {
            "setup_s": session_s + land_s,
            "run_s": run_s,
            "peak_rss_mb": rss.peak_mb,
            "success_rate": (attempted - len(problems)) / attempted,
        }
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}

    detail = {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": int(trace),
        "size": size,
        "setup_parts_s": {"session": session_s, "land": land_s},
        "pass_s": passes,
        "error_rate": len(problems) / attempted,
        "problems": problems[:20],
        "inputs": inputs,
        "load": {"loadavg_1m_before": load_before, "loadavg_1m_after": os.getloadavg()[0]},
        "env": {
            "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "spark": spark_version,
            "python": platform.python_version(),
        },
    }
    if trace:
        path = os.path.join(os.getcwd(), ".perfbench_out", f"trace-{run_id}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {"spans": tracer.spans, "plans": plan_fingerprints(cls.plan_ops(spans))},
                f, indent=1, default=str,
            )
        detail["trace_file"] = os.path.relpath(path)
    result = {
        "correct": not problems,
        "attempted": attempted,
        "failed": len(problems),
        "metrics": metrics,
    }
    return result, detail


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["medallion_build", "catalog_ops"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    sys.path[:0] = [HERE, ROOT]
    try:  # the package and the repository helpers the benchmark imports
        import bench  # noqa: F401
        import taxi_data_pipeline_pset2_spark  # noqa: F401
        import tests.oracle_utils  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2
    result, detail = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
