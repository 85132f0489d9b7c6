"""Spans and resource sampling for the benchmark.

A span wraps one call from the benchmark into a package module. While a
span is open its Spark jobs run under their own job group, so the span
can read back its own job, task and byte counts afterwards through
``bench._plan_fingerprint``. Spans are kept in memory; ``run.py``
writes them out once, when the run ends.
"""

from __future__ import annotations

import statistics
import threading
import time
from contextlib import contextmanager

from bench import _plan_fingerprint


class Tracer:
    """Records spans (name, start, end, parent, run id) while ``enabled``.

    Disabled, ``span`` only yields ``None``, so the same pass body runs
    traced and untraced. ``overhead_s`` sums the time spent setting job
    groups and reading back fingerprints: what tracing adds to a pass."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.enabled = False
        self.pass_no = -1
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._stack: list[dict] = []

    def _set_group(self, rec: dict | None) -> None:
        sc = self.spark.sparkContext
        if rec is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(rec["group"], rec["name"])

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name,
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            "pass": self.pass_no,
        }
        rec["group"] = f"{self.run_id}:{rec['id']}"
        self.spans.append(rec)
        self._stack.append(rec)
        t0 = time.perf_counter()
        self._set_group(rec)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            rec["fingerprint"] = _plan_fingerprint(self.spark, rec["group"])
            self.overhead_s += time.perf_counter() - rec["end"]

    def by_name(self) -> dict[str, list[dict]]:
        out: dict[str, list[dict]] = {}
        for rec in self.spans:
            out.setdefault(rec["name"], []).append(rec)
        return out


def median_of(recs: list[dict], key) -> float:
    """Median over the traced passes of ``key(span)``; 0 if never traced."""
    vals = [key(r) for r in recs]
    return statistics.median(vals) if vals else 0.0


def fp_value(field: str):
    return lambda rec: (rec.get("fingerprint") or {}).get(field, 0)


def duration(rec: dict) -> float:
    return rec["end"] - rec["start"]


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class RssSampler:
    """Peak of (driver Python RSS + Spark JVM RSS), sampled every 20 ms
    while active. Sampling the sum, not each peak, gives the memory the
    two processes held at the same moment."""

    def __init__(self, pids: list[int], interval: float = 0.02):
        self.pids = pids
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        self.peak_mb = max(self.peak_mb, sum(_rss_mb(p) for p in self.pids))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self) -> "RssSampler":
        self._sample()
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()
