"""Smoke self-test of the benchmark at tiny input.

    python3 perfbench/selftest.py

For each workload it makes one traced run and one untraced run with a
deliberately corrupted expected value (~3 minutes in all). It checks
that the result line has exactly the contract's keys, that every metric
``BENCHMARK.json`` names prints with its unit, that the clean run is
correct, and that the corrupted value is reported as a failed operation
rather than a crash. Exits 0 when all checks hold.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _check_metrics(result: dict, expected: list[dict], label: str) -> list[str]:
    errors = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{label}: result keys {sorted(result)}")
    got = result.get("metrics", {})
    for m in expected:
        if m["name"] not in got:
            errors.append(f"{label}: metric {m['name']} missing")
        elif got[m["name"]].get("unit") != m["unit"]:
            errors.append(f"{label}: {m['name']} unit {got[m['name']].get('unit')!r}")
    extra = set(got) - {m["name"] for m in expected}
    if extra:
        errors.append(f"{label}: unexpected metrics {sorted(extra)}")
    return errors


def main() -> int:
    sys.path[:0] = [HERE, ROOT]
    from run import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    errors: list[str] = []
    for w in spec["workloads"]:
        name = w["name"]
        clean, detail = run(name, seed=1, seconds=1, trace=True, size="tiny")
        errors += _check_metrics(clean, spec["per_layer"], f"{name} traced")
        if not clean["correct"] or clean["failed"]:
            errors.append(f"{name}: clean tiny run failed: {detail['problems'][:3]}")
        bad, detail = run(name, seed=1, seconds=1, trace=False, size="tiny", corrupt=True)
        errors += _check_metrics(bad, spec["end_to_end"], f"{name} corrupted")
        if bad["correct"] or bad["failed"] < 1 or bad["attempted"] <= bad["failed"]:
            errors.append(f"{name}: corrupted expected value not reported: {bad}")
        print(f"{name}: clean {clean['attempted']} ops ok, corrupted run "
              f"{bad['failed']}/{bad['attempted']} failed", flush=True)
    for e in errors:
        print("FAIL", e)
    print("selftest", "FAILED" if errors else "passed")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
