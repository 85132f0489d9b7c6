"""The one bounded driver fast path shared by the iterative operators.

pagerank, label propagation, kcore (operators/graph.py),
kmeans_fit_assign (operators/clustering.py), connected_components
(operators/components.py), bpe_learn and tokenize_bpe (operators/bpe.py)
each have a numpy/Python kernel that finishes a small input on the
driver in one Arrow collect, where the distributed loop would pay one
cluster round-trip per round. This module owns the whole decision, so
every one of them makes it the same way:

- the probe is ONE aggregate over ``df.limit(cap + 1)`` summing a
  per-row weight (default 1: a bounded row count). A weight >= 1 per
  row makes "sum <= cap" exact: an over-cap frame either has more than
  cap rows, and the limit alone already sums past cap, or it has fewer
  rows whose weights sum past cap. No payload bytes reach the driver
  until the frame is known to fit.
- over the cap, or inside ``distributed_only()``, ``bounded_arrow``
  returns None and the caller runs its distributed body;
- otherwise it returns ``df.toArrow()``. Zero rows give a zero-row
  table, never None, so every kernel must handle a zero-row table --
  the empty, all-NULL and self-loop-only inputs all arrive that way.

The helper never persists: callers pass the frame they already
materialize (persisted or locally checkpointed), so the probe and the
collect read it rather than recomputing its lineage. Each kernel keeps
the distributed body's exact semantics (tests/test_driver_path.py pins
both paths equal on degenerate inputs), so the cap is an execution
knob only; callers keep it as a module constant.
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_DISTRIBUTED_ONLY: ContextVar[bool] = ContextVar(
    "driver_path_distributed_only", default=False
)


@contextmanager
def distributed_only():
    """Force every operator called inside the block onto its distributed
    path (scale probes measure that path; tests pin it against the
    driver kernel). Context-local: other threads are unaffected."""
    token = _DISTRIBUTED_ONLY.set(True)
    try:
        yield
    finally:
        _DISTRIBUTED_ONLY.reset(token)


def bounded_arrow(df: DataFrame, cap: int, weight: Column | None = None):
    """``df`` as a pyarrow Table when the sum of ``weight`` (default 1
    per row; must be >= 1 per row) over it is at most ``cap``, else
    None. Inside ``distributed_only()`` always None, with no probe."""
    if _DISTRIBUTED_ONLY.get():
        return None
    w = F.lit(1) if weight is None else weight
    total = df.limit(cap + 1).agg(F.sum(w)).collect()[0][0]
    if (total or 0) > cap:
        return None
    return df.toArrow()
