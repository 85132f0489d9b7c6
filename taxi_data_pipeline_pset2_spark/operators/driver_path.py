"""The one bounded driver fast path shared by the iterative operators.

pagerank, label propagation, kcore (operators/graph.py),
kmeans_fit_assign (operators/clustering.py), connected_components
(operators/components.py), bpe_learn and tokenize_bpe (operators/bpe.py)
each have a numpy/Python kernel that finishes a small input on the
driver in one Arrow collect, where the distributed loop would pay one
cluster round-trip per round. This module owns the whole decision and
the materialization it rests on, so every one of them makes it the same
way:

- ``bounded_arrow`` local-checkpoints the frame ONCE, with an
  ``Observation`` summing a per-row weight (default 1: the row count)
  over that same write. The total covers the whole frame, so the
  decision needs no probe job; zero rows sum to NULL, read as 0.
- over the cap, or inside ``distributed_only()``, it returns
  ``(checkpoint, None)`` and the caller hands the checkpoint to its
  distributed body, which therefore never recomputes the input's
  lineage and needs no persist/unpersist of its own;
- otherwise it returns ``(checkpoint, checkpoint.toArrow())``. Zero rows
  give a zero-row table, never None, so every kernel must handle a
  zero-row table -- the empty, all-NULL and self-loop-only inputs all
  arrive that way.

Observation hazards (Spark 4.1): ``Observation.get`` is read only after
the checkpoint action has returned. When the action fails, ``get`` does
not raise but returns the metrics of whatever ran (zeros, or a partial
total), which would select the driver path on a broken input -- so a
failed evaluation must raise out of the checkpoint before ``get`` is
reached. An Observation is single-use, so each call makes its own.

Each kernel keeps the distributed body's exact semantics
(tests/test_driver_path.py pins both paths equal on degenerate inputs),
so the cap is an execution knob only; callers keep it as a module
constant.
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import Column, DataFrame, Observation
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
    """``(materialized, table)``: ``df`` local-checkpointed once, and
    that checkpoint as a pyarrow Table when the sum of ``weight``
    (default 1 per row) over it is at most ``cap``, else None. Inside
    ``distributed_only()`` the table is always None."""
    observed = Observation()
    w = F.lit(1) if weight is None else weight
    frame = df.observe(observed, F.sum(w).alias("total")).localCheckpoint()
    # only read once the checkpoint has returned (see module docstring)
    if _DISTRIBUTED_ONLY.get() or (observed.get["total"] or 0) > cap:
        return frame, None
    return frame, frame.toArrow()
