"""Both paths of the iterative operators: the bounded driver fast path
and the distributed fixpoint loop.

pagerank, label propagation, kcore (operators/graph.py),
kmeans_fit_assign (operators/clustering.py), connected_components
(operators/components.py), bpe_learn and tokenize_bpe (operators/bpe.py)
each have a numpy/Python kernel that finishes a small input on the
driver in one Arrow collect, where the distributed loop would pay one
cluster round-trip per round. This module owns the decision, the
materialization it rests on, and the distributed loop the large inputs
run, so every operator does each the same way.

The decision, ``bounded_arrow``:

- it local-checkpoints the frame ONCE, with an ``Observation`` summing a
  per-row weight (default 1: the row count) over that same write. The
  total covers the whole frame, so the decision needs no probe job;
  zero rows sum to NULL, read as 0.
- over the cap, or inside ``distributed_only()``, it returns
  ``(checkpoint, None)`` and the caller hands the checkpoint to its
  distributed body, which therefore never recomputes the input's
  lineage and needs no persist/unpersist of its own;
- otherwise it returns ``(checkpoint, checkpoint.toArrow())``. Zero rows
  give a zero-row table, never None, so every kernel must handle a
  zero-row table -- the empty, all-NULL and self-loop-only inputs all
  arrive that way.

The loop, ``iterate``: each operator supplies only its step (one round,
state -> state) and its cadence; the loop owns lineage, convergence and
failure:

- cadence: every round's frame is local-checkpointed, so a round's
  plan starts from the previous round's data and never grows. Every
  ``checkpoint_every``-th round (and the last of ``max_rounds``) is
  eager: its job runs at once. The rounds between are lazy: their
  exchanges still run at once (AQE plans the whole query), but their
  last stage is written by the first job that reads it, so it costs no
  job of its own and is computed once however often the next round
  reads it. (A persisted round would cost a job: AQE materializes a
  cache as a separate query stage.) Superseded checkpoints are freed by
  Spark's context cleaner once their frames are dropped;
- convergence: a ``fingerprint`` aggregate is observed on each
  checkpoint write, so detecting the fixpoint costs no job. The loop
  stops at the first checkpoint whose fingerprint equals the previous
  one (the initial state's included, which is checkpointed for it);
- failure: a fingerprinted loop that exhausts ``max_rounds`` raises
  ``NotConverged`` instead of returning interim values;
- a step that returns None ends the loop normally (an operator's own
  stop rule, e.g. bpe's ``min_count``);
- each loop appends one ``Rounds`` record to the ``rounds_log()`` open
  in the caller's context (kcore's driver kernel appends the same).

Observation hazards (Spark 4.1): ``Observation.get`` is read only after
the checkpoint action has returned. When the action fails, ``get`` does
not raise but returns the metrics of whatever ran (zeros, or a partial
total), which would select the driver path on a broken input or end a
loop early -- so a failed evaluation must raise out of the checkpoint
before ``get`` is reached. An Observation is single-use, so each write
makes its own.

Each kernel keeps the distributed body's exact semantics
(tests/test_driver_path.py pins both paths equal on degenerate inputs),
so the cap is an execution knob only; callers keep it as a module
constant.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from contextvars import ContextVar
from typing import Callable, NamedTuple

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


def _checkpoint(df: DataFrame, metric: Column | None):
    """``(df local-checkpointed, the aggregate metric observed on that
    write)``; the metric is None when none is given. The one observed
    write behind both the fast-path decision and the loop's
    convergence."""
    if metric is None:
        return df.localCheckpoint(), None
    observed = Observation()
    frame = df.observe(observed, metric.alias("metric")).localCheckpoint()
    # only read once the checkpoint has returned (see module docstring)
    return frame, observed.get["metric"]


def bounded_arrow(df: DataFrame, cap: int, weight: Column | None = None):
    """``(materialized, table)``: ``df`` local-checkpointed once, and
    that checkpoint as a pyarrow Table when the sum of ``weight``
    (default 1 per row) over it is at most ``cap``, else None. Inside
    ``distributed_only()`` the table is always None."""
    frame, total = _checkpoint(df, F.sum(F.lit(1) if weight is None else weight))
    if _DISTRIBUTED_ONLY.get() or (total or 0) > cap:
        return frame, None
    return frame, frame.toArrow()


class NotConverged(RuntimeError):
    """An iterative operator exhausted its round budget before reaching
    its fixpoint; its interim values would be wrong, so none are
    returned."""

    def __init__(self, op: str, rounds: int):
        super().__init__(f"{op} did not converge in {rounds} rounds")
        self.op = op
        self.rounds = rounds


class Rounds(NamedTuple):
    """One loop's record: rounds run (the round that detected the stop
    included), whether it reached its stop rule, and its wall time."""

    op: str
    rounds: int
    converged: bool
    seconds: float


_ROUNDS_LOG: ContextVar[list | None] = ContextVar(
    "driver_path_rounds_log", default=None
)


@contextmanager
def rounds_log():
    """Collect a ``Rounds`` record for every ``iterate`` loop (and
    kcore's driver kernel) run inside the block. Context-local, like
    ``distributed_only``."""
    log: list[Rounds] = []
    token = _ROUNDS_LOG.set(log)
    try:
        yield log
    finally:
        _ROUNDS_LOG.reset(token)


def record_rounds(op: str, rounds: int, converged: bool, seconds: float) -> None:
    """Append one loop's record to the open ``rounds_log()``, if any."""
    log = _ROUNDS_LOG.get()
    if log is not None:
        log.append(Rounds(op, rounds, converged, seconds))


def iterate(
    op: str,
    state0: DataFrame,
    step: Callable[[DataFrame], DataFrame | None],
    *,
    max_rounds: int,
    checkpoint_every: int = 1,
    fingerprint: Column | None = None,
) -> DataFrame:
    """Run ``step`` from ``state0`` for at most ``max_rounds`` rounds and
    return the final state (see the module docstring for the rules).

    Without ``fingerprint`` the loop runs its rounds and the last one is
    checkpointed eagerly. With it, ``state0`` is checkpointed too and
    the loop returns the first checkpoint whose fingerprint repeats, or
    raises ``NotConverged``. When ``step`` returns None the loop returns
    the state that step read."""
    t0 = time.perf_counter()
    rounds, converged = 0, False
    try:
        state, prev = state0, None
        if fingerprint is not None:
            state, prev = _checkpoint(state0, fingerprint)
        while rounds < max_rounds:
            rounds += 1
            nxt = step(state)
            if nxt is None:
                converged = True
                break
            if rounds % checkpoint_every and rounds < max_rounds:
                state = nxt.localCheckpoint(eager=False)
                continue
            state, fp = _checkpoint(nxt, fingerprint)
            if fingerprint is not None and fp == prev:
                converged = True
                break
            prev = fp
        else:
            converged = fingerprint is None
        if not converged:
            raise NotConverged(op, rounds)
        return state
    finally:
        record_rounds(op, rounds, converged, time.perf_counter() - t0)
