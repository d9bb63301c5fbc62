"""Cache lifetime for operator intermediates: one explicit scope.

Operators ``persist()`` frames that feed several plan branches and
``localCheckpoint()`` the rounds of iterative algorithms.  Both pin
executor memory until someone releases them, and the results an operator
returns are lazy and may still read those blocks.  So an operator never
releases what it hands back; the caller decides how long it lives:

    with persist_scope():
        rows = dedup.fuzzy_dedup(docs).collect()   # materialize inside
    # every frame persisted and every checkpoint taken above is released

:func:`persist` and :func:`checkpoint` register what they create in the
innermost open scope of the current context (a ``contextvars`` variable,
so each thread and each asyncio task sees only its own scopes).  On exit,
including exit by exception, the scope unpersists everything it owns,
newest first.  A nested scope releases only what it owns.  Outside any
scope nothing is registered: the result behaves like a plain Spark
``persist()`` and stays cached until the session ends or the caller
unpersists it.

Two concurrent scopes never share checkpoint blocks (each owns the RDD
ids its own calls created), so one thread's exit cannot break another
thread's unmaterialized result.  Persisted frames are different: Spark's
CacheManager keeps one entry per distinct plan, so a scope that exits
can un-cache a plan another live scope persisted too.  That costs the
other scope a recompute, never a wrong result.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame

_OWNED: ContextVar[list | None] = ContextVar("opteryx_persist_scope", default=None)


@contextmanager
def persist_scope() -> Iterator[None]:
    """Own every :func:`persist` / :func:`checkpoint` made inside the block
    and release them on exit, newest first.  Materialize results inside:
    a localCheckpoint-backed frame cannot be recomputed once released."""
    owned: list = []
    token = _OWNED.set(owned)
    try:
        yield
    finally:
        _OWNED.reset(token)
        while owned:
            try:
                owned.pop().unpersist()
            except Exception:
                pass  # context stopped — nothing left to release


def _own(obj):
    owned = _OWNED.get()
    if owned is not None:
        owned.append(obj)
    return obj


def persist(df: DataFrame) -> DataFrame:
    """``df.persist()``, owned by the current scope (if any)."""
    return _own(df.persist())


class CheckpointHandle:
    """unpersist()-able handle over the RDD blocks a ``localCheckpoint``
    pinned.  ``DataFrame.unpersist()`` does not release checkpoint RDDs
    (they are internal, not the cached plan), so they are released by id.
    Releasing twice is a no-op."""

    def __init__(self, sc, rdd_ids):
        self._sc, self._ids = sc, list(rdd_ids)

    def unpersist(self) -> None:
        try:
            jmap = self._sc._jsc.getPersistentRDDs()
            for rid in self._ids:
                if jmap.containsKey(rid):
                    jmap.get(rid).unpersist()
        except Exception:
            pass  # context stopped — nothing left to release


def checkpoint(df: DataFrame) -> tuple[DataFrame, CheckpointHandle]:
    """``localCheckpoint()`` plus a handle that releases its RDD blocks,
    owned by the current scope (if any).  Iterative operators release a
    superseded round early with ``handle.unpersist()``; the scope's own
    release of it later is then a no-op.

    The pinned RDD id is read off the returned frame's own plan (a
    ``LogicalRDD`` wrapping exactly the checkpointed RDD), not a
    before/after diff of the context-wide persistent-RDD map — a global
    diff would swallow concurrent persists from other driver threads and
    wrongly release them.
    """
    sc = df.sparkSession.sparkContext
    out = df.localCheckpoint()
    try:
        ids = [out._jdf.queryExecution().analyzed().rdd().id()]
    except Exception:  # plan shape changed across Spark versions — leak,
        ids = []  # never release someone else's blocks
    return out, _own(CheckpointHandle(sc, ids))
