"""persist_scope(): the one owner of operator caches and checkpoints.

Each test already runs inside the autouse scope from ``conftest.py``; the
scopes opened here are nested in it, so "before" counts are taken inside
the test and compared after the inner scope exits.
"""

from __future__ import annotations

import contextvars
import threading

import pytest

from opteryx_spark.operators import dedup, lifetime
from opteryx_spark.operators.lifetime import persist_scope
from opteryx_spark.suite import load_all


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _pairs(spark):
    return spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "id1 long, id2 long")


_LABELS = {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}


def _docs(spark):
    rows = [(i, f"copy {i % 4} of the shared body text with several words") for i in range(16)]
    rows += [(100 + i, f"unique text {i} about topic {i * 7}") for i in range(6)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_scope_exit_in_one_thread_keeps_another_threads_checkpoints(spark, sf_dir):
    """Thread A holds an unmaterialized connected_components result while
    thread B runs the ``dedup_bloom_prefilter`` entry to completion in its
    own scope; A then collects the exact labels.  A process-global drain
    in B (the cause of the "Block rdd_... does not exist" bench crash)
    releases A's checkpoint blocks and fails A's collect."""
    entry = load_all()["dedup_bloom_prefilter"]
    a_built, b_done = threading.Event(), threading.Event()
    labels, errors = {}, []

    def thread_a():
        try:
            with persist_scope():
                out = dedup.connected_components(_pairs(spark))
                a_built.set()
                assert b_done.wait(timeout=600), "thread B did not finish"
                labels.update({r.node: r.comp for r in out.collect()})
        except BaseException as exc:  # noqa: BLE001 — reported below
            errors.append(("A", exc))
        finally:
            a_built.set()

    def thread_b():
        try:
            assert a_built.wait(timeout=600), "thread A did not build"
            with persist_scope():
                assert entry.spark(spark, sf_dir).collect()
        except BaseException as exc:  # noqa: BLE001 — reported below
            errors.append(("B", exc))
        finally:
            b_done.set()

    threads = [threading.Thread(target=thread_a), threading.Thread(target=thread_b)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=900)
    assert not errors, errors
    assert labels == _LABELS


@pytest.mark.parametrize(
    "case",
    ["fuzzy_dedup_exemplar", "fuzzy_dedup_member", "connected_components", "web_domain_pagerank"],
)
def test_scope_exit_returns_persisted_rdds_to_entry_value(spark, sf_dir, case):
    """Everything an operator persists or checkpoints inside a scope is
    released when the scope exits, and nothing else is."""
    run = {
        "fuzzy_dedup_exemplar": lambda: dedup.fuzzy_dedup(_docs(spark), unique_texts=True),
        "fuzzy_dedup_member": lambda: dedup.fuzzy_dedup(_docs(spark), unique_texts=False),
        "connected_components": lambda: dedup.connected_components(_pairs(spark)),
        "web_domain_pagerank": lambda: load_all()["web_domain_pagerank"].spark(spark, sf_dir),
    }[case]
    before = _persisted(spark)
    with persist_scope():
        assert run().collect()
        assert _persisted(spark) > before  # the case really pins something
    assert _persisted(spark) == before


def test_nested_scope_releases_only_what_it_owns(spark):
    with persist_scope():
        outer = lifetime.persist(spark.range(5).selectExpr("id * 2 AS x"))
        outer.collect()
        labels = dedup.connected_components(_pairs(spark))  # not materialized
        with persist_scope():
            inner = lifetime.persist(spark.range(7).selectExpr("id * 3 AS y"))
            inner.collect()
            shifted = _pairs(spark).selectExpr("id1 + 10 AS id1", "id2 + 10 AS id2")
            dedup.connected_components(shifted).collect()
        assert not inner.storageLevel.useMemory
        assert outer.storageLevel.useMemory
        assert {r.node: r.comp for r in labels.collect()} == _LABELS
    assert not outer.storageLevel.useMemory


def test_scope_releases_on_exception(spark):
    chain = spark.createDataFrame([(i, i + 1) for i in range(6)], "id1 long, id2 long")
    before = _persisted(spark)
    with pytest.raises(RuntimeError, match="did not converge"):
        with persist_scope():
            frame = lifetime.persist(spark.range(9).selectExpr("id + 1 AS v"))
            frame.collect()
            dedup.connected_components(chain, max_iter=2)
    assert not frame.storageLevel.useMemory
    assert _persisted(spark) == before


def test_unscoped_calls_register_nothing(spark):
    """Outside any scope persist()/checkpoint() behave like plain Spark:
    a scope exiting around them (here, the caller's) releases nothing."""

    def unscoped():
        frame = lifetime.persist(spark.range(3).selectExpr("id + 11 AS z"))
        frame.collect()
        out, handle = lifetime.checkpoint(spark.range(4).selectExpr("id + 13 AS z"))
        return frame, out, handle

    with persist_scope():
        frame, out, handle = contextvars.Context().run(unscoped)  # empty context
    try:
        assert frame.storageLevel.useMemory
        assert sorted(r.z for r in out.collect()) == [13, 14, 15, 16]
    finally:
        frame.unpersist()
        handle.unpersist()


def test_checkpoint_result_survives_many_persists_in_scope(spark):
    """A checkpoint-backed result stays collectable however many frames
    are persisted after it in the same scope."""
    with persist_scope():
        out = dedup.connected_components(_pairs(spark))  # not materialized
        for i in range(8):
            lifetime.persist(spark.range(i + 1, i + 3)).collect()
        assert {r.node: r.comp for r in out.collect()} == _LABELS
