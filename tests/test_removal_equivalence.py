"""Equivalence witness for the r11 removal-effect attribution rewrite.

BENCH r11 measured ``events_attribution_removal`` at ~3.9 s/sf0.1 with the
cost dominated by 12 driver-sequential checkpoint rounds over a
transition matrix of a few hundred rows (O(|channel vocabulary|²) no
matter the corpus size).  r11 collects that matrix once and runs the
exact integer scenario iteration on the driver
(``events._removal_effect_exact`` — the same bounded-frame rule as the
mmr_rerank fix).  These tests pin that the driver route is value-for-
value identical to the distributed formulation
(``events._removal_effect_spark_loop``, retained as the
over-vocabulary-cap fallback) across randomized journey corpora and the
degenerate edges (no journeys, zero-touch converters, all-zero effects,
a channel literally named "(none)").
"""

from __future__ import annotations

import pytest

import random

from pyspark.sql import functions as F

from opteryx_spark.operators import events as _events
from opteryx_spark.operators.lifetime import persist_scope


def _spark_route(spark, transitions, rounds):
    counts = spark.createDataFrame(
        [(fi, tj, c) for fi, tj, c in transitions],
        "fi string, tj string, c long",
    )
    with persist_scope():  # each call releases its own checkpoints
        rows = _events._removal_effect_spark_loop(counts, rounds).collect()
    return sorted(
        (
            r.channel,
            r.p_full_ppm,
            r.p_removed_ppm,
            r.removal_effect_ppm,
            r.share_ppm,
        )
        for r in rows
    )


def _driver_route(transitions, rounds):
    return sorted(
        _events._removal_effect_exact(list(transitions), rounds)
    )


def test_removal_exact_matches_spark_loop_randomized(spark):
    rng = random.Random(0xA77B111)
    for trial in range(4):
        chans = [f"ch{i}" for i in range(rng.randint(1, 5))]
        states_from = ["START"] + chans
        states_to = chans + ["CONV", "DROP"]
        transitions = []
        for fi in states_from:
            for tj in states_to:
                if rng.random() < 0.6:
                    transitions.append((fi, tj, rng.randint(1, 500)))
        if not transitions:
            transitions = [("START", "CONV", 3)]
        rounds = rng.choice([2, 5, 12])
        fast = _driver_route(transitions, rounds)
        slow = _spark_route(spark, transitions, rounds)
        assert fast == slow, (trial, rounds, fast, slow)


@pytest.mark.slow  # edge battery (~1 min); the randomized twin stays in the fast tier
def test_removal_exact_edges(spark):
    # zero-touch converters only: START->CONV, no channels at all
    t = [("START", "CONV", 7)]
    assert _driver_route(t, 12) == _spark_route(spark, t, 12) == []
    # one channel, never converting: effects all 0 -> share_ppm NULL
    t = [("START", "a", 5), ("a", "DROP", 5)]
    fast = _driver_route(t, 12)
    assert fast == _spark_route(spark, t, 12)
    assert fast == [("a", 0, 0, 0, None)]
    # a channel literally named "(none)": the distributed tag union
    # doubles that scenario's counts (c and sum(c) scale together, so
    # p_ppm is unchanged) and eff excludes the channel from the output
    # on both routes
    t = [
        ("START", "(none)", 4),
        ("(none)", "b", 4),
        ("b", "CONV", 3),
        ("b", "DROP", 1),
        ("START", "b", 2),
    ]
    fast = _driver_route(t, 12)
    slow = _spark_route(spark, t, 12)
    assert fast == slow
    assert [r[0] for r in fast] == ["b"]  # "(none)" channel excluded


def test_removal_operator_uses_driver_route_end_to_end(spark):
    """The public operator on a small journey corpus returns the exact
    driver-route values (cap not exceeded) with the original schema."""
    rows = []
    eid = 0
    for u in range(30):
        for step, et in enumerate(["ads", "email", "ads"][: 1 + u % 3]):
            rows.append((u, f"2024-01-0{1 + step}", eid, et))
            eid += 1
        if u % 2 == 0:
            rows.append((u, "2024-01-09", eid, "purchase"))
            eid += 1
    df = spark.createDataFrame(
        rows, "user_id long, ts string, event_id long, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = _events.removal_effect_attribution(df, rounds=12)
    assert out.columns == [
        "channel",
        "p_full_ppm",
        "p_removed_ppm",
        "removal_effect_ppm",
        "share_ppm",
    ]
    got = {r.channel: r for r in out.collect()}
    assert set(got) == {"ads", "email"}
    # intact-chain probability is the same on every row and positive here
    pf = {r.p_full_ppm for r in got.values()}
    assert len(pf) == 1 and pf.pop() > 0
