"""Equivalence witness for the r11 MMR greedy-stage rewrite.

BENCH r10 flagged ``emb_mmr_rerank`` at 17 s/sf0.1: the greedy stage ran
k sequential ``.first()`` Spark jobs over an already-bounded candidate
frame.  r11 collects the frame once and runs the exact integer selection
on the driver (``retrieval._mmr_greedy``).  These tests pin that the new
route is pick-for-pick, score-for-score identical to the pre-r11
Spark-loop formulation (``retrieval._mmr_select_spark_loop``, retained
only as this witness) across adversarial integer pools — including
all-negative dot products, where a 0-floor on max-sim-to-selected would
silently diverge.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from opteryx_spark.operators import retrieval


def _spark_loop(spark, pool, lam, k):
    cand = spark.createDataFrame(
        [(pid, rel, vec) for pid, rel, vec in pool],
        "_id long, _rel long, _qv array<long>",
    )
    return retrieval._mmr_select_spark_loop(cand, lam, k)


def test_mmr_greedy_matches_spark_loop_randomized(spark):
    rng = random.Random(0x5EED11)
    for trial in range(6):
        dim = rng.choice([3, 8])
        n = rng.randint(5, 18)
        # signed components so dots to selected go negative; duplicate
        # rel values so id tiebreaks are exercised
        pool = [
            (
                pid,
                rng.choice([500, 750, 750, 1000]),
                [rng.randint(-40, 40) for _ in range(dim)],
            )
            for pid in range(n)
        ]
        lam = rng.choice([0, 30, 50, 70, 100])
        k = rng.randint(1, min(6, n))
        fast = retrieval._mmr_greedy(pool, lam, k)
        slow = _spark_loop(spark, pool, lam, k)
        assert fast == slow, (trial, lam, k, fast, slow)


def test_mmr_greedy_negative_dots_no_zero_floor(spark):
    # Two opposite vectors: after picking id 0, the dot to id 1 is
    # negative; the penalty term must use that negative value (boosting
    # id 1), not a 0 floor.
    pool = [
        (0, 1000, [10, 0]),
        (1, 400, [-10, 0]),
        (2, 990, [10, 1]),
    ]
    fast = retrieval._mmr_greedy(pool, 50, 3)
    slow = _spark_loop(spark, pool, 50, 3)
    assert fast == slow
    # with lam=50 after picking 0: score(1) = 50*400 - 50*(-100) = 25000;
    # score(2) = 50*990 - 50*100 = 44500 -> 2 second, but 1's negative
    # dot contributed POSITIVELY (25000 > 50*400 - 0)
    assert fast[0][0] == 0 and fast[1][0] == 2 and fast[2][0] == 1
    assert fast[2][2] == 50 * 400 - 50 * (-100)


def test_mmr_rerank_single_job(spark):
    """The public operator runs ONE Spark job for the whole rerank."""
    rows = [(i, [float(i % 7) / 7.0, float(i % 3) / 3.0]) for i in range(1, 40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    res = retrieval.mmr_rerank(df, [1.0, 0.2], k=5, candidates=12)
    # the greedy selection already ran (it is driver-side); only the
    # bounded top-k candidate collect hit the cluster.  The returned
    # frame is a lazy local-rows createDataFrame.
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after - before <= 1, f"expected 1 job, saw {after - before}"
    assert len(res.collect()) == 5
