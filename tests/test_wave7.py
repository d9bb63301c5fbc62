"""Unit + plan tests for the round-6 seventh wave: SCD-2 history, CDC
snapshot diff, BPE apply, attribution, anomaly flags, quantile binning,
correlation matrix, triangle counting, MMR re-ranking and the bigram
perplexity gate."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from opteryx_spark.plans import explain_text


def _ts(s):
    return dt.datetime.fromisoformat(s)


# --- SCD-2 history -------------------------------------------------------------


def test_scd2_history_collapses_runs(spark):
    from opteryx_spark.operators import events

    rows = [
        (1, _ts("2024-01-01T00:00:00"), 10, "A", 1.0, None),
        (2, _ts("2024-01-01T01:00:00"), 10, "A", 1.0, None),
        (3, _ts("2024-01-01T02:00:00"), 10, "B", 1.0, None),
        (4, _ts("2024-01-01T03:00:00"), 10, "A", 1.0, None),
        (5, _ts("2024-01-01T00:30:00"), 11, None, 1.0, None),  # NULL state run
        (6, _ts("2024-01-01T01:30:00"), 11, "C", 1.0, None),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    out = events.scd2_history(ev).orderBy("user_id", "version").collect()
    u10 = [r for r in out if r.user_id == 10]
    assert [r.state for r in u10] == ["A", "B", "A"]
    assert [r.version for r in u10] == [1, 2, 3]
    # interval chain: each valid_to equals the next valid_from; last open
    assert u10[0].valid_to_us == u10[1].valid_from_us
    assert u10[1].valid_to_us == u10[2].valid_from_us
    assert u10[2].valid_to_us is None and u10[2].is_current
    assert not u10[0].is_current and not u10[1].is_current
    u11 = [r for r in out if r.user_id == 11]
    assert [r.state for r in u11] == [None, "C"]  # NULL is a real state


# --- CDC snapshot diff -----------------------------------------------------------


def test_snapshot_diff_classifies_and_distinguishes_null_from_empty(spark):
    from opteryx_spark.operators import scale

    old = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 2), (3, None, 3), (4, "same", 4)],
        "id long, v string, w long",
    )
    new = spark.createDataFrame(
        [(2, "b2", 2), (3, "", 3), (4, "same", 4), (5, "new", 5)],
        "id long, v string, w long",
    )
    out = {r.id: r.op for r in scale.snapshot_diff(old, new, ["id"]).collect()}
    assert out == {1: "delete", 2: "update", 3: "update", 5: "insert"}
    with pytest.raises(ValueError):
        scale.snapshot_diff(old, new, [])


# --- BPE apply -------------------------------------------------------------------


def test_bpe_encode_counts_applies_merges(spark):
    from opteryx_spark.operators import text

    docs = spark.createDataFrame(
        [(1, "abab ab"), (2, "xyz"), (3, None), (4, "")],
        "doc_id long, text string",
    )
    # merge (a,b) then (ab,ab): "abab" -> [ab, ab] -> [abab] = 1 symbol;
    # "ab" -> 1 symbol; "xyz" stays 3 singles
    out = {
        r.doc_id: r.n_bpe
        for r in text.bpe_encode_counts(
            docs, [("a", "b"), ("ab", "ab")]
        ).collect()
    }
    assert out == {1: 2, 2: 3, 3: 0, 4: 0}


# --- attribution -----------------------------------------------------------------


def test_attribution_last_touch_and_direct(spark):
    from opteryx_spark.operators import events

    rows = [
        # u1: click then purchase 10min later -> click channel
        (1, _ts("2024-01-01T00:00:00"), 1, "click", None, None),
        (2, _ts("2024-01-01T00:10:00"), 1, "purchase", 5.0, None),
        # u2: view 10 DAYS before purchase -> outside lookback -> direct
        (3, _ts("2024-01-01T00:00:00"), 2, "view", None, None),
        (4, _ts("2024-01-11T00:00:00"), 2, "purchase", 7.0, None),
        # u3: NULL-type event then purchase -> NULL type is not a touch
        (5, _ts("2024-01-01T00:00:00"), 3, None, None, None),
        (6, _ts("2024-01-01T00:05:00"), 3, "purchase", None, None),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    out = {
        r.channel: (r.n_conversions, r.total_value)
        for r in events.attribute_conversions(ev, lookback_minutes=60).collect()
    }
    assert out["click"] == (1, 5.0)
    assert out["direct"][0] == 2  # u2 (stale touch) + u3 (no touch)
    assert out["direct"][1] == 7.0  # NULL-valued conversion adds nothing


# --- anomaly flags ---------------------------------------------------------------


def test_anomaly_flags_spike_and_minimum_history(spark):
    from opteryx_spark.operators import events

    base = [
        (i, _ts(f"2024-01-01T00:{i:02d}:00"), 1, "m", 10.0 + (i % 2) * 0.2, None)
        for i in range(10)
    ]
    spike = [(99, _ts("2024-01-01T00:59:00"), 1, "m", 500.0, None)]
    ev = spark.createDataFrame(
        base + spike,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    out = {r.event_id: r for r in events.detect_value_anomalies(ev).collect()}
    assert out[99].is_anomaly
    # first min_points events can never flag (insufficient history)
    for i in range(5):
        assert not out[i].is_anomaly
    # steady alternation is inside 3 sigma
    assert not any(out[i].is_anomaly for i in range(5, 10))


def test_anomaly_zero_variance_history_flags_any_deviation(spark):
    from opteryx_spark.operators import events

    rows = [
        (i, _ts(f"2024-01-01T00:{i:02d}:00"), 1, "m", 10.0, None) for i in range(6)
    ] + [(7, _ts("2024-01-01T00:30:00"), 1, "m", 10.001, None)]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    out = {r.event_id: r.is_anomaly for r in events.detect_value_anomalies(ev).collect()}
    assert out[7] is True


# --- quantile binning ------------------------------------------------------------


def test_quantile_bin_equal_frequency(spark):
    from opteryx_spark.operators import features

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 101)] + [(999, None)],
        "id long, v double",
    )
    out = features.quantile_bin(df, "v", k=4)
    counts = (
        out.filter(F.col("v").isNotNull()).groupBy("bin").count().collect()
    )
    assert {r.bin: r["count"] for r in counts} == {0: 25, 1: 25, 2: 25, 3: 25}
    assert out.filter(F.col("id") == 999).first().bin is None
    with pytest.raises(ValueError):
        features.quantile_bin(df, "v", k=1)


def test_quantile_bin_plan_broadcast_no_sort(spark, sf_dir):
    from opteryx_spark.operators import features

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_extendedprice"
    )
    text = explain_text(features.quantile_bin(li, "l_extendedprice", k=10))
    assert "BroadcastNestedLoopJoin" in text or "BroadcastExchange" in text
    assert "rangepartitioning" not in text.lower()  # no global sort / rank window


# --- correlation matrix ----------------------------------------------------------


def test_correlation_matrix_known_values(spark):
    from opteryx_spark.operators import profile

    df = spark.createDataFrame(
        [(float(i), 2.0 * i, -3.0 * i, 5.0) for i in range(1, 50)],
        "a double, b double, c double, d double",
    )
    out = {
        (r.col_x, r.col_y): r.corr
        for r in profile.correlation_matrix(df, ["a", "b", "c", "d"]).collect()
    }
    assert out[("a", "b")] == pytest.approx(1.0, abs=1e-9)
    assert out[("a", "c")] == pytest.approx(-1.0, abs=1e-9)
    assert out[("a", "d")] is None  # zero variance -> NULL
    with pytest.raises(ValueError):
        profile.correlation_matrix(df, ["a"])


def test_correlation_matrix_single_scan(spark, sf_dir):
    from opteryx_spark.operators import profile

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    text = explain_text(
        profile.correlation_matrix(li, ["l_quantity", "l_extendedprice", "l_tax"])
    )
    # ONE aggregate pass: a per-pair union would scan once per pair
    # (formatted explain shows each physical scan once in the tree and
    # once in the details section — one scan node == one Location line)
    assert text.count("Location: InMemoryFileIndex") == 1
    assert "CartesianProduct" not in text


# --- triangle counting -----------------------------------------------------------


def test_triangle_counts_k4_and_canonicalization(spark):
    from opteryx_spark.operators import web

    k4 = [(a, b) for a in range(4) for b in range(4) if a != b]  # both directions
    edges = spark.createDataFrame(k4 + [(0, 0), (None, 1)], "src int, dst int")
    out = {r.node: r.n_triangles for r in web.triangle_counts(edges).collect()}
    # K4 has 4 triangles; each node lies on exactly 3
    assert out == {0: 3, 1: 3, 2: 3, 3: 3}


def test_triangle_plan_no_cartesian(spark, sf_dir):
    from opteryx_spark.operators import web

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    edges = docs.select(
        (F.col("doc_id") % 211).alias("src"),
        ((F.col("doc_id") * 31 + 7) % 211).alias("dst"),
    )
    text = explain_text(web.triangle_counts(edges))
    assert "CartesianProduct" not in text


# --- MMR re-ranking --------------------------------------------------------------


def test_mmr_prefers_diverse_over_redundant(spark):
    from opteryx_spark.operators import retrieval

    # v1 and v2 nearly identical and most relevant; v3 orthogonal-ish.
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [0.5, 0.5, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = retrieval.mmr_rerank(
        df, [1.0, 0.1, 0.0], k=3, candidates=4, lambda_pct=50
    ).collect()
    picks = [r.vec_id for r in out]
    assert picks[0] == 1  # pure relevance first
    assert picks[1] == 3  # diversity beats the near-duplicate 2
    assert [r["rank"] for r in out] == [1, 2, 3]
    with pytest.raises(ValueError):
        retrieval.mmr_rerank(df, [1.0, 0.0, 0.0], k=5, candidates=3)


# --- bigram perplexity -----------------------------------------------------------


def test_bigram_perplexity_contract(spark):
    from opteryx_spark.operators import filtering

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a"), (3, None), (4, "c c c c c c")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in filtering.bigram_perplexity(docs).collect()}
    assert out[1].n_bigrams == 3
    assert out[2].n_bigrams == 0 and not out[2].passes_perplexity
    assert out[3].n_bigrams == 0 and not out[3].passes_perplexity
    # the repetitive doc's c->c transition is near-certain => low cost
    assert out[4].avg_nll_millinats < out[1].avg_nll_millinats


def test_bigram_perplexity_plan_no_cartesian(spark, sf_dir):
    from opteryx_spark.operators import filtering

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    text = explain_text(filtering.bigram_perplexity(docs))
    assert "CartesianProduct" not in text
    assert "rangepartitioning" not in text.lower()


# --- SCD2 / attribution / anomaly plan shapes -------------------------------------


def test_scd2_and_anomaly_plans_no_cartesian(spark, sf_dir):
    from opteryx_spark.operators import events

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    for df in (
        events.scd2_history(ev),
        events.detect_value_anomalies(ev),
        events.attribute_conversions(ev),
    ):
        text = explain_text(df)
        assert "CartesianProduct" not in text
        assert "rangepartitioning" not in text.lower()


# --- streaming anomaly twin --------------------------------------------------------


def test_anomaly_stream_matches_batch(spark, sf_dir, tmp_path_factory):
    """Drained availableNow over in-order input, the stateful stream must
    emit exactly the batch trailing-window flags (pure-integer test — no
    rounding to replay)."""
    from opteryx_spark import streaming
    from opteryx_spark.catalog import load_table
    from opteryx_spark.operators import events as E

    src = str(tmp_path_factory.mktemp("oxs_anom_src"))
    out = str(tmp_path_factory.mktemp("oxs_anom_out"))
    ckpt = str(tmp_path_factory.mktemp("oxs_anom_ckpt"))
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    ev.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(ev.schema).parquet(src)
    flags = streaming.anomaly_stream(stream)
    streaming.run_stream_once(flags, out, ckpt)
    got = {
        r.event_id: (r.value_milli, r.n_prior, r.is_anomaly)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        r.event_id: (r.value_milli, r.n_prior, bool(r.is_anomaly))
        for r in E.detect_value_anomalies(ev).collect()
    }
    assert got == want
