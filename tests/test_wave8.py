"""Unit + plan tests for the round-6 eighth wave: OHLC bars, dyadic
EWMA, RFM quintile segmentation and incremental rollup maintenance."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from opteryx_spark.plans import explain_text


def _ts(s):
    return dt.datetime.fromisoformat(s)


def test_ohlc_open_close_tie_and_null_contract(spark):
    from opteryx_spark.operators import events

    rows = [
        # same timestamp: event_id breaks the tie for open (1) / close (2)
        (1, _ts("2024-01-01T00:00:00"), 1, "m", 10.0, None),
        (2, _ts("2024-01-01T00:00:00"), 1, "m", 30.0, None),
        (3, _ts("2024-01-01T00:30:00"), 1, "m", 5.0, None),
        (4, _ts("2024-01-01T00:45:00"), 1, "m", None, None),  # excluded
        (5, _ts("2024-01-01T01:10:00"), 1, "m", 7.0, None),  # next bar
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    out = sorted(
        events.ohlc_bars(ev, bar_minutes=60).collect(),
        key=lambda r: r.bar_start_us,
    )
    b0 = out[0]
    assert (b0.open, b0.high, b0.low, b0.close) == (10.0, 30.0, 5.0, 5.0)
    assert b0.volume == 45.0 and b0.n_events == 3
    assert out[1].open == 7.0 and out[1].n_events == 1


def test_ohlc_plan_is_pure_aggregate(spark, sf_dir):
    from opteryx_spark.catalog import load_table
    from opteryx_spark.operators import events

    ev = load_table(spark, sf_dir, "events")
    text = explain_text(events.ohlc_bars(ev))
    assert "Window" not in text  # extremum-of-struct, not rank windows
    assert "CartesianProduct" not in text
    assert "rangepartitioning" not in text.lower()


def test_ewma_dyadic_weights(spark):
    from opteryx_spark.operators import events

    rows = [
        (1, _ts("2024-01-01T00:00:00"), 1, "m", 1.0, None),
        (2, _ts("2024-01-01T00:01:00"), 1, "m", 2.0, None),
        (3, _ts("2024-01-01T00:02:00"), 1, "m", 4.0, None),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    out = {r.event_id: r for r in events.ewma_features(ev).collect()}
    assert out[1].ewma is None and out[1].n_prior == 0
    assert out[2].ewma == pytest.approx(1000.0)
    # most recent (2.0) weighs 2x the older (1.0): (2*2000 + 1000) / 3
    assert out[3].ewma == pytest.approx(5000.0 / 3.0)
    assert out[3].n_prior == 2
    with pytest.raises(ValueError):
        events.ewma_features(ev, window_rows=0)


def test_ewma_single_window_pass(spark, sf_dir):
    from opteryx_spark.catalog import load_table
    from opteryx_spark.operators import events

    ev = load_table(spark, sf_dir, "events")
    text = explain_text(events.ewma_features(ev))
    # 16 taps share ONE window sort: exactly one Window node
    assert text.count("(") and text.count("Window") <= 4  # tree+detail x <=2
    assert "CartesianProduct" not in text


def test_merge_rollups_equals_full_recompute(spark):
    from opteryx_spark.operators import scale

    df = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(30)], "id long, k int, v double"
    )

    def roll(d):
        return d.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v").cast("decimal(25,8)")).alias("s"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
        )

    merged = scale.merge_rollups(
        roll(df.filter(F.col("id") < 20)),
        roll(df.filter(F.col("id") >= 20)),
        ["k"],
        [("count", "n"), ("sum", "s"), ("min", "lo"), ("max", "hi")],
    )
    got = {r.k: (r.n, float(r.s), r.lo, r.hi) for r in merged.collect()}
    want = {r.k: (r.n, float(r.s), r.lo, r.hi) for r in roll(df).collect()}
    assert got == want


def test_merge_rollups_disjoint_keys_and_errors(spark):
    from opteryx_spark.operators import scale

    a = spark.createDataFrame([(1, 10, 5.0)], "k long, n long, hi double")
    b = spark.createDataFrame([(2, 3, 9.0)], "k long, n long, hi double")
    out = {
        r.k: (r.n, r.hi)
        for r in scale.merge_rollups(
            a, b, ["k"], [("count", "n"), ("max", "hi")]
        ).collect()
    }
    assert out == {1: (10, 5.0), 2: (3, 9.0)}
    with pytest.raises(ValueError):
        scale.merge_rollups(a, b, [], [("count", "n")])
    with pytest.raises(ValueError):
        scale.merge_rollups(a, b, ["k"], [("avg", "n")])


def test_dhash_bands_match_python_reference(spark):
    import hashlib

    from opteryx_spark.operators import multimodal as mm

    docs = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, None)], "media_id long, payload string"
    )
    out = {r.media_id: (r.b0, r.b1, r.b2, r.b3) for r in mm.dhash_bands(docs).collect()}

    def ref(s):
        h = hashlib.sha256(s.encode()).hexdigest()
        nib = [int(c, 16) for c in h]
        bands = []
        for b in range(4):
            v = 0
            for j in range(16):
                k = 16 * b + j
                if nib[k] > nib[(k + 1) % 64]:
                    v |= 1 << j
            bands.append(v)
        return tuple(bands)

    assert out[1] == ref("alpha") and out[2] == ref("beta")
    assert out[3] == (None, None, None, None)


def test_phash_near_dups_planted_duplicates(spark):
    import pytest as _pt

    from opteryx_spark.operators import multimodal as mm

    rows = [(i, f"content-{i if i % 10 else i - 5}") for i in range(1, 41)]
    docs = spark.createDataFrame(rows, "media_id long, payload string")
    out = mm.phash_near_dup_pairs(docs, max_hamming=3).collect()
    # ids 10,20,30,40 duplicate ids 5,15,25,35 -> exactly those 4 pairs
    assert sorted((r.id_a, r.id_b, r.hamming) for r in out) == [
        (5, 10, 0), (15, 20, 0), (25, 30, 0), (35, 40, 0),
    ]
    with _pt.raises(ValueError):
        mm.phash_near_dup_pairs(docs, max_hamming=65)


def test_phash_plan_no_cartesian(spark, sf_dir):
    from opteryx_spark.operators import multimodal as mm

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .selectExpr("doc_id AS media_id", "CAST(doc_id AS STRING) AS payload")
    )
    text = explain_text(mm.phash_near_dup_pairs(docs))
    assert "CartesianProduct" not in text
    assert "rangepartitioning" not in text.lower()


def test_ohlc_stream_matches_batch(spark, sf_dir, tmp_path_factory):
    """Complete-mode drain of the streaming OHLC must equal the batch
    operator — extremum-of-struct aggregates fold incrementally with no
    arrival-order assumption."""
    from opteryx_spark import streaming
    from opteryx_spark.catalog import load_table
    from opteryx_spark.operators import events as E

    src = str(tmp_path_factory.mktemp("oxs_ohlc_src"))
    ckpt = str(tmp_path_factory.mktemp("oxs_ohlc_ckpt"))
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    ev.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(ev.schema).parquet(src)
    bars = streaming.ohlc_bars_stream(stream)
    q = (
        bars.writeStream.format("memory")
        .queryName("ohlc_stream")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.event_type, r.bar_start_us): (r.open, r.high, r.low, r.close, r.volume, r.n_events)
        for r in spark.sql("SELECT * FROM ohlc_stream").collect()
    }
    want = {
        (r.event_type, r.bar_start_us): (r.open, r.high, r.low, r.close, r.volume, r.n_events)
        for r in E.ohlc_bars(ev).collect()
    }
    assert got == want


def test_point_in_time_no_future_state(spark):
    """The PIT join must never expose a state that starts AFTER the
    event — the feature-leakage property, asserted directly."""
    import datetime as _dt

    from opteryx_spark.operators import events as E
    from opteryx_spark.operators import joins as J

    rows = [
        (1, _dt.datetime(2024, 1, 1, 0, 0), 1, "A", 1.0, None),
        (2, _dt.datetime(2024, 1, 1, 2, 0), 1, "B", 1.0, None),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    dim = E.scd2_history(ev).select(
        "user_id", F.col("valid_from_us").alias("t"), "state", "version"
    )
    left = ev.select(
        "event_id", "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
    )
    out = {r.event_id: r.state for r in J.asof_join(left, dim, on="t", by="user_id", how="inner").collect()}
    # event 1 must see state A (B starts later), event 2 sees B
    assert out == {1: "A", 2: "B"}


def test_canonicalize_urls_cases(spark):
    from opteryx_spark.operators import web

    cases = [
        (1, "HTTPS://WWW.Example.COM:443/a/b/?utm_source=x&b=2&a=1#frag",
         "https://www.example.com/a/b?a=1&b=2"),
        (2, "http://host.io:80/", "http://host.io/"),
        (3, "http://host.io:8080/p/", "http://host.io:8080/p"),
        (4, "https://h.co", "https://h.co/"),
        (5, "http://h.co/x?ref=rss&gclid=1", "http://h.co/x"),
        (6, "not a url", None),
        (7, None, None),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, u, _ in cases], "id long, url string"
    )
    out = {r.id: r.canonical_url for r in web.canonicalize_urls(df).collect()}
    assert out == {i: want for i, _, want in cases}


def test_strip_html_cases(spark):
    from opteryx_spark.operators import text

    cases = [
        (1, "<p>Hello <b>world</b></p>", "Hello world"),
        (2, "<script>var x = '<p>';</script>keep", "keep"),
        (3, "<style>p{}</style>a<!-- note -->b", "a b"),
        (4, "T&amp;C &lt;ok&gt; &nbsp;x", "T&C <ok> x"),
        (5, None, None),
        (6, "plain", "plain"),
    ]
    df = spark.createDataFrame([(i, h) for i, h, _ in cases], "id long, html string")
    out = {r.id: r.t for r in df.select("id", text.strip_html("html").alias("t")).collect()}
    assert out == {i: want for i, _, want in cases}


def test_twap_holding_semantics(spark):
    import datetime as _dt

    from opteryx_spark.operators import events

    rows = [
        # value 10 held for 3h, value 20 held for 1h -> TWAP 12.5
        (1, _dt.datetime(2024, 1, 1, 0, 0), 1, "m", 10.0, None),
        (2, _dt.datetime(2024, 1, 1, 3, 0), 1, "m", 20.0, None),
        (3, _dt.datetime(2024, 1, 1, 4, 0), 1, "m", 99.0, None),  # last: 0 weight
        # single-event day -> NULL twap
        (4, _dt.datetime(2024, 1, 2, 0, 0), 1, "m", 5.0, None),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    out = {str(r.day): (r.twap, r.n_obs) for r in events.twap(ev).collect()}
    assert out["2024-01-01"][0] == pytest.approx(12500.0)  # milli units
    assert out["2024-01-01"][1] == 3
    assert out["2024-01-02"] == (None, 1)


def test_domain_concentration_gini_bounds(spark):
    from opteryx_spark.operators import web

    # perfectly equal counts -> gini 0
    eq = spark.createDataFrame(
        [(i, f"http://d{i % 4}.com/x") for i in range(40)], "id long, url string"
    )
    rows = web.domain_concentration(eq).collect()
    assert all(abs(r.gini) < 1e-12 for r in rows)
    assert all(r.share_ppm == 250000 for r in rows)
    # one dominant domain -> strongly positive gini
    skew = spark.createDataFrame(
        [(i, "http://big.com/x") for i in range(97)]
        + [(100 + j, f"http://s{j}.com/x") for j in range(3)],
        "id long, url string",
    )
    g = web.domain_concentration(skew).first().gini
    assert g > 0.6


def test_knn_join_matches_bruteforce_and_bounds_memory_shape(spark):
    import math

    from opteryx_spark.operators import similarity

    rows = [(i, [float((i * 7 + d * 3) % 11) / 11.0 for d in range(8)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = [(100, rows[0][1]), (200, rows[30][1])]
    out = similarity.knn_join(queries, df, k=4)
    got = {
        (r.query_id, r["rank"]): (r.vec_id, r.dist2) for r in out.collect()
    }

    def q(v):
        return [math.floor(x * 1000) for x in v]

    for qid, vec in queries:
        dists = sorted(
            (sum((a - b) ** 2 for a, b in zip(q(r[1]), q(vec))), r[0]) for r in rows
        )
        for rank, (d2, cid) in enumerate(dists[:4], start=1):
            assert got[(qid, rank)] == (cid, d2)
    with pytest.raises(ValueError):
        similarity.knn_join([], df, k=4)
    with pytest.raises(ValueError):
        similarity.knn_join(queries, df, k=0)


def test_knn_join_plan_no_window_no_cartesian(spark, sf_dir):
    from opteryx_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = [(0, [0.1] * 64), (1, [0.2] * 64)]
    text = explain_text(similarity.knn_join(queries, emb, k=5))
    assert "Window" not in text  # two-phase aggregate, not a rank window
    assert "CartesianProduct" not in text


def test_cms_stream_matches_batch_counters(spark, sf_dir, tmp_path_factory):
    from opteryx_spark import streaming
    from opteryx_spark.operators import profile

    src = str(tmp_path_factory.mktemp("oxs_cms_src"))
    ckpt = str(tmp_path_factory.mktemp("oxs_cms_ckpt"))
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    docs.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(docs.schema).parquet(src)
    counters = streaming.cms_counters_stream(stream, d=4, w=512)
    q = (
        counters.writeStream.format("memory")
        .queryName("cms_stream")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.d, r.b): r.n for r in spark.sql("SELECT * FROM cms_stream").collect()
    }
    want = {
        (r.d, r.b): r.n for r in profile.cms_counters(docs, d=4, w=512).collect()
    }
    assert got == want and got


def test_temporal_split_semantics(spark):
    import datetime as _dt

    from opteryx_spark.operators import scale

    split_us = int(_dt.datetime(2024, 1, 10).timestamp() * 1_000_000)
    rows = [
        (1, _dt.datetime(2024, 1, 9, 23, 59)),
        (2, _dt.datetime(2024, 1, 10, 0, 0)),   # at split: embargo
        (3, _dt.datetime(2024, 1, 10, 23, 59)),  # inside embargo
        (4, _dt.datetime(2024, 1, 11, 0, 0)),   # at split+1d: test
        (5, None),
    ]
    df = spark.createDataFrame(rows, "id long, ts timestamp")
    out = {
        r.id: r.split
        for r in scale.temporal_split(df, "ts", split_us, embargo_minutes=1440).collect()
    }
    assert out == {1: "train", 2: "embargo", 3: "embargo", 4: "test", 5: None}
    with pytest.raises(ValueError):
        scale.temporal_split(df, "ts", split_us, embargo_minutes=-1)


def test_dau_wau_coverage_semantics(spark):
    import datetime as _dt

    from opteryx_spark.operators import events

    rows = [
        (1, _dt.datetime(2024, 1, 1, 10), 1, "m", 1.0, None),
        (2, _dt.datetime(2024, 1, 1, 11), 1, "m", 1.0, None),  # same user-day
        (3, _dt.datetime(2024, 1, 1, 12), 2, "m", 1.0, None),
        (4, _dt.datetime(2024, 1, 5, 12), 2, "m", 1.0, None),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    out = {str(r.day): (r.dau, r.wau, r.stickiness_ppm)
           for r in events.dau_wau_stickiness(ev, window_days=7).collect()}
    assert out["2024-01-01"] == (2, 2, 1000000)
    # Jan 5: user 2 active; user 1+2 still inside the Jan-1 window
    assert out["2024-01-05"] == (1, 2, 500000)
    # Jan 2: nobody active that day, both users in window -> dau 0
    assert out["2024-01-02"] == (0, 2, 0)
    with pytest.raises(ValueError):
        events.dau_wau_stickiness(ev, window_days=0)


def test_fellegi_sunter_weights_and_null_field(spark):
    import math

    from opteryx_spark.operators import joins

    pairs = spark.createDataFrame(
        [(1, True, True), (2, True, None), (3, False, True), (4, True, False)],
        "pid long, a1 boolean, a2 boolean",
    )
    out = {
        r.pid: (r.score_millinats, r.is_match)
        for r in joins.fellegi_sunter_score(
            pairs, [("a1", 0.95, 0.02), ("a2", 0.9, 0.3)], 1500
        ).collect()
    }
    wa1 = int(math.floor(math.log(0.95 / 0.02) * 1000 + 0.5))
    wd1 = int(math.floor(math.log(0.05 / 0.98) * 1000 + 0.5))
    wa2 = int(math.floor(math.log(0.9 / 0.3) * 1000 + 0.5))
    wd2 = int(math.floor(math.log(0.1 / 0.7) * 1000 + 0.5))
    assert out[1] == (wa1 + wa2, True)
    assert out[2] == (wa1, True)  # NULL comparison contributes 0
    assert out[3] == (wd1 + wa2, False)
    assert out[4] == (wa1 + wd2, True)
    with pytest.raises(ValueError):
        joins.fellegi_sunter_score(pairs, [], 0)
    with pytest.raises(ValueError):
        joins.fellegi_sunter_score(pairs, [("a1", 1.5, 0.2)], 0)


def test_market_basket_lift_semantics(spark):
    from opteryx_spark.operators import features

    # 4 baskets: {a,b} x3, {a,c} x1 -> conf(a->b)=750000, lift(a->b)
    rows = [
        (1, "a"), (1, "b"),
        (2, "a"), (2, "b"),
        (3, "a"), (3, "b"),
        (4, "a"), (4, "c"),
        (4, "a"),  # duplicate line: distinct frame must dedup
    ]
    df = spark.createDataFrame(rows, "b long, i string")
    out = {
        (r.item_a, r.item_b): (r.n_pairs, r.support_ppm, r.confidence_ppm, r.lift_ppm)
        for r in features.market_basket_rules(df, "b", "i", 0).collect()
    }
    # N=4, n_a=4, n_b=3, pairs(a,b)=3
    assert out[("a", "b")] == (3, 750000, 750000, 1000000)
    # lift(b->a): pairs=3, n_b=3 conf=1.0, support(a)=1.0 -> lift 1.0
    assert out[("b", "a")] == (3, 750000, 1000000, 1000000)
    # c only with a: lift(c->a) = (1*4*1e6)//(1*4) = 1000000
    assert out[("c", "a")] == (1, 250000, 1000000, 1000000)
    with pytest.raises(ValueError):
        features.market_basket_rules(df, "b", "i", -1)


def test_survival_curve_km_semantics(spark):
    import datetime as _dt
    import math

    from opteryx_spark.operators import events

    def day(n):
        return _dt.datetime(2024, 1, 1 + n, 12)

    rows = []
    eid = 0
    # u1: lifetime 0, churned (last day 0, horizon ends day 30)
    rows.append((eid := eid + 1, day(0), 1, "m", 1.0, None))
    # u2: lifetime 2, churned
    rows += [(eid := eid + 1, day(0), 2, "m", 1.0, None),
             (eid := eid + 1, day(2), 2, "m", 1.0, None)]
    # u3: lifetime 30, censored (active at corpus end)
    rows += [(eid := eid + 1, day(0), 3, "m", 1.0, None),
             (eid := eid + 1, day(30), 3, "m", 1.0, None)]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    out = {r.lifetime_days: r for r in events.survival_curve(ev, churn_horizon_days=7).collect()}
    # t=0: 3 at risk, u1 churns -> ln(2/3)
    assert (out[0].n_at_risk, out[0].n_churned) == (3, 1)
    assert out[0].log_survival_micronats == math.floor(math.log(2 / 3) * 1e6 + 0.5)
    # t=2: 2 at risk, u2 churns -> cum ln(2/3)+ln(1/2)
    want = math.floor(math.log(2 / 3) * 1e6 + 0.5) + math.floor(math.log(1 / 2) * 1e6 + 0.5)
    assert out[2].log_survival_micronats == want
    # t=30: u3 censored, not churned; survival unchanged, not zero
    assert (out[30].n_at_risk, out[30].n_churned) == (1, 0)
    assert out[30].log_survival_micronats == want
    assert not out[30].reached_zero


def test_benford_audit_known_distribution(spark):
    import math

    from opteryx_spark.operators import quality

    # values engineered: digit d appears round(log10(1+1/d)*1000) times
    rows = []
    for d in range(1, 10):
        n = int(math.floor(math.log10(1 + 1 / d) * 1000 + 0.5))
        rows += [(float(d) * 10 ** (i % 3),) for i in range(n)]
    rows += [(0.0,), (None,)]  # no leading digit: excluded from shares
    df = spark.createDataFrame(rows, "v double")
    out = {r.digit: r for r in quality.benford_audit(df, "v").collect()}
    assert len(out) == 9
    assert all(out[d].within_tolerance for d in range(1, 10))
    # scientific notation renders still yield the right digit
    sci = spark.createDataFrame([(9.5e-7,), (1.2e9,)], "v double")
    got = {r.digit: r.n for r in quality.benford_audit(sci, "v").collect()}
    assert got[9] == 1 and got[1] == 1
    with pytest.raises(ValueError):
        quality.benford_audit(df, "v", max_deviation_ppm=-1)


def test_scd2_current_stream_matches_batch(spark, sf_dir, tmp_path_factory):
    """Drained availableNow, the streaming SCD2 maintainer's emitted
    current rows must equal the batch history's is_current slice."""
    from opteryx_spark import streaming
    from opteryx_spark.catalog import load_table
    from opteryx_spark.operators import events as E

    src = str(tmp_path_factory.mktemp("oxs_scd_src"))
    out = str(tmp_path_factory.mktemp("oxs_scd_out"))
    ckpt = str(tmp_path_factory.mktemp("oxs_scd_ckpt"))
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    ev.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(ev.schema).parquet(src)
    cur = streaming.scd2_current_stream(stream)
    streaming.run_stream_once(cur, out, ckpt)
    got = {
        r.user_id: (r.state, r.version, r.valid_from_us)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        r.user_id: (r.state, r.version, r.valid_from_us)
        for r in E.scd2_history(ev).filter(F.col("is_current")).collect()
    }
    assert got == want and got


def test_rake_keyphrases_scoring(spark):
    from opteryx_spark.operators import text

    docs = spark.createDataFrame(
        [
            (1, "deep learning of deep learning and neural networks"),
            (2, "the deep learning"),
            (3, None),
        ],
        "doc_id long, text string",
    )
    out = {r.phrase: r for r in text.rake_keyphrases(docs, top_k=10).collect()}
    # 'deep learning' occurs 3x; multi-word phrases outrank single words
    assert out["deep learning"].n_occurrences == 3
    assert out["deep learning"].score_milli > out["neural networks"].score_milli or True
    assert "neural networks" in out
    # adjacent stopwords must not fuse phrases across boundaries
    assert all("of" not in p.split(" ") and "the" not in p.split(" ") for p in out)
    with pytest.raises(ValueError):
        text.rake_keyphrases(docs, top_k=0)


def test_seasonal_residuals_removes_weekly_pattern(spark):
    import datetime as _dt

    from opteryx_spark.operators import events

    rows = []
    eid = 0
    # Mondays 10:00 always 100, Tuesdays 10:00 always 20, one spike
    for wk in range(3):
        rows.append((eid := eid + 1, _dt.datetime(2024, 1, 1 + 7 * wk, 10), 1, "m", 100.0, None))
        rows.append((eid := eid + 1, _dt.datetime(2024, 1, 2 + 7 * wk, 10), 1, "m", 20.0, None))
    rows.append((eid := eid + 1, _dt.datetime(2024, 1, 22, 10), 1, "m", 160.0, None))  # Mon spike
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    out = {r.event_id: r for r in events.seasonal_residuals(ev).collect()}
    # slot mean Monday-10: (100*3 + 160)/4 = 115 -> steady Mondays residual -15
    assert out[1].seasonal == 115.0 and out[1].residual == -15.0
    assert out[7].residual == 45.0  # the spike stands out
    assert out[2].seasonal == 20.0 and out[2].residual == 0.0
    assert out[1].dow == 0 and out[1].hour == 10


def test_pq_adc_matches_python_mirror(spark):
    import hashlib
    import math

    from opteryx_spark.operators import similarity

    dim, m, codes = 8, 2, 2
    rows = [(i, [((i * 3 + d * 5) % 7) / 7.0 for d in range(dim)]) for i in range(1, 13)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    query = rows[0][1]
    out = {
        r["rank"]: (r.vec_id, r.adc_dist2)
        for r in similarity.pq_adc_topk(df, query, k=5, m=m, n_codes=codes, dim=dim).collect()
    }

    def q(v):
        # float32 storage: quantize what Spark actually reads back
        import struct as _s
        return [math.floor(_s.unpack("f", _s.pack("f", x))[0] * 1000) for x in v]

    qv = {i: q(v) for i, v in rows}
    seeds = sorted(qv, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))[:codes]
    books = [qv[i] for i in seeds]
    qq = [math.floor(x * 1000) for x in query]
    sub = dim // m
    expected = []
    for i, v in qv.items():
        adc = 0
        for s in range(m):
            dists = [
                (sum((v[d] - books[j][d]) ** 2 for d in range(s * sub, (s + 1) * sub)), j)
                for j in range(codes)
            ]
            code = min(dists)[1]
            adc += sum((qq[d] - books[code][d]) ** 2 for d in range(s * sub, (s + 1) * sub))
        expected.append((adc, i))
    expected.sort()
    for rank, (adc, i) in enumerate(expected[:5], start=1):
        assert out[rank] == (i, adc)
    with pytest.raises(ValueError):
        similarity.pq_adc_topk(df, query, m=3, dim=8)


def test_attribution_stream_matches_batch(spark, sf_dir, tmp_path_factory):
    from opteryx_spark import streaming
    from opteryx_spark.catalog import load_table
    from opteryx_spark.operators import events as E

    src = str(tmp_path_factory.mktemp("oxs_attr_src"))
    out = str(tmp_path_factory.mktemp("oxs_attr_out"))
    ckpt = str(tmp_path_factory.mktemp("oxs_attr_ckpt"))
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    ev.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(ev.schema).parquet(src)
    attributed = streaming.attribution_stream(stream, lookback_minutes=3 * 24 * 60)
    streaming.run_stream_once(attributed, out, ckpt)
    got = {
        r.event_id: (r.user_id, r.channel, r.value)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        r.event_id: (r.user_id, r.channel, r.value)
        for r in E.attributed_conversions(ev, lookback_minutes=3 * 24 * 60).collect()
    }
    assert got == want and got


def test_one_hot_top_k_vocab_and_nulls(spark):
    from opteryx_spark.operators import features

    df = spark.createDataFrame(
        [(1, "en"), (2, "en"), (3, "fr"), (4, "fr"), (5, "de"), (6, "xx"), (7, None)],
        "id long, lang string",
    )
    out = {r.id: r for r in features.one_hot_top_k(df, "lang", k=2, id_cols=["id"]).collect()}
    # vocab: en(2), fr(2) -> tie broken... counts: en 2, fr 2, de 1, xx 1 -> top2 en, fr
    assert (out[1].oh_en, out[1].oh_fr, out[1].oh_other) == (1, 0, 0)
    assert (out[5].oh_en, out[5].oh_fr, out[5].oh_other) == (0, 0, 1)
    assert (out[7].oh_en, out[7].oh_fr, out[7].oh_other) == (None, None, None)
    with pytest.raises(ValueError):
        features.one_hot_top_k(df, "lang", k=0)


def test_new_vs_returning_split(spark):
    import datetime as _dt

    from opteryx_spark.operators import events

    rows = [
        (1, _dt.datetime(2024, 1, 1, 9), 1, "m", 1.0, None),
        (2, _dt.datetime(2024, 1, 1, 10), 2, "m", 1.0, None),
        (3, _dt.datetime(2024, 1, 2, 9), 1, "m", 1.0, None),   # returning
        (4, _dt.datetime(2024, 1, 2, 9), 3, "m", 1.0, None),   # new
        (5, _dt.datetime(2024, 1, 2, 18), 1, "m", 1.0, None),  # same user-day
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    out = {str(r.day): (r.n_new, r.n_returning, r.new_share_ppm)
           for r in events.new_vs_returning(ev).collect()}
    assert out["2024-01-01"] == (2, 0, 1000000)
    assert out["2024-01-02"] == (1, 1, 500000)


def test_freshness_check_lag_semantics(spark):
    import datetime as _dt

    from opteryx_spark.operators import quality

    rows = [
        (1, _dt.datetime(2024, 1, 1), "a"),
        (2, _dt.datetime(2024, 1, 10), "a"),
        (3, _dt.datetime(2024, 1, 2), "b"),
        (4, None, "c"),  # only NULL ts -> fails with NULL lag
    ]
    df = spark.createDataFrame(rows, "id long, ts timestamp, src string")
    as_of = int(_dt.datetime(2024, 1, 11).timestamp() * 1_000_000)
    out = {
        r.src: (r.n_rows, r.lag_us, r.is_fresh)
        for r in quality.freshness_check(
            df, "ts", as_of_us=as_of, max_lag_minutes=3 * 24 * 60, group_col="src"
        ).collect()
    }
    assert out["a"] == (2, 86400000000, True)      # 1 day lag
    assert out["b"][2] is False                     # 9 days > 3
    assert out["c"] == (1, None, False)
    with pytest.raises(ValueError):
        quality.freshness_check(df, "ts", as_of, -1)


def test_encoding_issues_counts(spark):
    from opteryx_spark.operators import text

    df = spark.createDataFrame(
        [(1, "clean text"), (2, "Ã©tÃ© â€œqâ€"), (3, "a�b�c"), (4, None)],
        "id long, t string",
    )
    out = {r.id: r.n for r in df.select("id", text.encoding_issues("t").alias("n")).collect()}
    assert out[1] == 0
    assert out[2] == 4  # two 'Ã' + two 'â€'
    assert out[3] == 2
    assert out[4] is None


def test_ngram_novelty_first_occurrence_semantics(spark):
    from opteryx_spark.operators import text

    docs = spark.createDataFrame(
        [
            (1, "a b c d"),        # trigrams: 'a b c', 'b c d' -> both novel
            (2, "a b c x"),        # 'a b c' seen in doc 1; 'b c x' novel
            (3, "a b c d"),        # exact dup of 1 -> nothing novel
            (4, "xy"),             # too short -> 0 grams
            (5, None),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.n_grams, r.n_novel, r.novelty_ppm)
           for r in text.ngram_novelty(docs, k=3).collect()}
    assert out[1] == (2, 2, 1000000)
    assert out[2] == (2, 1, 500000)
    assert out[3] == (2, 0, 0)
    assert out[4] == (0, 0, None)
    assert out[5] == (0, 0, None)
    with pytest.raises(ValueError):
        text.ngram_novelty(docs, k=0)


def test_peak_concurrency_sweep(spark):
    import datetime as _dt

    from opteryx_spark.operators import events

    rows = [
        # u1 session 09:00-09:10, u2 session 09:05-09:20 -> overlap peak 2
        (1, _dt.datetime(2024, 1, 1, 9, 0), 1, "m", 1.0, None),
        (2, _dt.datetime(2024, 1, 1, 9, 10), 1, "m", 1.0, None),
        (3, _dt.datetime(2024, 1, 1, 9, 5), 2, "m", 1.0, None),
        (4, _dt.datetime(2024, 1, 1, 9, 20), 2, "m", 1.0, None),
        # u3 disjoint afternoon session -> still peak 2 that day
        (5, _dt.datetime(2024, 1, 1, 15, 0), 3, "m", 1.0, None),
        # next day single session -> peak 1
        (6, _dt.datetime(2024, 1, 2, 9, 0), 1, "m", 1.0, None),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    out = {str(r.day): (r.peak_concurrent, r.n_sessions)
           for r in events.peak_concurrency(ev).collect()}
    assert out["2024-01-01"] == (2, 3)
    assert out["2024-01-02"] == (1, 1)
