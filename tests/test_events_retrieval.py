"""Unit + plan tests for batch sessionization, cohort retention, BM25
retrieval and acting fuzzy dedup (round-6 second wave)."""

from __future__ import annotations

import math

import pytest
from datetime import datetime

from pyspark.sql import functions as F

from opteryx_spark.operators import dedup, events, retrieval
from opteryx_spark.operators.lifetime import persist_scope
from opteryx_spark.plans import broadcast_join_count, explain_text
from opteryx_spark.suite import load_all

REG = load_all()

_EV_SCHEMA = "event_id long, ts timestamp, user_id long, value double"


def _ts(minute: int) -> datetime:
    return datetime(2024, 1, 1, minute // 60, minute % 60, 0)


def test_sessionize_gap_semantics(spark):
    ev = spark.createDataFrame(
        [
            (1, _ts(0), 1, 1.0),
            (2, _ts(10), 1, 2.0),  # 10 min gap: same session
            (3, _ts(50), 1, 4.0),  # 40 min gap: new session
            (4, _ts(5), 2, 8.0),  # other user
            (5, _ts(20), None, 1.0),  # NULL user: excluded by contract
            (6, None, 2, 1.0),  # NULL ts: excluded by contract
        ],
        schema=_EV_SCHEMA,
    )
    got = {
        (r.user_id, r.session_id): r
        for r in events.sessionize(ev, gap_minutes=30).collect()
    }
    assert set(got) == {(1, 1), (1, 2), (2, 1)}
    s11 = got[(1, 1)]
    assert s11.n_events == 2 and s11.total_value == 3.0
    assert s11.session_start == _ts(0) and s11.session_end == _ts(10)
    assert s11.duration_us == 10 * 60 * 1_000_000
    s12 = got[(1, 2)]
    assert s12.n_events == 1 and s12.duration_us == 0 and s12.total_value == 4.0


def test_sessionize_ts_tie_broken_by_order_col(spark):
    # two events at the same instant: the (ts, event_id) order is pinned,
    # so the run is one session regardless of input order
    ev = spark.createDataFrame(
        [(2, _ts(0), 1, 1.0), (1, _ts(0), 1, 1.0), (3, _ts(29), 1, 1.0)],
        schema=_EV_SCHEMA,
    )
    rows = events.sessionize(ev, gap_minutes=30).collect()
    assert len(rows) == 1 and rows[0].n_events == 3


def test_cohort_retention_offsets(spark):
    ev = spark.createDataFrame(
        [
            # cohort day 1: users 1, 2; user 1 returns day 2, user 2 day 3
            (1, datetime(2024, 1, 1, 8), 1, 0.0),
            (2, datetime(2024, 1, 2, 9), 1, 0.0),
            (3, datetime(2024, 1, 1, 10), 2, 0.0),
            (4, datetime(2024, 1, 3, 11), 2, 0.0),
            # cohort day 2: user 3, twice the same day (distinct-day dedup)
            (5, datetime(2024, 1, 2, 7), 3, 0.0),
            (6, datetime(2024, 1, 2, 23), 3, 0.0),
        ],
        schema=_EV_SCHEMA,
    )
    got = {
        (str(r.cohort_day), r.day_offset): r.n_users
        for r in events.cohort_retention(ev).collect()
    }
    assert got == {
        ("2024-01-01", 0): 2,
        ("2024-01-01", 1): 1,
        ("2024-01-01", 2): 1,
        ("2024-01-02", 0): 1,
    }


def _bm25_expected(docs, terms, k1=1.2, b=0.75):
    """Straight-line float mirror of the operator's arithmetic."""
    tok = {i: (t.split() if t else []) for i, t in docs.items()}
    n = len(docs)
    avgdl = sum(len(v) for v in tok.values()) / n
    out = {}
    for term in sorted(set(terms)):
        df = sum(1 for v in tok.values() if term in v)
        if not df:
            continue
        idfm = math.floor(math.log((n - df + 0.5) / (df + 0.5) + 1.0) * 1000.0 + 0.5)
        for i, v in tok.items():
            tf = v.count(term)
            if not tf:
                continue
            part = (idfm / 1000.0) * (tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * len(v) / avgdl)))
            nm, s = out.get(i, (0, 0))
            out[i] = (nm + 1, s + math.floor(part * 10000.0 + 0.5))
    return {i: (nm, s / 10000.0) for i, (nm, s) in out.items()}


def test_bm25_matches_straightline_mirror(spark):
    docs = {1: "join join query", 2: "join filter", 3: "other words here", 4: None}
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    got = {
        r.doc_id: (r.n_matched, r.bm25)
        for r in retrieval.bm25_scores(df, ["join", "query"]).collect()
    }
    assert got == _bm25_expected(docs, ["join", "query"])
    assert 3 not in got and 4 not in got  # no-match and NULL docs absent
    top = retrieval.bm25_topk(df, ["join", "query"], k=1).collect()
    assert top[0].doc_id == 1  # twice the tf, both terms


def test_fuzzy_dedup_keeps_one_per_cluster(spark):
    same = "alpha beta gamma delta epsilon zeta eta theta " * 4
    rows = [(1, same), (2, same), (3, same), (10, "totally different words " * 8), (11, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in dedup.fuzzy_dedup(df, unique_texts=False).collect()}
    assert got[1].comp == 1 and got[1].kept
    assert got[2].comp == 1 and not got[2].kept
    assert got[3].comp == 1 and not got[3].kept
    assert got[10].comp is None and got[10].kept
    assert got[11].comp is None and got[11].kept  # NULL text: no pairs, kept


# --- plan shapes (the 100 TB properties) -------------------------------------


def test_sessionize_plan_one_window_no_cartesian(spark, sf_dir):
    df = REG["events_sessionize"].spark(spark, sf_dir)
    text = explain_text(df)
    import re

    # the lag-flag and running-sum windows share ONE sort+exchange, and the
    # (user, session) aggregate reuses the user_id hash partitioning — so
    # the whole sessionization is a single data shuffle (the second
    # Exchange below is the final presentation orderBy)
    assert len(re.findall(r"\(\d+\) Exchange\b", text)) == 2
    assert len(re.findall(r"\(\d+\) Window\b", text)) == 2
    assert "CartesianProduct" not in text
    assert "partial_min" in text  # session reduce combines map-side


def test_cohort_plan_no_cartesian(spark, sf_dir):
    df = REG["events_cohort_retention"].spark(spark, sf_dir)
    text = explain_text(df)
    assert "CartesianProduct" not in text
    assert "partial_count" in text


def test_bm25_broadcasts_term_stats(spark, sf_dir):
    df = REG["text_bm25_scores"].spark(spark, sf_dir)
    text = explain_text(df)
    # the |query|-row idf frame broadcasts; the corpus never self-joins
    assert broadcast_join_count(df) >= 1
    assert "CartesianProduct" not in text


def test_minhash_incremental_index_roundtrip(spark, tmp_path_factory):
    """The index artifact persists to parquet and the delta-dedup flags a
    near-copy of a corpus doc (not the unrelated doc), with the best
    match resolved deterministically."""
    same = "alpha beta gamma delta epsilon zeta eta theta " * 4
    corpus = spark.createDataFrame(
        [(1, same), (2, "first corpus doc with its own words " * 6)],
        "doc_id long, text string",
    )
    idx_path = str(tmp_path_factory.mktemp("oxs_mh_idx"))
    dedup.minhash_index(corpus, portable_hash=True).write.mode("overwrite").parquet(idx_path)
    idx = spark.read.parquet(idx_path)

    new = spark.createDataFrame(
        [(100, same), (101, "completely unrelated crawl content " * 6), (102, None)],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r
        for r in dedup.minhash_dedup_against_index(
            new, idx, threshold=0.5, portable_hash=True
        ).collect()
    }
    assert got[100].in_corpus_near_dup and got[100].best_match_id == 1
    assert got[100].est_jaccard == 1.0
    assert not got[101].in_corpus_near_dup and got[101].best_match_id is None
    assert not got[102].in_corpus_near_dup  # NULL text: no shingles, no match


def test_minhash_incremental_plan_no_cartesian(spark, sf_dir):
    df = REG["dedup_minhash_incremental"].spark(spark, sf_dir)
    text = explain_text(df)
    assert "CartesianProduct" not in text


def test_session_funnel_ordering(spark):
    ev = spark.createDataFrame(
        [
            # user 1 session 1: view -> click -> purchase in order
            (1, _ts(0), 1, "view"),
            (2, _ts(5), 1, "click"),
            (3, _ts(10), 1, "purchase"),
            # user 1 session 2 (2h later): click BEFORE view -> depth 'view'
            (4, _ts(130), 1, "click"),
            (5, _ts(135), 1, "view"),
            # user 2: no view at all -> 'none'
            (6, _ts(0), 2, "error"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    got = {r.funnel_stage: r.n_sessions for r in events.session_funnel(ev).collect()}
    assert got == {"purchase": 1, "view": 1, "none": 1}


def _pmi_expected(texts, min_count, top_k):
    import collections

    uni = collections.Counter()
    bic = collections.Counter()
    for t in texts:
        tk = [x for x in (t or "").split(" ") if x]
        uni.update(tk)
        bic.update(f"{a} {b}" for a, b in zip(tk, tk[1:]))
    U, T = sum(uni.values()), sum(bic.values())
    rows = []
    for s, cxy in bic.items():
        if cxy < min_count:
            continue
        w1, w2 = s.split(" ")
        p = (cxy / T) / ((uni[w1] / U) * (uni[w2] / U))
        rows.append((w1, w2, cxy, math.floor(math.log(p) * 1000.0 + 0.5)))
    rows.sort(key=lambda r: (-r[3], r[0], r[1]))
    return rows[:top_k]


def test_collocations_match_straightline_mirror(spark):
    texts = [
        "new york is a big city and new york never sleeps",
        "the city of new york hosts new york marathons",
        "big data and big models eat the city",
        None,
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = [
        (r.w1, r.w2, r.cxy, r.pmi_millinats)
        for r in retrieval.collocations(df, min_count=2, top_k=10).collect()
    ]
    want = _pmi_expected(texts, 2, 10)
    assert got == want
    assert ("new", "york") in {g[:2] for g in got}  # the canonical collocation surfaces


def test_type_transitions_counts_and_probs(spark):
    from opteryx_spark.operators import events as E

    ev = spark.createDataFrame(
        [
            # one session: view -> click -> view -> purchase
            (1, _ts(0), 1, "view"),
            (2, _ts(5), 1, "click"),
            (3, _ts(10), 1, "view"),
            (4, _ts(15), 1, "purchase"),
            # new session 2h later: its first event is no transition
            (5, _ts(130), 1, "view"),
            (6, _ts(135), 1, "click"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    got = {
        (r.prev_type, r.next_type): (r.n, r.p)
        for r in E.type_transitions(ev, gap_minutes=30).collect()
    }
    assert got == {
        ("view", "click"): (2, 2 / 3),
        ("click", "view"): (1, 1.0),
        ("view", "purchase"): (1, 1 / 3),
    }


def test_bm25_search_index_roundtrip(spark, tmp_path_factory):
    """The postings artifact persists to parquet (partitioned by term)
    and a multi-query search over it ranks like per-query bm25_scores on
    the indexed sub-corpus."""
    docs = spark.createDataFrame(
        [
            (1, "join join query"),
            (2, "join filter scan"),
            (3, "vector search index"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    p = str(tmp_path_factory.mktemp("oxs_postings"))
    retrieval.postings_index(docs).write.mode("overwrite").partitionBy("term").parquet(p)
    idx = spark.read.parquet(p)

    got = retrieval.bm25_search(idx, [("a", ["join"]), ("b", ["vector", "query"])], k=2).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append((r.rank, r.doc_id))
    assert by_q["a"] == [(1, 1), (2, 2)]  # tf 2 beats tf 1
    # docs 1 ('query') and 3 ('vector') tie exactly (same idf/tf/dl):
    # the id tiebreak pins the order
    assert by_q["b"] == [(1, 1), (2, 3)]


def test_bm25_search_plan_broadcasts(spark, sf_dir):
    df = REG["text_bm25_search_index"].spark(spark, sf_dir)
    text = explain_text(df)
    assert broadcast_join_count(df) >= 2  # query terms + idf stats
    assert "CartesianProduct" not in text


def test_random_projection_jl_property(spark):
    """Pairwise squared distances survive the projection within loose JL
    bounds, and a straight-line numpy mirror reproduces components exactly."""
    import numpy as np

    from opteryx_spark.operators import similarity
    from opteryx_spark.suite.pipeline import _det_planes

    rng = np.random.RandomState(7)
    vecs = rng.randn(20, 64)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    planes = _det_planes(4, 8, 64)  # 32 output dims
    got = similarity.random_projection(df, out_dim=32, planes=planes).collect()
    proj = np.zeros((20, 32))
    for r in got:
        proj[r.vec_id][r.dim] = r.component

    # exact mirror: sequential left-fold == numpy dot for these magnitudes?
    # no — numpy pairwise-sums; mirror the fold explicitly instead
    P = np.array(planes)
    for i in (0, 7, 19):
        for j in (0, 31):
            acc = 0.0
            for d in range(64):
                acc = acc + vecs[i][d] * P[j][d]
            # the operator multiplies by the reciprocal (a different IEEE
            # op than division) — mirror exactly
            assert proj[i][j] == acc * (1.0 / math.sqrt(32.0))

    # JL: squared distances preserved within a loose factor (planes are
    # +-1000-scale integers, variance ~ (2001^2)/12 — normalize by it)
    var = (np.arange(-1000, 1001) ** 2).mean()
    d_in = np.sum((vecs[0] - vecs[1]) ** 2)
    d_out = np.sum((proj[0] - proj[1]) ** 2) / var
    assert 0.3 * d_in < d_out < 3.0 * d_in


def test_connected_components_raises_on_nonconvergence(spark):
    """A chain longer than max_iter hops must fail loudly, never return
    stale labels (which would mean several keepers in one cluster)."""
    import pytest

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "id1 long, id2 long"
    )
    # converges fine with enough rounds...
    labels = {r.node: r.comp for r in dedup.connected_components(chain).collect()}
    assert set(labels.values()) == {0}
    # ...and raises rather than lying when the budget is too small
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(chain, max_iter=2)


def test_hll_portable_error_bound(spark, sf_dir):
    """The portable HLL lands within the ~1.04/sqrt(m) HLL bound (with
    slack) on two different key columns."""
    from opteryx_spark.catalog import load_table
    from opteryx_spark.operators import profile

    for table, col in (("orders", "o_custkey"), ("lineitem", "l_partkey")):
        r = profile.hll_estimate_portable(load_table(spark, sf_dir, table), col).first()
        est = r.estimate_milli / 1000.0
        assert abs(est - r.exact) / r.exact < 0.05, (table, col, est, r.exact)
        assert r.m == 4096 and r.sum_scaled > 0


def test_quantile_histogram_accuracy(spark, sf_dir):
    """Histogram quantiles land within one bin width of the exact
    percentiles."""
    from opteryx_spark.catalog import load_table
    from opteryx_spark.operators import profile

    li = load_table(spark, sf_dir, "lineitem")
    got = {r.q: r.est for r in profile.quantile_histogram(li, "l_extendedprice").collect()}
    exact = li.agg(
        F.expr("percentile(l_extendedprice, array(0.5, 0.95, 0.99))").alias("p"),
        (F.max("l_extendedprice") - F.min("l_extendedprice")).alias("span"),
    ).first()
    bin_width = exact.span / 1024.0
    for q, want in zip((0.5, 0.95, 0.99), exact.p):
        assert abs(got[q] - want) <= bin_width * 2, (q, got[q], want)


def test_cms_overestimates_only(spark):
    """With a tiny counter width collisions are forced: estimates may
    exceed but never undershoot the true counts; a roomy width recovers
    exact counts."""
    from opteryx_spark.operators import profile

    docs = spark.createDataFrame(
        [(i, "aa bb cc dd ee ff gg hh " * (i + 1)) for i in range(6)] + [(9, None)],
        "doc_id long, text string",
    )
    probes = ["aa", "dd", "hh", "absent"]
    tight = {r.term: r for r in profile.cms_token_counts(docs, "text", probes, d=2, w=4).collect()}
    roomy = {r.term: r for r in profile.cms_token_counts(docs, "text", probes, d=4, w=8192).collect()}
    for t_ in probes:
        assert tight[t_].est >= tight[t_].exact
        assert roomy[t_].est == roomy[t_].exact
    assert roomy["absent"].exact == 0


def test_bloom_prefilter_one_sided(spark):
    """Tiny filters force false positives, never false negatives; NULL
    keys miss by contract."""
    corpus = spark.createDataFrame(
        [(f"key{i}",) for i in range(50)], "key string"
    )
    positions = dedup.bloom_positions(corpus, "key", m_bits=32, k=3)
    probes = spark.createDataFrame(
        [(i, f"key{i}") for i in range(40, 80)] + [(99, None)],
        "doc_id long, key string",
    )
    got = {
        r.doc_id: r.bloom_hit
        for r in dedup.bloom_prefilter(probes, positions, "key", m_bits=32, k=3).collect()
    }
    for i in range(40, 50):
        assert got[i], "member missed: bloom false negative"
    assert got[99] is False  # NULL key
    fp = sum(1 for i in range(50, 80) if got[i])
    assert fp > 0  # 32 bits x 50 keys: saturated, false positives certain
    roomy = dedup.bloom_positions(corpus, "key", m_bits=1 << 16, k=5)
    got2 = {
        r.doc_id: r.bloom_hit
        for r in dedup.bloom_prefilter(probes, roomy, "key", m_bits=1 << 16, k=5).collect()
    }
    assert all(got2[i] for i in range(40, 50))
    assert not any(got2[i] for i in range(50, 80))  # roomy: exact here


def test_rrf_fuse_semantics(spark):
    """Known two-system fusion: contributions are scale div (60+rank),
    overlap doubles n_systems, fused ties break on id."""
    import pytest

    from opteryx_spark.operators import retrieval

    s1 = spark.createDataFrame([(1, 9.0), (2, 5.0), (3, 1.0)], ["doc_id", "s"])
    s2 = spark.createDataFrame([(2, 0.9), (4, 0.8)], ["doc_id", "s"])
    out = {
        r.doc_id: (r.rrf_score, r.n_systems)
        for r in retrieval.rrf_fuse(
            [(s1, "s", "asc"), (s2, "s", "asc")], k=10
        ).collect()
    }
    c = lambda r: 1_000_000_000 // (60 + r)  # noqa: E731
    assert out[1] == (c(1), 1)
    assert out[2] == (c(2) + c(1), 2)  # rank 2 lexically, rank 1 vectorially
    assert out[3] == (c(3), 1)
    assert out[4] == (c(2), 1)

    # equal scores: rank assignment breaks ties by id, deterministically
    tied = spark.createDataFrame([(7, 1.0), (5, 1.0)], ["doc_id", "s"])
    ranks = retrieval.rrf_fuse([(tied, "s", "asc")], k=2).collect()
    assert [r.doc_id for r in ranks] == [5, 7]  # id 5 gets rank 1

    with pytest.raises(ValueError):
        retrieval.rrf_fuse([])


def test_gap_fill_series_semantics(spark):
    """Missing buckets appear zero-filled with the value carried forward;
    NULL group/ts rows excluded; per-group spines are independent."""
    import datetime as dt

    import pytest

    from opteryx_spark.operators import events as E

    T0 = dt.datetime(2024, 1, 1, 0, 0, 30)
    rows = [
        ("a", T0, 1.0),
        ("a", T0 + dt.timedelta(hours=3), 5.0),   # 2 gap hours between
        ("b", T0 + dt.timedelta(hours=1), 2.0),
        ("b", T0 + dt.timedelta(hours=1, minutes=5), 3.0),  # same bucket
        (None, T0, 9.0),
        ("c", None, 9.0),
    ]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp_ntz, value double")
    out = E.gap_fill_series(df, step_seconds=3600).orderBy(
        "event_type", "bucket_start"
    ).collect()
    a = [r for r in out if r.event_type == "a"]
    b = [r for r in out if r.event_type == "b"]
    assert len(out) == len(a) + len(b)  # NULL rows excluded entirely
    assert [r.n_events for r in a] == [1, 0, 0, 1]
    assert [r.is_gap for r in a] == [False, True, True, False]
    assert [r.filled_value for r in a] == [1.0, 1.0, 1.0, 5.0]
    assert len(b) == 1 and b[0].n_events == 2 and b[0].filled_value == 5.0
    # buckets are step-aligned epoch seconds
    assert all(r.bucket_start % 3600 == 0 for r in out)

    with pytest.raises(ValueError):
        E.gap_fill_series(df, step_seconds=0)


def test_rolling_window_features_semantics(spark):
    """Trailing (t-1h, t] frame: an event exactly 1h earlier falls OUT,
    59m59s earlier stays in; users are independent."""
    import datetime as dt

    from opteryx_spark.operators import events as E

    T0 = dt.datetime(2024, 3, 1, 12, 0, 0)
    rows = [
        (1, "u1", T0, 10.0),
        (2, "u1", T0 + dt.timedelta(minutes=30), 5.0),
        (3, "u1", T0 + dt.timedelta(hours=1), 2.0),          # 1h after e1: e1 excluded
        (4, "u2", T0 + dt.timedelta(minutes=30), 100.0),
        (5, None, T0, 1.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id string, ts timestamp_ntz, value double"
    )
    out = {
        r.event_id: (r.n_win, r.value_win)
        for r in E.rolling_window_features(df, window_seconds=3600).collect()
    }
    assert out[1] == (1, 10.0)
    assert out[2] == (2, 15.0)
    assert out[3] == (2, 7.0)   # e1 aged out (exactly 1h), e2 still in
    assert out[4] == (1, 100.0)
    assert 5 not in out


def test_fuzzy_dedup_exemplar_route_equivalence(spark):
    """The r10 exemplar-level route (unique_texts=True — LSH + connected
    components on distinct texts, members relabeled after) must return
    EXACTLY the member-level formulation's output.  Covers: a multi-copy
    group with no external near-dup (self-cluster), two near-dup groups
    that merge, an INACTIVE multi-copy group (single token => empty
    2-shingle set: no pairs even though copies exist), singletons, NULL
    text, and a NULL member id."""
    base = "alpha beta gamma delta epsilon zeta eta theta " * 4
    near = base + "iota"
    rows = [
        (1, base), (2, base), (3, base),          # copy group, pairs with...
        (4, near),                                 # ...a near-dup singleton
        (20, "solo words nobody else shares " * 6),
        (30, "tok"), (31, "tok"),                  # inactive multi-copy group
        (40, None),                                # NULL text
        (None, base),                              # NULL id rides a group
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(min_est_jaccard=0.5, k=2, portable_hash=True)
    member = {
        (r.doc_id,): (r.comp, r.kept)
        for r in dedup.fuzzy_dedup(df, unique_texts=False, **kw).collect()
    }
    exemplar = {
        (r.doc_id,): (r.comp, r.kept)
        for r in dedup.fuzzy_dedup(df, unique_texts=True, **kw).collect()
    }
    assert member == exemplar
    # and the semantics themselves: 1-4 one cluster keyed by min id 1;
    # the inactive copy group stays unclustered (no shingles => no pairs)
    assert exemplar[(1,)] == (1, True)
    assert exemplar[(4,)] == (1, False)
    assert exemplar[(30,)] == (None, True) and exemplar[(31,)] == (None, True)
    assert exemplar[(40,)] == (None, True)
    assert exemplar[(None,)] == (None, True)


@pytest.mark.slow  # randomized route-equivalence sweep - full tier only
def test_fuzzy_dedup_route_equivalence_randomized(spark):
    """Property sweep: on randomized dup-heavy corpora (random copy
    counts, shared shingle pools, transitive near-dup chains, empty and
    single-token texts), the exemplar-level route must equal the
    member-level formulation row for row."""
    import random

    vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
    for trial in range(6):
        rng = random.Random(7000 + trial)
        rows, next_id = [], 1
        base_texts = []
        for g in range(rng.randint(2, 5)):
            # build chains: each text shares most tokens with the previous
            if base_texts and rng.random() < 0.5:
                toks = base_texts[-1].split()
                toks[rng.randrange(len(toks))] = rng.choice(vocab)
                txt = " ".join(toks)
            else:
                txt = " ".join(rng.choice(vocab) for _ in range(12)) * 2
            base_texts.append(txt)
            for _ in range(rng.randint(1, 6)):  # copies
                rows.append((next_id, txt)); next_id += 1
        for _ in range(rng.randint(0, 3)):  # noise docs
            rows.append((next_id, rng.choice(["tok", "", None,
                         "completely unrelated text " * 3]))); next_id += 1
        df = spark.createDataFrame(rows, "doc_id long, text string")
        kw = dict(min_est_jaccard=0.5, k=2, portable_hash=True)
        with persist_scope():  # each trial releases its own caches
            a = sorted((r.doc_id, r.comp, r.kept) for r in
                       dedup.fuzzy_dedup(df, unique_texts=False, **kw).collect())
            b = sorted((r.doc_id, r.comp, r.kept) for r in
                       dedup.fuzzy_dedup(df, unique_texts=True, **kw).collect())
        assert a == b, f"trial {trial}: member {a} != exemplar {b}"
