"""Plan-shape pins for the r12 optimization wave (OPTIMIZATION_r12.md).

Each test pins the STRUCTURAL property an r12 change bought, so a later
refactor that silently reintroduces the duplicated work fails here rather
than only in a bench regression.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from opteryx_spark.plans import explain_text


def test_remove_duplicate_chunks_slim_digest_persisted(spark, sf_dir):
    # r12: the slim digest frame is persisted so the chunking subtree runs
    # twice (slim fill + rebuild), not three times (guide §2.4)
    from opteryx_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    txt = explain_text(dedup.remove_duplicate_chunks(docs, chunk_tokens=16))
    assert "InMemoryRelation" in txt


def test_curate_incremental_delta_scanned_once(spark, sf_dir):
    # r12: the delta feeds four branches through ONE persisted slim
    # projection — the new-crawl source must appear once in the plan, not
    # once per branch (was 6 scans)
    from opteryx_spark.operators import curate, dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") < 250)
    new = docs.filter(F.col("doc_id") >= 250)
    cd = dedup.corpus_digests(corpus, method="fingerprint")
    wd = dedup.window_digests(corpus, "text", chunk_tokens=16, min_chunk_tokens=4)
    idx = dedup.minhash_index(corpus, portable_hash=True)
    out = curate.curate_incremental(new, cd, wd, idx)
    txt = explain_text(out)
    # the >=250 pushed filter marks a delta parquet scan; the persisted
    # slim projection leaves exactly one
    assert txt.count("GreaterThanOrEqual(doc_id,250)") == 1, txt.count(
        "GreaterThanOrEqual(doc_id,250)"
    )


def test_quality_features_tokenize_staged_once(spark, sf_dir):
    # r12: the base select stages the token array once — the composed
    # quality_features plan carried 20 split+filter tokenizes before, 7
    # after; pin a ceiling between the two
    from opteryx_spark.operators import filtering

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    txt = explain_text(filtering.quality_features(docs))
    assert txt.count("filter(split") <= 10, txt.count("filter(split")
