"""Workloads: seeded op lists for ``point_sql`` and the ``ops_pipeline`` ops.

A run is a closed loop with one client thread.  Ops come in rounds: every
round issues each template (or operator unit) once, in an order the seed
shuffles, so every complete round does the same mix of work.  The seed also
draws each SQL statement's parameters.  The engine only ever sees the
generated SQL with its parameters, or the operator arguments.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

WORKLOADS = ("point_sql", "ops_pipeline")

# ops_pipeline's cost is fixed per call (plan building, eager jobs), not per
# row, so it runs on smaller tables: 500 documents at scale 0.01 instead of
# 5000 at 0.1.  Its one-time DuckDB oracle build then takes under 30 s
# instead of 140 s (the fuzzy-dedup oracle's closure grows faster than the
# corpus).
OPS_MAX_SCALE = 0.01


def table_scale(workload: str, scale: float) -> float:
    """Scale of the tables ``workload`` runs on, for the ``--scale`` given."""
    return min(scale, OPS_MAX_SCALE) if workload == "ops_pipeline" else scale


# the two planets with the most catalogued satellites (67 and 61 rows), so
# the rows a round returns barely depend on the seed
GAS_GIANTS = ["Jupiter", "Saturn"]


@dataclass(frozen=True)
class Sizes:
    """Key ranges of the generated tables (see ``datagen.build_tables``)."""

    orders: int
    customers: int
    users: int

    @classmethod
    def for_scale(cls, scale: float) -> Sizes:
        return cls(int(1_500_000 * scale), int(150_000 * scale), max(int(15_000 * scale), 10))


def _q6_params(r: random.Random, s: Sizes) -> dict:
    year, month, disc = r.randint(1995, 2000), r.randint(1, 12), r.randint(2, 8)
    return {
        "d0": f"{year}-{month:02d}-01",
        "d1": f"{year + 1}-{month:02d}-01",
        "lo": (disc - 1) / 100,
        "hi": (disc + 1) / 100,
        "qty": r.randint(20, 30),
    }


def _user_window(r: random.Random, s: Sizes) -> dict:
    u = r.randrange(max(s.users - 20, 1))
    return {"u": u, "u_end": u + 20}


# name -> (SQL with :name parameters, parameter generator).  Each returns at
# most 100 rows: dashboard-style statements whose cost is per-statement
# fixed cost, not execution.  Parameter ranges keep the rows per round
# nearly independent of the seed.
POINT_TEMPLATES = {
    "orders_by_key": (
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, "
        "o_orderpriority FROM orders WHERE o_orderkey = :k",
        lambda r, s: {"k": r.randrange(s.orders)},
    ),
    "orders_by_customer": (
        "SELECT o_orderkey, o_orderdate, o_totalprice FROM orders "
        "WHERE o_custkey = :c ORDER BY o_orderkey",
        lambda r, s: {"c": r.randrange(s.customers)},
    ),
    "customer_by_key": (
        "SELECT c.c_custkey, c.c_name, c.c_mktsegment, n.n_name FROM customer c "
        "JOIN nation n ON c.c_nationkey = n.n_nationkey WHERE c.c_custkey = :c",
        lambda r, s: {"c": r.randrange(s.customers)},
    ),
    "q6_window": (
        "SELECT SUM(l_extendedprice * l_discount) AS revenue, COUNT(*) AS n_lines "
        "FROM lineitem WHERE l_shipdate >= CAST(:d0 AS TIMESTAMP) "
        "AND l_shipdate < CAST(:d1 AS TIMESTAMP) "
        "AND l_discount BETWEEN :lo AND :hi AND l_quantity < :qty",
        _q6_params,
    ),
    "planets": (
        "SELECT id, name, gravity, numberOfMoons FROM $planets WHERE id <= :n ORDER BY id",
        lambda r, s: {"n": r.randint(7, 9)},
    ),
    "satellites": (
        "SELECT s.name, s.radius FROM $satellites AS s "
        "INNER JOIN $planets AS p ON p.id = s.planetId WHERE p.name = :planet "
        "ORDER BY s.name",
        lambda r, s: {"planet": r.choice(GAS_GIANTS)},
    ),
    "generate_series": (
        "SELECT * FROM GENERATE_SERIES(1, :n)",
        lambda r, s: {"n": r.randint(90, 100)},
    ),
    "distinct_on": (
        "SELECT DISTINCT ON (user_id) user_id, event_id, event_type FROM events "
        "WHERE user_id >= :u AND user_id < :u_end ORDER BY user_id, ts, event_id",
        _user_window,
    ),
    "json_arrow": (
        "SELECT props->>'k' AS k, COUNT(*) AS n FROM events WHERE user_id = :u "
        "GROUP BY props->>'k' ORDER BY k",
        lambda r, s: {"u": r.randrange(s.users)},
    ),
}

# Operator units, each named after the registry entry whose arguments it
# uses; the postings write and the BM25 search that reads it back form one
# unit so the read always follows its write.  The registry's
# ``curate_pipeline_v2``, ``events_sessionize``, ``emb_knn_join`` and
# ``text_quality_features`` are left out to fit the run-time budget (see
# README.md).
PIPELINE_UNITS = (
    ("dedup_fuzzy_keepers",),
    ("postings_write", "text_bm25_search_index"),
)
PIPELINE_OPS = tuple(name for unit in PIPELINE_UNITS for name in unit)


@dataclass(frozen=True)
class Op:
    op_id: int
    template: str
    sql: str | None = None
    params: dict = field(default_factory=dict)


def op_rounds(workload: str, seed: int, scale: float, n_rounds: int) -> list[list[Op]]:
    """The first ``n_rounds`` rounds of the seeded op sequence."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}")
    rng = random.Random(f"{workload}:{seed}")
    sizes = Sizes.for_scale(scale)
    rounds, op_id = [], 0
    for _ in range(n_rounds):
        ops = []
        if workload == "point_sql":
            names = sorted(POINT_TEMPLATES)
            rng.shuffle(names)
            for name in names:
                sql, gen = POINT_TEMPLATES[name]
                ops.append(Op(op_id, name, sql, gen(rng, sizes)))
                op_id += 1
        else:
            units = list(PIPELINE_UNITS)
            rng.shuffle(units)
            for unit in units:
                for name in unit:
                    ops.append(Op(op_id, name))
                    op_id += 1
        rounds.append(ops)
    return rounds


# --- ops_pipeline operator calls -------------------------------------------------
#
# Each op mirrors the registry entry of the same name (opteryx_spark/suite):
# same inputs, same operator arguments, same post-processing, so the entry's
# DuckDB oracle checks it.  ``build`` returns the DataFrame to materialize;
# ``postings_write`` instead returns the frames it writes.

BM25_QUERIES = [("q1", ["join", "vector"]), ("q2", ["customer", "query"]), ("q3", ["window"])]


def build_op(name: str, spark, data_dir: str, artifact_dir: str):
    from opteryx_spark import catalog
    from opteryx_spark.operators import dedup, retrieval

    def table(t):
        return catalog.load_table(spark, data_dir, t)

    if name == "dedup_fuzzy_keepers":
        return dedup.fuzzy_dedup(
            table("documents"), "doc_id", "text", min_est_jaccard=0.5, k=2,
            unique_texts="auto", portable_hash=True,
        ).orderBy("doc_id")
    if name == "postings_write":
        docs = table("documents")
        return retrieval.postings_index(docs), retrieval.index_stats(docs)
    if name == "text_bm25_search_index":
        index = spark.read.parquet(f"{artifact_dir}/postings")
        stats = spark.read.parquet(f"{artifact_dir}/stats")
        return retrieval.bm25_search(index, BM25_QUERIES, k=5, stats=stats)
    raise ValueError(f"unknown op {name!r}")


def write_postings(frames, artifact_dir: str) -> None:
    postings, stats = frames
    postings.write.mode("overwrite").parquet(f"{artifact_dir}/postings")
    stats.write.mode("overwrite").parquet(f"{artifact_dir}/stats")


POSTINGS_COLS = ["n_docs", "n_postings", "n_terms", "sum_dl", "sum_tf", "sumdl"]


def postings_summary(artifact_dir: str) -> list[tuple]:
    """One row summarising the written artifact, in ``POSTINGS_COLS`` order."""
    import pyarrow.compute as pc
    import pyarrow.dataset as pads

    post = pads.dataset(f"{artifact_dir}/postings", format="parquet").to_table()
    stats = pads.dataset(f"{artifact_dir}/stats", format="parquet").to_table().to_pylist()
    (st,) = stats
    return [(
        int(st["n_docs"]),
        post.num_rows,
        len(pc.unique(post["term"])),
        int(pc.sum(post["dl"]).as_py() or 0),
        int(pc.sum(post["tf"]).as_py() or 0),
        int(st["sumdl"]),
    )]


def postings_oracle() -> str:
    """DuckDB twin of ``postings_summary`` over the documents table, built on
    the registry's tokenizer expression."""
    from opteryx_spark.suite.pipeline import _O_TOKENS

    return f"""
    WITH p AS (
      SELECT tk AS term, doc_id, COUNT(*) AS tf, dl
      FROM (SELECT doc_id, COALESCE(len({_O_TOKENS}), 0) AS dl,
                   unnest({_O_TOKENS}) AS tk FROM documents)
      GROUP BY tk, doc_id, dl
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sumdl
      FROM (SELECT COALESCE(len({_O_TOKENS}), 0) AS dl FROM documents) WHERE dl > 0
    )
    SELECT s.n_docs, CAST(COUNT(*) AS BIGINT) AS n_postings,
           CAST(COUNT(DISTINCT term) AS BIGINT) AS n_terms,
           CAST(SUM(dl) AS BIGINT) AS sum_dl, CAST(SUM(tf) AS BIGINT) AS sum_tf, s.sumdl
    FROM p, s GROUP BY s.n_docs, s.sumdl
    """


def oracle_sql(name: str) -> str:
    if name == "postings_write":
        return postings_oracle()
    from opteryx_spark.suite import load_all

    oracle = load_all()[name].oracle
    if oracle is None:
        raise ValueError(f"registry entry {name!r} has no oracle")
    return oracle
