"""Cursor result state: one shared fetch position per statement (PEP 249)
and a ``rowcount`` that costs no Spark job once the result has been read."""

from __future__ import annotations

import itertools

import pytest

import opteryx_spark as ox
from opteryx_spark.catalog import register_sf_dir

_GROUPS = itertools.count()

# The statement shapes of the benchmark's point_sql workload
# (perfbench/workloads.py), with parameters that hit rows in the sf0.001
# test data.
POINT_SHAPES = {
    "orders_by_key": (
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, "
        "o_orderpriority FROM orders WHERE o_orderkey = :k",
        {"k": 7},
    ),
    "orders_by_customer": (
        "SELECT o_orderkey, o_orderdate, o_totalprice FROM orders "
        "WHERE o_custkey = :c ORDER BY o_orderkey",
        {"c": 19},
    ),
    "customer_by_key": (
        "SELECT c.c_custkey, c.c_name, c.c_mktsegment, n.n_name FROM customer c "
        "JOIN nation n ON c.c_nationkey = n.n_nationkey WHERE c.c_custkey = :c",
        {"c": 19},
    ),
    "q6_window": (
        "SELECT SUM(l_extendedprice * l_discount) AS revenue, COUNT(*) AS n_lines "
        "FROM lineitem WHERE l_shipdate >= CAST(:d0 AS TIMESTAMP) "
        "AND l_shipdate < CAST(:d1 AS TIMESTAMP) "
        "AND l_discount BETWEEN :lo AND :hi AND l_quantity < :qty",
        {"d0": "1996-01-01", "d1": "1997-01-01", "lo": 0.04, "hi": 0.06, "qty": 25},
    ),
    "planets": (
        "SELECT id, name, gravity, numberOfMoons FROM $planets WHERE id <= :n ORDER BY id",
        {"n": 8},
    ),
    "satellites": (
        "SELECT s.name, s.radius FROM $satellites AS s "
        "INNER JOIN $planets AS p ON p.id = s.planetId WHERE p.name = :planet "
        "ORDER BY s.name",
        {"planet": "Jupiter"},
    ),
    "generate_series": ("SELECT * FROM GENERATE_SERIES(1, :n)", {"n": 95}),
    "distinct_on": (
        "SELECT DISTINCT ON (user_id) user_id, event_id, event_type FROM events "
        "WHERE user_id >= :u AND user_id < :u_end ORDER BY user_id, ts, event_id",
        {"u": 2, "u_end": 12},
    ),
    "json_arrow": (
        "SELECT props->>'k' AS k, COUNT(*) AS n FROM events WHERE user_id = :u "
        "GROUP BY props->>'k' ORDER BY k",
        {"u": 3},
    ),
}


@pytest.fixture(scope="module")
def conn(spark, sf_dir):
    c = ox.connect(spark=spark)
    register_sf_dir(spark, sf_dir)
    return c


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn`` runs, counted under a job group of its own."""
    sc = spark.sparkContext
    group = f"test-cursor-results-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status tracker is fed by the listener bus, asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


NATION_SQL = "SELECT n_nationkey FROM nation ORDER BY 1"
NATION_KEYS = [(k,) for k in range(25)]


@pytest.mark.parametrize("shape", sorted(POINT_SHAPES))
def test_point_statement_runs_only_its_result_jobs(conn, spark, shape):
    sql, params = POINT_SHAPES[shape]
    cur = conn.cursor()
    out = {}

    def dashboard():
        cur.execute(sql, params)
        out["desc"] = cur.description
        out["rows"] = cur.fetchall()
        out["rowcount"] = cur.rowcount

    statement_jobs = _jobs(spark, dashboard)
    assert out["desc"] is not None
    assert out["rowcount"] == len(out["rows"]) > 0
    # the same statement, freshly planned, collected once
    df = conn.cursor().execute(sql, params).df
    assert statement_jobs == _jobs(spark, df.collect)


def test_fetchall_returns_remaining_rows(conn):
    cur = conn.cursor().execute(NATION_SQL)
    assert cur.fetchone() == (0,)
    assert cur.fetchmany(2) == [(1,), (2,)]
    assert cur.fetchall() == NATION_KEYS[3:]
    assert cur.fetchone() is None
    assert cur.fetchmany(4) == []
    assert cur.fetchall() == []
    assert cur.rowcount == 25


def test_fetchall_ends_the_result(conn):
    cur = conn.cursor().execute(NATION_SQL)
    assert cur.fetchall() == NATION_KEYS
    assert cur.fetchone() is None
    assert cur.fetchmany(3) == []
    assert cur.fetchall() == []


def test_rowcount_after_full_fetch_runs_no_job(conn, spark):
    for read in (
        lambda c: c.fetchall(),
        lambda c: c.fetchmany(30),
        lambda c: [c.fetchone() for _ in range(26)],
        lambda c: c.arrow(),
        lambda c: c.pandas(),
    ):
        cur = conn.cursor().execute(NATION_SQL)
        read(cur)
        assert _jobs(spark, lambda: cur.rowcount) == 0
        assert cur.rowcount == 25


def test_rowcount_of_partial_fetch_counts_once(conn, spark):
    cur = conn.cursor().execute(NATION_SQL)
    # exactly the remaining rows: the end of the result is not yet seen
    assert cur.fetchmany(25) == NATION_KEYS
    count_jobs = _jobs(spark, conn.cursor().execute(NATION_SQL).df.count)
    assert _jobs(spark, lambda: cur.rowcount) == count_jobs > 0
    assert _jobs(spark, lambda: cur.rowcount) == 0
    assert cur.rowcount == 25
    assert cur.fetchone() is None


def test_arrow_and_pandas_ignore_fetch_position(conn):
    cur = conn.cursor().execute(NATION_SQL)
    cur.fetchmany(5)
    assert cur.arrow().num_rows == 25
    assert len(cur.pandas()) == 25
    assert cur.fetchone() == (5,)


def test_execute_and_close_clear_result_state(conn):
    cur = conn.cursor().execute(NATION_SQL)
    cur.fetchall()
    assert cur.rowcount == 25
    cur.execute("SELECT n_nationkey FROM nation WHERE n_nationkey < 3 ORDER BY 1")
    assert cur.fetchone() == (0,)
    assert cur.rowcount == 3
    assert cur.fetchall() == [(1,), (2,)]
    cur.close()
    with pytest.raises(RuntimeError):
        cur.rowcount
    with pytest.raises(RuntimeError):
        cur.fetchone()
