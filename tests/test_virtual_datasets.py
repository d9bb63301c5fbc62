"""Virtual datasets are local relations: no RDD scan in their plans, and
the same schema and rows as building them from a Python list or from a
Spark parquet read."""

from __future__ import annotations

import os

import pytest

import opteryx_spark as ox
from opteryx_spark import virtual


@pytest.fixture(scope="module")
def conn(spark):
    return ox.connect(spark=spark)


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_virtual_views_have_no_rdd_scan(conn, spark):
    # $variables / $statistics / $user are rebuilt when a statement names them
    conn.cursor().execute("SELECT * FROM $variables, $statistics, $user LIMIT 1").fetchall()
    views = [t.name for t in spark.catalog.listTables() if t.name.startswith("virtual_")]
    assert {
        "virtual_planets", "virtual_no_table", "virtual_stop_words", "virtual_satellites",
        "virtual_astronauts", "virtual_missions", "virtual_variables",
        "virtual_statistics", "virtual_user",
    } <= set(views)
    for name in views:
        assert "LogicalRDD" not in _optimized_plan(spark.table(name)), name


@pytest.mark.parametrize(
    "sql",
    [
        "SET @probe = 1; SHOW @probe",
        "SHOW CREATE VIEW launches",
        "SHOW COLUMNS FROM $astronauts",
        "EXPLAIN SELECT * FROM $planets",
        "EXPLAIN ANALYZE SELECT * FROM $planets",
        "EXPLAIN FORMAT MERMAID SELECT * FROM $planets",
    ],
)
def test_engine_built_results_have_no_rdd_scan(conn, sql):
    cur = conn.cursor().execute(sql)
    assert "LogicalRDD" not in _optimized_plan(cur.df)
    assert cur.fetchall()


# Reference builds through Spark itself: a Python-list createDataFrame, and
# a parquet read with zone-less timestamps cast to TIMESTAMP.
def _from_parquet_read(spark, name):
    df = spark.read.parquet(os.path.join(virtual._DATA_DIR, f"{name}.parquet"))
    for field, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(field, df[field].cast("timestamp"))
    return df


REFERENCE_BUILDS = {
    "planets": lambda s: s.createDataFrame(virtual._PLANETS, virtual._PLANET_SCHEMA),
    "no_table": lambda s: s.createDataFrame([(0,)], "`$column` BIGINT"),
    "stop_words": lambda s: s.createDataFrame([(w,) for w in virtual._STOP_WORDS], "value STRING"),
    "satellites": lambda s: _from_parquet_read(s, "satellites"),
    "astronauts": lambda s: _from_parquet_read(s, "astronauts"),
    "missions": lambda s: _from_parquet_read(s, "missions"),
}


@pytest.mark.parametrize("name", sorted(REFERENCE_BUILDS))
def test_virtual_dataset_matches_reference_build(conn, spark, name):
    got = spark.table(f"virtual_{name}")
    want = REFERENCE_BUILDS[name](spark)
    # StructType equality covers names, types, nullability (nested too)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
