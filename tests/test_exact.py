"""Cross-engine exactness of the decimal-routed aggregate helpers: the
Spark column and the DuckDB SQL text must agree cell-for-cell."""

from __future__ import annotations

import duckdb
import pytest

from data_engineering_for_e_commerce_logistics_spark.functions import (
    exact_avg,
    sql_exact_avg,
)


@pytest.mark.parametrize(
    "values",
    [
        # one value whose mean sits on a half-cent boundary: a plain
        # round(double, 2) gives .54 in Spark and .53 in DuckDB
        [270699.535],
        [16902.725],
        [0.125, 0.125],
        [1.005, 1.005, 1.005],
        # an all-null group: count = 0, NULL in both engines
        [None],
    ],
)
def test_exact_avg_matches_duckdb_on_half_cent_means(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "x double")
    got = df.agg(exact_avg("x").alias("m")).collect()[0]["m"]

    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE t (x DOUBLE)")
        con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in values])
        want = con.execute(f"SELECT {sql_exact_avg('x')} FROM t").fetchone()[0]
    finally:
        con.close()
    assert got == want

