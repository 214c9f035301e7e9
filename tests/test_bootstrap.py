"""Deterministic Poisson bootstrap (pre-built r13): a constant column
reads boot_std exactly 0 with a degenerate CI at the value, the CI
contains the estimate on real data, replicate weights are honest
Poisson(1) draws (mean ≈ 1), the result is deterministic across
runs, the sf0.01 result matches the DuckDB oracle bitwise, and the
plan collapses to the B-row frame through one exchange."""

from data_engineering_for_e_commerce_logistics_spark.operators.corpus import (
    POISSON1_CDF,
)

SF = "/root/testdata/sf0.01"


def _df(spark, vals):
    return spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "doc_id long, x long"
    )


def test_poisson_ladder_is_honest(spark):
    """The inverse-CDF ladder must produce draws with mean ≈ 1 over
    many (id, replicate) hashes — the property that makes the
    Poisson bootstrap consistent."""
    from pyspark.sql import functions as F

    df = _df(spark, [1] * 2000)
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("doc_id").cast("string"), F.lit(":"),
                        F.col("__b").cast("string"),
                    )
                ), 1, 8,
            ), 16, 10,
        ).cast("long").cast("double") / F.lit(4294967296.0)
    )
    w = (
        F.when(u < POISSON1_CDF[0], 0)
        .when(u < POISSON1_CDF[1], 1)
        .when(u < POISSON1_CDF[2], 2)
        .when(u < POISSON1_CDF[3], 3)
        .when(u < POISSON1_CDF[4], 4)
        .otherwise(5)
    )
    stats = (
        df.select("doc_id", F.explode(F.sequence(F.lit(0), F.lit(9))).alias("__b"))
        .select(w.alias("w"))
        .agg(F.avg("w").alias("m"), F.variance("w").alias("v"))
        .collect()[0]
    )
    assert abs(stats.m - 1.0) < 0.05
    assert abs(stats.v - 1.0) < 0.1  # Poisson(1): variance == mean
