"""Weekly cohort retention (pre-built r13): hand-planted cohorts
produce the hand-computed matrix, period-0 retention is exactly 1.0
for every cohort, retention never exceeds 1, a returning user counts
once per week, the sf0.01 result matches the DuckDB oracle bitwise,
and the plan has no corpus window and a broadcast cohort-size join."""

from datetime import datetime

from data_engineering_for_e_commerce_logistics_spark.operators.temporal import (
    cohort_retention,
)
from data_engineering_for_e_commerce_logistics_spark.plans import (
    analytics_queries as aq,
)
from tests.oracle import compare_frames, duckdb_conn

SF = "/root/testdata/sf0.01"


def _ev(spark, rows):
    return spark.createDataFrame(
        [(u, datetime(2024, 1, d, h)) for u, d, h in rows],
        "user_id long, ts timestamp",
    )


def test_hand_computed_matrix(spark):
    """Cohort of week Jan-1: users 1,2,3; user 1 returns week 2
    (Jan 8+), user 2 returns week 3. Cohort of week Jan-8: user 4
    only."""
    rows = [
        (1, 1, 0), (2, 2, 0), (3, 3, 0),     # week 1 firsts
        (1, 8, 0),                            # u1 active week 2
        (2, 15, 0),                           # u2 active week 3
        (4, 9, 0),                            # week-2 cohort
    ]
    out = {
        (str(r.cohort_week), r.period): r
        for r in cohort_retention(_ev(spark, rows)).collect()
    }
    c1 = "2024-01-01"
    assert out[(c1, 0)].n_users == 3
    assert out[(c1, 1)].n_users == 1
    assert out[(c1, 2)].n_users == 1
    assert abs(out[(c1, 1)].retention - 1 / 3) < 1e-9
    assert out[("2024-01-08", 0)].n_users == 1
    for (_, p), r in out.items():
        if p == 0:
            assert r.retention == 1.0
        assert r.retention <= 1.0


def test_multiple_events_one_week_count_once(spark):
    rows = [(1, 1, 0), (1, 1, 5), (1, 2, 0), (1, 8, 0), (1, 9, 3)]
    out = {
        r.period: r.n_users
        for r in cohort_retention(_ev(spark, rows)).collect()
    }
    assert out == {0: 1, 1: 1}


def test_cohort_matches_duckdb(spark):
    spdf = aq.cohort_retention_events(spark, SF).toPandas()
    conn = duckdb_conn(SF)
    opdf = conn.execute(aq.COHORT_RETENTION_EVENTS_SQL).fetchdf()
    conn.close()
    assert len(spdf) > 0
    assert compare_frames(spdf, opdf, "cohort_retention_events") == []


def test_cohort_plan_shape(spark):
    """100 TB guard: distinct-activity + user-keyed aggregates, the
    cohort-size side broadcast — no corpus window, no sort-merge
    join, no cartesian."""
    from tests.test_plans import _plan_of

    plan = _plan_of(spark, aq.cohort_retention_events)
    assert "CartesianProduct" not in plan
    assert "windowspecdefinition" not in plan
    assert "BroadcastHashJoin" in plan
