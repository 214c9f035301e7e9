"""Ordered-step funnel: greedy strict-order matching
laws — out-of-order steps don't count, equal timestamps don't
advance, partial funnels stop where they stop, greedy-earliest equals
the iterated-min relational construction — plus the sf0.01 bitwise
DuckDB differential and the one-user-shuffle plan guard."""

from datetime import datetime

from data_engineering_for_e_commerce_logistics_spark.operators.temporal import (
    event_funnel,
)
from data_engineering_for_e_commerce_logistics_spark.plans import (
    analytics_queries as aq,
)
from tests.oracle import compare_frames, duckdb_conn

SF = "/root/testdata/sf0.01"
STEPS = ("view", "click", "purchase")


def _ev(spark, rows):
    return spark.createDataFrame(
        [(u, datetime(2024, 1, 1, 0, 0, s), e) for u, s, e in rows],
        "user_id long, ts timestamp, event_type string",
    )


def _stages(spark, rows):
    out = event_funnel(_ev(spark, rows), STEPS).collect()
    return {r.step: r.n_users for r in out}


def test_complete_and_partial_funnels(spark):
    rows = [
        (1, 0, "view"), (1, 10, "click"), (1, 20, "purchase"),  # full
        (2, 0, "view"), (2, 10, "click"),                       # stops at 2
        (3, 0, "view"),                                         # stops at 1
        (4, 0, "click"), (4, 10, "purchase"),                   # never starts
    ]
    assert _stages(spark, rows) == {1: 3, 2: 2, 3: 1}


def test_out_of_order_does_not_count(spark):
    """click BEFORE the first view must not satisfy step 2."""
    rows = [(1, 0, "click"), (1, 10, "view"), (1, 20, "purchase")]
    assert _stages(spark, rows) == {1: 1, 2: 0, 3: 0}


def test_equal_timestamps_do_not_advance(spark):
    """Strict inequality in BOTH engines: a click at the view's exact
    timestamp is not 'after' it."""
    rows = [(1, 0, "view"), (1, 0, "click"), (1, 10, "purchase")]
    assert _stages(spark, rows) == {1: 1, 2: 0, 3: 0}


def test_greedy_equals_iterated_min(spark):
    """The case where greedy-earliest matters: view@0, click@5,
    view@10, purchase@7 — greedy binds click to the FIRST view and
    purchase@7 > 5 converts; binding to the later view would miss it.
    The relational construction (min-after-previous-min) picks the
    same anchors."""
    rows = [(1, 0, "view"), (1, 5, "click"), (1, 10, "view"),
            (1, 7, "purchase")]
    assert _stages(spark, rows) == {1: 1, 2: 1, 3: 1}


def test_ratios_and_empty_guard(spark):
    rows = [
        (1, 0, "view"), (1, 1, "click"), (1, 2, "purchase"),
        (2, 0, "view"), (2, 1, "click"),
        (3, 0, "view"), (4, 0, "view"),
    ]
    out = {r.step: r for r in event_funnel(_ev(spark, rows), STEPS).collect()}
    assert out[2].conv_from_first == 0.5
    assert out[3].conv_from_first == 0.25
    assert out[3].drop_from_prev == 0.5
    empty = event_funnel(
        _ev(spark, [(1, 0, "click")]), STEPS
    ).collect()
    assert all(r.n_users == 0 for r in empty)
    assert all(r.conv_from_first is None for r in empty)


def test_funnel_matches_duckdb(spark):
    spdf = aq.funnel_events(spark, SF).toPandas()
    conn = duckdb_conn(SF)
    opdf = conn.execute(aq.FUNNEL_EVENTS_SQL).fetchdf()
    conn.close()
    assert len(spdf) == 3
    assert compare_frames(spdf, opdf, "funnel_events") == []


def test_funnel_plan_one_user_shuffle(spark):
    """100 TB guard: step types filtered at the scan (pushed), ONE
    exchange on the user key, the greedy match inside codegen — no
    joins at all, no window over the corpus."""
    from tests.test_plans import _plan_of

    plan = _plan_of(spark, aq.funnel_events)
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("hashpartitioning(__u") >= 1
    assert "PushedFilters" in plan
