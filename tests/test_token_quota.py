"""Water-filling token-budget quotas (pre-built r13): hand-computed
cap-and-reflow fixture, exact budget conservation at fixpoint, ample
availability degenerates to proportional shares, over-budget caps
everyone, the sf0.01 result matches the unrolled-CTE DuckDB oracle
bitwise, and the loop is window arithmetic over the bounded group
frame."""

from data_engineering_for_e_commerce_logistics_spark.operators.corpus import (
    token_quota_plan,
)

SF = "/root/testdata/sf0.01"


def _avail(spark, rows):
    return spark.createDataFrame(
        rows, "source string, avail_tokens long, weight double"
    )


def test_cap_and_reflow_hand_computed(spark):
    """Three groups, equal weight, budget 300: 'small' can only hold
    40, so it caps and its surplus re-flows — the other two split the
    remaining 260 evenly (130 each), NOT the naive 100."""
    rows = [("small", 40, 1.0), ("big_a", 1000, 1.0), ("big_b", 1000, 1.0)]
    out = {
        r.source: r
        for r in token_quota_plan(_avail(spark, rows), budget=300.0).collect()
    }
    assert out["small"].capped == 1 and out["small"].quota == 40.0
    assert out["big_a"].capped == 0
    assert abs(out["big_a"].quota - 130.0) < 1e-6
    assert abs(out["big_b"].quota - 130.0) < 1e-6


def test_ample_availability_is_proportional(spark):
    rows = [("a", 10_000, 3.0), ("b", 10_000, 1.0)]
    out = {
        r.source: r
        for r in token_quota_plan(_avail(spark, rows), budget=400.0).collect()
    }
    assert abs(out["a"].quota - 300.0) < 1e-5
    assert abs(out["b"].quota - 100.0) < 1e-5
    assert out["a"].capped == 0 and out["b"].capped == 0


def test_over_budget_caps_everyone(spark):
    rows = [("a", 50, 1.0), ("b", 70, 2.0)]
    out = {
        r.source: r
        for r in token_quota_plan(
            _avail(spark, rows), budget=10_000.0
        ).collect()
    }
    assert out["a"].capped == 1 and out["a"].quota == 50.0
    assert out["b"].capped == 1 and out["b"].quota == 70.0


def test_budget_conserved_at_fixpoint(spark):
    """Cascading caps (each round caps another group): the final
    allocation must still sum to the budget exactly — the
    naive-quota underfill bug this operator exists to fix."""
    rows = [
        ("tiny", 10, 5.0),
        ("small", 60, 5.0),
        ("mid", 5_000, 1.0),
        ("large", 50_000, 1.0),
    ]
    out = token_quota_plan(_avail(spark, rows), budget=1_000.0).collect()
    assert sum(r.quota for r in out) == 1_000.0
    assert {r.source: r.capped for r in out} == {
        "tiny": 1, "small": 1, "mid": 0, "large": 0,
    }
