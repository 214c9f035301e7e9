"""DoReMi-style domain mixture reweighting (pre-built r13): a distinct
domain must earn weight, identical domains must stay uniform, weights
must live on the smoothed simplex, the sf0.01 result must match the
unrolled-CTE DuckDB oracle bitwise, and the plan must collapse the
corpus to the (domain × bucket) grid in one fused pass."""


from data_engineering_for_e_commerce_logistics_spark.operators.corpus import (
    domain_reweight,
)

SF = "/root/testdata/sf0.01"


def _mk(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    )


def _planted(spark):
    """Two vocabulary-sharing domains plus one disjoint-vocabulary
    domain: the mixture LM models the shared pair well and the
    outlier badly, so the outlier's excess loss — and weight — must
    come out on top."""
    rows = []
    i = 0
    for d, words in (
        ("shared_a", "the cat sat on the mat and the dog ran"),
        ("shared_b", "the dog sat on the mat and the cat ran"),
        ("outlier", "zq xv wk jj qz vx kw jx zz vv ww qq"),
    ):
        for r in range(12):
            rows.append((i, d, words + f" tail{r % 3}"))
            i += 1
    return _mk(spark, rows)


def test_distinct_domain_earns_weight(spark):
    out = {r.source: r for r in domain_reweight(_planted(spark)).collect()}
    assert out["outlier"].excess > out["shared_a"].excess
    assert out["outlier"].excess > out["shared_b"].excess
    assert out["outlier"].weight > out["shared_a"].weight
    assert out["outlier"].weight > out["shared_b"].weight
    assert out["outlier"].alpha > 1.0 / 3.0


def test_identical_domains_stay_uniform(spark):
    """Three copies of the same text distribution: every domain's
    excess is identical, so multiplicative updates cancel in the
    normalization and the weights stay exactly uniform (the rounding
    is applied to identical values)."""
    rows = []
    i = 0
    for d in ("a", "b", "c"):
        for r in range(10):
            rows.append((i, d, f"alpha beta gamma delta tail{r % 4}"))
            i += 1
    out = domain_reweight(_mk(spark, rows)).collect()
    ws = sorted(r.weight for r in out)
    assert abs(ws[0] - ws[-1]) < 1e-9
    assert abs(sum(r.alpha for r in out) - 1.0) < 1e-6


def test_weights_on_smoothed_simplex(spark):
    """Weights sum to 1 (within the 9dp rounding) and the uniform
    smoothing floors every domain at smooth/K — no domain is ever
    starved to zero, the paper's stability guarantee."""
    out = domain_reweight(_planted(spark), smooth=0.2).collect()
    assert abs(sum(r.weight for r in out) - 1.0) < 1e-6
    for r in out:
        assert r.weight >= 0.2 / 3 - 1e-9
        assert r.excess >= 0.0


def test_eta_zero_is_uniform(spark):
    """η = 0 turns every multiplicative update into ×1: alpha must
    come back exactly uniform regardless of the losses."""
    out = domain_reweight(_planted(spark), eta=0.0).collect()
    for r in out:
        assert abs(r.alpha - 1.0 / 3.0) < 1e-9


def test_more_iters_sharpens(spark):
    """With a static loss landscape, more multiplicative rounds can
    only push MORE weight onto the highest-excess domain."""
    w1 = {
        r.source: r.alpha
        for r in domain_reweight(_planted(spark), n_iters=1).collect()
    }
    w3 = {
        r.source: r.alpha
        for r in domain_reweight(_planted(spark), n_iters=3).collect()
    }
    assert w3["outlier"] >= w1["outlier"] - 1e-9
