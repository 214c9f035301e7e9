"""Corpus-pipeline operator tests: decontamination, quality funnel,
repetition stats, deterministic split / stratified sampling, TF-IDF,
cluster representatives, PII redaction."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from data_engineering_for_e_commerce_logistics_spark.operators import corpus

# --- decontamination --------------------------------------------------------


def test_decontaminate_flags_overlap(spark):
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    corp = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps high today yes"),  # 3 shared 3-grams
            (2, "completely different words entirely here now"),
            (3, "quick brown fox"),  # 1 shared 3-gram
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in corpus.decontaminate(corp, bench, min_overlap=3).collect()
    }
    assert out[1].overlap_shingles == 3 and out[1].contaminated
    assert out[2].overlap_shingles == 0 and not out[2].contaminated
    assert out[3].overlap_shingles == 1 and not out[3].contaminated


def test_decontaminate_keeps_all_corpus_rows(spark):
    bench = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    corp = spark.createDataFrame(
        [(i, "x y") for i in range(5)], "doc_id long, text string"
    )  # fewer tokens than k → empty shingle arrays
    out = corpus.decontaminate(corp, bench)
    assert out.count() == 5
    assert out.filter(F.col("contaminated")).count() == 0


# --- quality funnel ---------------------------------------------------------


def test_quality_funnel_counts(spark):
    words = [a + b for a in "abcde" for b in "fghijk"]  # 30 distinct, alphabetic
    long_ok = "the " + " ".join(words)  # 31 tokens, stopword, no repetition
    short = "x y"  # too_short + low_stopword + word_len (avg 1.0 < 2)
    repetitive = " ".join(["the dog"] * 20)  # 40 tokens, dup-2-gram ≈ 0.95
    df = spark.createDataFrame(
        [(1, long_ok), (2, short), (3, repetitive)], "doc_id long, text string"
    )
    row = corpus.quality_funnel(df).first()
    assert row.n_docs == 3
    assert row.fail_too_short == 1  # short only (repetitive has 40 tokens)
    assert row.fail_too_long == 0
    assert row.fail_low_stopword == 1  # short
    assert row.fail_word_len_out_of_range == 1  # short: avg 1.0
    assert row.fail_low_alpha == 0
    assert row.fail_repetitive == 1  # the repetitive doc
    assert row.n_retained == 1  # long_ok survives every rule


def test_quality_funnel_retained_consistent(spark):
    rows = [(i, f"doc {i} " + " ".join(f"tok{j}" for j in range(30))) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    row = corpus.quality_funnel(df).first()
    # retained ≤ n_docs - max(single-rule fails); all counts non-negative
    fails = [v for k, v in row.asDict().items() if k.startswith("fail_")]
    assert all(f >= 0 for f in fails)
    assert 0 <= row.n_retained <= row.n_docs
    assert row.n_retained >= row.n_docs - sum(fails)


# --- repetition stats -------------------------------------------------------


def test_repetition_stats_known_values(spark):
    df = spark.createDataFrame(
        [(1, "a a a a"), (2, "a b c d")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in corpus.repetition_stats(df).collect()}
    # doc 1: 4 tokens, 1 distinct → dup_token_frac = 0.75; 3 2-grams all
    # "a a" → dup_2gram_frac = 1 - 1/3; top token count 4
    assert out[1].dup_token_frac == 0.75
    assert out[1].dup_2gram_frac == pytest.approx(round(1 - 1 / 3, 4))
    assert out[1].top_token_count == 4 and out[1].top_token_frac == 1.0
    # doc 2: all distinct
    assert out[2].dup_token_frac == 0.0
    assert out[2].dup_2gram_frac == 0.0
    assert out[2].top_token_count == 1 and out[2].top_token_frac == 0.25


def test_repetition_single_token_doc(spark):
    df = spark.createDataFrame([(1, "solo")], "doc_id long, text string")
    r = corpus.repetition_stats(df).first()
    assert r.n_tokens == 1 and r.dup_2gram_frac == 0.0


# --- deterministic split + stratified sample --------------------------------


def test_split_assign_deterministic_and_total(spark):
    df = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    a = corpus.split_assign(df).collect()
    b = corpus.split_assign(df).collect()
    assert {r.doc_id: r.split for r in a} == {r.doc_id: r.split for r in b}
    splits = {r.split for r in a}
    assert splits <= {"train", "val", "test"}
    # 13/16 expectation: train strictly dominates at n=200
    counts = {s: sum(1 for r in a if r.split == s) for s in splits}
    assert counts["train"] > counts.get("val", 0) + counts.get("test", 0)


def test_stratified_sample_exact_n(spark):
    rows = [(i, "en" if i % 2 == 0 else "fr") for i in range(40)]
    df = corpus.split_assign(
        spark.createDataFrame(rows, "doc_id long, lang string")
    )
    out = corpus.stratified_sample_flag(df, ["lang"], 5, "hash_key")
    per_lang = (
        out.filter("in_sample").groupBy("lang").count().collect()
    )
    assert {r.lang: r["count"] for r in per_lang} == {"en": 5, "fr": 5}


# --- sequence packing -------------------------------------------------------


def test_pack_sequences_offsets_and_bins(spark):
    rows = [(i, "s", " ".join(["w"] * 100)) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = corpus.pack_sequences(df, token_budget=250).collect()
    # within each (source, shard) stream: offsets are the running token
    # sum in hash order, and bin_id = floor(start/budget)
    by_shard = {}
    for r in out:
        by_shard.setdefault((r.source, r.shard), []).append(r)
    for members in by_shard.values():
        members.sort(key=lambda r: r.hash_key)
        cum = 0
        for r in members:
            assert r.start_offset == cum
            assert r.bin_id == cum // 250
            cum += r.n_tokens


def test_pack_sequences_deterministic(spark):
    rows = [(i, "s" + str(i % 3), "a b c d e") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    a = {r.doc_id: (r.shard, r.bin_id) for r in corpus.pack_sequences(df).collect()}
    b = {r.doc_id: (r.shard, r.bin_id) for r in corpus.pack_sequences(df).collect()}
    assert a == b


# --- domain mixing ----------------------------------------------------------


def test_domain_mix_rates_and_determinism(spark):
    # 90/10 skew across two sources → minority rate 1.0, majority ~0.55
    rows = [(i, "big" if i < 180 else "small") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = corpus.domain_mix_sample(df)
    rates = {r.source: r.rate for r in out.select("source", "rate").distinct().collect()}
    assert rates["small"] == 1.0
    assert rates["big"] == pytest.approx(100 / 180, abs=1e-6)
    # minority fully kept; membership is hash-deterministic
    kept = out.filter("kept")
    assert kept.filter("source = 'small'").count() == 20
    a = {r.doc_id for r in kept.collect()}
    b = {r.doc_id for r in corpus.domain_mix_sample(df).filter("kept").collect()}
    assert a == b


def test_domain_mix_stable_under_growth(spark):
    # adding docs to OTHER sources (same counts for 'big') must not flip
    # membership for 'big' rows: rate depends only on per-source counts
    rows = [(i, "big") for i in range(100)] + [(1000 + i, "small") for i in range(50)]
    df1 = spark.createDataFrame(rows, "doc_id long, source string")
    kept1 = {
        r.doc_id
        for r in corpus.domain_mix_sample(df1).filter("kept and source='big'").collect()
    }
    rows2 = rows + [(2000 + i, "small") for i in range(25)]
    df2 = spark.createDataFrame(rows2, "doc_id long, source string")
    # 'big' rate changes (total grew), but the hash threshold form means
    # kept sets are nested: a LOWER rate keeps a subset, never a reshuffle
    kept2 = {
        r.doc_id
        for r in corpus.domain_mix_sample(df2).filter("kept and source='big'").collect()
    }
    assert kept2 <= kept1 or kept1 <= kept2


# --- TF-IDF -----------------------------------------------------------------


def test_tfidf_topk_ranks_and_values(spark):
    df = spark.createDataFrame(
        [
            (1, "apple apple banana"),
            (2, "banana cherry cherry"),
            (3, "apple banana cherry"),
        ],
        "doc_id long, text string",
    )
    out = corpus.tfidf_topk(df, k=2).collect()
    assert all(r.rank <= 2 for r in out)
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 1: apple tf=2 df=2 → tfidf = 2*ln(4/3); banana tf=1 df=3 → ln(1)=0
    top1 = sorted(by_doc[1], key=lambda r: r.rank)[0]
    assert top1.term == "apple" and top1.tf == 2 and top1.df == 2
    assert top1.tfidf == pytest.approx(round(2 * math.log(4 / 3), 4), abs=1e-9)


# --- cluster representatives ------------------------------------------------


def test_cluster_representatives_argmax(spark):
    clusters = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (4, 40), (5, 40)],
        "doc_id long, cluster_id long",
    )
    quality = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.9), (4, 0.1), (5, 0.1)],
        "doc_id long, quality_score double",
    )
    out = {r.cluster_id: r for r in
           corpus.cluster_representatives(clusters, quality).collect()}
    assert out[10].rep_doc_id == 2  # max quality, min doc_id tiebreak
    assert out[10].cluster_size == 3
    assert out[40].rep_doc_id == 4 and out[40].cluster_size == 2


# --- PII redaction ----------------------------------------------------------


def test_redact_digits_full_and_keep_last(spark):
    df = spark.createDataFrame(
        [(1, "Customer#000123456")], "id long, c_name string"
    )
    full = corpus.redact_digits(df, "c_name").first()
    assert full.c_name_masked == "Customer##########"
    assert full.c_name_digits_redacted == 9
    kept = corpus.redact_digits(df, "c_name", keep_last=4).first()
    assert kept.c_name_masked == "Customer######3456"
    assert kept.c_name_digits_redacted == 5


# --- cross-document span dedup ----------------------------------------------


def test_span_dedup_semantics(spark):
    """Global first occurrence survives; later copies drop across AND
    within documents; wordless docs come back as ('', 0, 0)."""
    w = 3
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),          # spans: "a b c", "d e f"
            (2, "a b c x y z a b c"),    # dup of doc1's span + own dup
            (3, None),                   # wordless
            (4, "d e f"),                # dup of doc1's second span
            (5, "   "),                  # whitespace-only: zero spans
            (6, ""),                     # empty: zero spans
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r for r in corpus.span_dedup(docs, window=w).collect()
    }
    assert out[1].text_clean == "a b c d e f"
    assert out[1].n_spans == 2 and out[1].n_spans_dropped == 0
    # doc 2: "a b c" (pos 0) dropped vs doc1; "x y z" kept; trailing
    # "a b c" (pos 2) dropped too (within-corpus repeat)
    assert out[2].text_clean == "x y z"
    assert out[2].n_spans == 3 and out[2].n_spans_dropped == 2
    assert out[3].text_clean == "" and out[3].n_spans == 0
    assert out[4].text_clean == "" and out[4].n_spans_dropped == 1
    # ADVICE r07 contract fix: empty tokens are pre-filtered, so
    # whitespace-only / empty docs have ZERO spans (no '' span
    # competing in the global ranking), same as NULL text.
    for wordless in (5, 6):
        assert out[wordless].text_clean == ""
        assert out[wordless].n_spans == 0
        assert out[wordless].n_spans_dropped == 0


def test_corpus_span_dedup_matches_duckdb_oracle(spark):
    """r08+ registry candidate's unit-first differential at the
    driver's sf0.01 scale."""
    from data_engineering_for_e_commerce_logistics_spark.plans import (
        corpus_queries as xc,
    )
    from tests.oracle import compare_frames, duckdb_conn

    sf = "/root/testdata/sf0.01"
    spdf = xc.corpus_span_dedup(spark, sf).toPandas()
    conn = duckdb_conn(sf)
    try:
        opdf = conn.execute(xc.CORPUS_SPAN_DEDUP_SQL).fetchdf()
    finally:
        conn.close()
    assert len(spdf) == 500
    # the synthetic corpus's tiny vocab guarantees both kept and
    # dropped spans exist — the interesting case is exercised
    assert (spdf.n_spans_dropped > 0).any() and (
        spdf.n_spans_dropped < spdf.n_spans
    ).any()
    assert compare_frames(spdf, opdf, "corpus_span_dedup") == []


def test_span_dedup_conservation_law(spark):
    """Global law: across ALL cleaned documents, every distinct input
    span appears EXACTLY once (the kept copy), and re-running on the
    cleaned corpus is a fixpoint for full windows (idempotence —
    nothing left to drop except re-chunked partial-span boundaries,
    absent here by construction)."""
    w = 4
    docs = spark.createDataFrame(
        [
            (1, "p q r s t u v w"),      # 2 full spans
            (2, "p q r s a b c d"),      # 1 dup span + 1 new
            (3, "t u v w t u v w"),      # dup of doc1 span, twice
            (4, "a b c d p q r s"),      # both spans already seen
        ],
        "doc_id long, text string",
    )
    out = corpus.span_dedup(docs, window=w)
    rows = out.collect()
    # conservation: multiset of spans across text_clean == distinct input spans
    def spans_of(text):
        toks = text.split(" ") if text else []
        return [
            " ".join(toks[i : i + w]) for i in range(0, len(toks), w)
        ]

    all_clean = [s for r in rows for s in spans_of(r.text_clean)]
    distinct_input = {
        s
        for r in docs.collect()
        if r.text is not None
        for s in spans_of(r.text)
    }
    assert sorted(all_clean) == sorted(distinct_input)
    assert len(all_clean) == len(set(all_clean))  # no span twice
    # idempotence on the cleaned corpus
    clean_docs = out.select(
        "doc_id", F.col("text_clean").alias("text")
    ).where(F.col("text") != "")
    again = corpus.span_dedup(clean_docs, window=w)
    assert again.agg(F.sum("n_spans_dropped")).first()[0] == 0


def test_prepare_training_corpus_end_to_end(spark):
    """Capstone composition on the real sf0.001 documents: each stage
    count is monotone non-increasing, the report matches direct
    recomputation of the quality gate, packed sequences exist, and
    every packed sequence honors the token budget."""
    from data_engineering_for_e_commerce_logistics_spark.catalog import load_tables
    from data_engineering_for_e_commerce_logistics_spark.operators.corpus import (
        prepare_training_corpus,
        quality_funnel,
    )

    docs = load_tables(spark, "/root/testdata/sf0.001", ("documents",))[
        "documents"
    ]
    packed, report = prepare_training_corpus(docs, token_budget=128)
    r = report.collect()[0]
    assert (
        r.n_input >= r.n_quality >= r.n_span_dedup >= r.n_exact_dedup >= r.n_train
    )
    assert r.n_input == docs.count()
    # quality-stage count agrees with the fused funnel report
    funnel = quality_funnel(docs).collect()[0]
    assert r.n_quality == funnel.n_retained
    assert r.n_train > 0
    rows = packed.collect()
    # concat-then-chunk: one row per surviving train doc, each assigned
    # to the budget bin where its token stream starts
    assert len(rows) == r.n_train
    assert all(row.bin_id >= 0 for row in rows)
    # bin start offsets honor the chunk rule: a doc's bin is exactly
    # floor(start_offset / budget)
    assert all(row.bin_id == row.start_offset // 128 for row in rows)


# --- token-budget sampling + shuffle-shard (r09 export suite) ---------------


def test_token_budget_sample_greedy_prefix(spark):
    """kept = exactly the hash-ordered prefix whose running total fits
    the budget, and cum_tokens equals the plain single-window cumsum
    (the shard-offset reconstruction is exact)."""
    import hashlib

    rows = [
        (i, "s" + str(i % 2), " ".join(["w"] * (3 + i % 5))) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {
        r.doc_id: r
        for r in corpus.token_budget_sample(df, token_budget=20).collect()
    }
    assert len(out) == 40
    for src in ("s0", "s1"):
        docs = sorted(
            (i for i in range(40) if i % 2 == int(src[1])),
            key=lambda i: hashlib.md5(str(i).encode()).hexdigest(),
        )
        cum = 0
        for i in docs:
            cum += 3 + i % 5
            assert out[i].cum_tokens == cum
            assert out[i].kept == (cum <= 20)


def test_token_budget_sample_stable_order_under_growth(spark):
    """Growing the corpus never reorders existing rows: relative
    hash order (the frozen property) is unchanged when rows append."""
    rows = [(i, "s", "a b c") for i in range(30)]
    small = spark.createDataFrame(rows[:20], "doc_id long, source string, text string")
    big = spark.createDataFrame(rows, "doc_id long, source string, text string")
    order_small = [
        r.doc_id
        for r in corpus.token_budget_sample(small, 999)
        .orderBy("cum_tokens")
        .collect()
    ]
    order_big = [
        r.doc_id
        for r in corpus.token_budget_sample(big, 999).orderBy("cum_tokens").collect()
        if r.doc_id < 20
    ]
    assert order_small == order_big


def test_shuffle_shard_deterministic_dense_and_seeded(spark):
    df = spark.createDataFrame(
        [(i,) for i in range(100)], "doc_id long"
    )
    a = corpus.shuffle_shard(df, 4, seed=1).collect()
    b = corpus.shuffle_shard(df, 4, seed=1).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # reproducible
    by_shard: dict[int, list[int]] = {}
    for r in a:
        assert 0 <= r.shard < 4
        by_shard.setdefault(r.shard, []).append(r.pos)
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(len(poss)))  # dense 0..n-1
    c = corpus.shuffle_shard(df, 4, seed=2).collect()
    order1 = [r.doc_id for r in sorted(a, key=lambda r: (r.shard, r.pos))]
    order2 = [r.doc_id for r in sorted(c, key=lambda r: (r.shard, r.pos))]
    assert order1 != order2  # a new seed re-deals the order


def test_corpus_export_suite_matches_duckdb_oracle(spark):
    """r09 registry candidate's unit-first differential at the
    driver's sf0.01 scale."""
    from data_engineering_for_e_commerce_logistics_spark.plans import (
        corpus_queries as xc,
    )
    from tests.oracle import compare_frames, duckdb_conn

    sf = "/root/testdata/sf0.01"
    spdf = xc.corpus_export_suite(spark, sf).toPandas()
    conn = duckdb_conn(sf)
    try:
        opdf = conn.execute(xc.CORPUS_EXPORT_SUITE_SQL).fetchdf()
    finally:
        conn.close()
    assert len(spdf) == 1000  # 500 docs × 2 variants
    kept = spdf[spdf.variant == "budget"].kept
    assert (kept == 1.0).any() and (kept == 0.0).any()
    assert compare_frames(spdf, opdf, "corpus_export_suite") == []


# --- temperature mixing (r10 mix-suite candidate) ---------------------------


def test_temperature_mix_alpha_limits(spark):
    """alpha=0 reproduces domain_mix_sample exactly (uniform target);
    alpha=1 is the identity mix (rate 1.0, everything kept)."""
    rows = [(i, "s" + str(i % 3), "x") for i in range(60)] + [
        (100 + i, "s0", "x") for i in range(30)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    a0 = sorted(
        map(tuple, corpus.temperature_mix_sample(df, alpha=0).collect())
    )
    base = sorted(map(tuple, corpus.domain_mix_sample(df).collect()))
    assert a0 == base
    for r in corpus.temperature_mix_sample(df, alpha=1).collect():
        assert r.rate == 1.0 and r.kept


def test_temperature_mix_upweights_small_domains(spark):
    """0<alpha<1 sits between natural and uniform: the dominant
    source's keep-rate is higher than under the uniform target but
    below 1; small sources keep rate 1."""
    rows = [(i, "big", "x") for i in range(400)] + [
        (1000 + i, "small", "x") for i in range(25)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    t = {
        r.source: r.rate
        for r in corpus.temperature_mix_sample(df, alpha=0.5).collect()
    }
    u = {r.source: r.rate for r in corpus.domain_mix_sample(df).collect()}
    assert t["small"] == 1.0
    assert u["big"] < t["big"] < 1.0


def test_corpus_mix_suite_matches_duckdb_oracle(spark):
    """r10 registry candidate's unit-first differential at the
    driver's sf0.01 scale."""
    from data_engineering_for_e_commerce_logistics_spark.plans import (
        corpus_queries as xc,
    )
    from tests.oracle import compare_frames, duckdb_conn

    sf = "/root/testdata/sf0.01"
    spdf = xc.corpus_mix_suite(spark, sf).toPandas()
    conn = duckdb_conn(sf)
    try:
        opdf = conn.execute(xc.CORPUS_MIX_SUITE_SQL).fetchdf()
    finally:
        conn.close()
    # uniform = full 500 docs (retiring spec carried verbatim);
    # temperature = the 333-doc skewed subset
    assert len(spdf) == 833
    # the degeneracy-breaking subset makes sub-1.0 rates real: both
    # kept values must occur, else the threshold path went untested
    t = spdf[spdf.variant == "temperature"]
    assert t.kept.any() and (~t.kept).any()
    assert compare_frames(spdf, opdf, "corpus_mix_suite") == []

    # consolidation contract: the uniform variant's cells == the
    # retiring corpus_domain_mix spec's output, row for row
    old = xc.corpus_domain_mix(spark, sf).toPandas()
    u = (
        spdf[spdf.variant == "uniform"]
        .drop(columns=["variant"])
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert compare_frames(u, old, "mix_suite_uniform_vs_domain_mix") == []


# --- fuzzy (near-dup) decontamination ----------------------------------------


def test_decontaminate_fuzzy_verbatim_copy_always_flagged(spark):
    """A verbatim benchmark copy has the identical shingle set, hence
    the identical signature, hence shares EVERY band bucket and scores
    est = 1.0 — flagged at any threshold <= 1.  Short docs (no
    shingles) still get their (0, 0.0, false) row."""
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    corp = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),  # verbatim
            (2, "one two three four five six seven eight nine"),  # disjoint
            (3, "x y"),  # fewer tokens than k -> no shingles
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in corpus.decontaminate_fuzzy(corp, bench).collect()
    }
    assert len(out) == 3
    assert out[1].contaminated and out[1].max_est_jaccard == 1.0
    assert out[1].n_bench_matches == 1
    assert not out[2].contaminated
    assert out[3].n_bench_matches == 0 and out[3].max_est_jaccard == 0.0


def test_corpus_decontaminate_fuzzy_matches_duckdb(spark):
    """r14 registry candidate's unit-first differential: the fixture
    benchmark (doc_id % 7 == 0) provably near-dups across the
    boundary, so the flag fires on real data."""
    from data_engineering_for_e_commerce_logistics_spark.plans import (
        corpus_queries as xc,
    )
    from tests.oracle import compare_frames, duckdb_conn

    sf = "/root/testdata/sf0.01"
    spdf = xc.corpus_decontaminate_fuzzy(spark, sf).toPandas()
    conn = duckdb_conn(sf)
    try:
        opdf = conn.execute(xc.CORPUS_DECONTAMINATE_FUZZY_SQL).fetchdf()
    finally:
        conn.close()
    assert compare_frames(spdf, opdf, "corpus_decontaminate_fuzzy") == []
    assert spdf.contaminated.sum() > 0
    # fuzzy is a SUPERSET detector of verbatim re-inclusion: every
    # corpus doc whose exact normalized text equals a benchmark doc's
    # must be flagged (est = 1.0); lighter paraphrases may add more.
    assert (spdf[spdf.contaminated].max_est_jaccard >= 0.6).all()


def test_decontaminate_semantic_matches_numpy_ground_truth(spark):
    """The map-only broadcast plan must reproduce the exact all-pairs
    cosine answer (it is exact by construction, unlike a routed
    screen) — pinned against a numpy replay of max-cosine + hit
    counts at tau = 0.4."""
    import numpy as np
    import pyarrow.parquet as pq

    from data_engineering_for_e_commerce_logistics_spark.plans import (
        graph_queries as gq,
    )

    sf = "/root/testdata/sf0.001"
    t = pq.read_table(f"{sf}/embeddings.parquet").to_pandas()
    V = np.vstack(t.embedding.values).astype(float)
    ids = t.vec_id.values
    n = V / np.linalg.norm(V, axis=1, keepdims=True)
    bench = ids % gq.SEM_DECON_BENCH_MOD == 0
    C = n[~bench] @ n[bench].T
    want_hits = dict(zip(ids[~bench], (C >= gq.SEM_DECON_TAU).sum(axis=1)))
    want_max = dict(zip(ids[~bench], C.max(axis=1)))

    out = gq.corpus_decontaminate_semantic(spark, sf).collect()
    assert len(out) == (~bench).sum()
    for r in out:
        assert r.n_bench_hits == want_hits[r.vec_id]
        assert abs(r.max_cosine - want_max[r.vec_id]) < 1e-12
        assert r.contaminated == (want_hits[r.vec_id] > 0)
    assert sum(r.contaminated for r in out) > 0


def test_decontaminate_semantic_matches_duckdb(spark):
    from data_engineering_for_e_commerce_logistics_spark.plans import (
        graph_queries as gq,
    )
    from tests.oracle import compare_frames, duckdb_conn

    sf = "/root/testdata/sf0.01"
    spdf = gq.corpus_decontaminate_semantic(spark, sf).toPandas()
    conn = duckdb_conn(sf)
    try:
        opdf = conn.execute(gq.CORPUS_DECONTAMINATE_SEMANTIC_SQL).fetchdf()
    finally:
        conn.close()
    assert compare_frames(spdf, opdf, "corpus_decontaminate_semantic") == []
    assert spdf.contaminated.sum() > 0


def test_decontaminate_semantic_zero_norm_contract(spark):
    """Zero-norm corpus vectors match nothing (hits 0, max NULL, not
    contaminated); zero-norm benchmark vectors are excluded from the
    broadcast so they never divide by zero."""
    from data_engineering_for_e_commerce_logistics_spark.operators.similarity import (
        decontaminate_semantic,
    )

    bench = spark.createDataFrame(
        [(100, [1.0, 0.0]), (101, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    corp = spark.createDataFrame(
        [(1, [2.0, 0.0]), (2, [0.0, 0.0]), (3, [0.0, 5.0])],
        "vec_id long, embedding array<double>",
    )
    out = {r.vec_id: r for r in decontaminate_semantic(corp, bench, 0.5).collect()}
    assert out[1].contaminated and out[1].max_cosine == 1.0
    assert out[1].n_bench_hits == 1
    assert not out[2].contaminated and out[2].max_cosine is None
    assert out[2].n_bench_hits == 0
    assert not out[3].contaminated and out[3].max_cosine == 0.0


def test_corpus_decon_suite_matches_duckdb_and_parts(spark):
    """The r16 consolidation: one suite serves all three decon family
    members' rows verbatim and matches the combined DuckDB oracle."""
    from data_engineering_for_e_commerce_logistics_spark.plans import (
        corpus_queries as xc,
    )
    from data_engineering_for_e_commerce_logistics_spark.plans import (
        graph_queries as gq,
    )
    from tests.oracle import compare_frames, duckdb_conn

    sf = "/root/testdata/sf0.01"
    spdf = xc.corpus_decon_suite(spark, sf).toPandas()
    conn = duckdb_conn(sf)
    try:
        opdf = conn.execute(xc.CORPUS_DECON_SUITE_SQL).fetchdf()
    finally:
        conn.close()
    assert compare_frames(spdf, opdf, "corpus_decon_suite") == []

    parts = {
        "exact": (xc.corpus_decontaminate, "doc_id", "overlap_shingles", None),
        "fuzzy": (
            xc.corpus_decontaminate_fuzzy,
            "doc_id",
            "n_bench_matches",
            "max_est_jaccard",
        ),
        "semantic": (
            gq.corpus_decontaminate_semantic,
            "vec_id",
            "n_bench_hits",
            "max_cosine",
        ),
    }
    for variant, (builder, idc, hitc, scorec) in parts.items():
        rows = {
            r[0]: r
            for r in spdf[spdf.variant == variant][
                ["id", "n_hits", "score", "contaminated"]
            ].itertuples(index=False)
        }
        got = builder(spark, sf).collect()
        assert len(got) == len(rows) > 0, variant
        for r in got:
            sid, shits, sscore, scont = rows[r[idc]]
            assert shits == r[hitc], (variant, r[idc])
            assert scont == r.contaminated
            if scorec is not None:
                want = r[scorec]
                assert (sscore is None and want is None) or sscore == want


def test_quality_calibrate_domains_matches_duckdb_and_balances(spark):
    """r16 debut candidate: the DuckDB differential plus the property
    the operator exists for — one global threshold keeps the SAME
    fraction of every domain after calibration, even though raw score
    distributions differ across domains."""
    from data_engineering_for_e_commerce_logistics_spark.plans import (
        corpus_queries as xc,
    )
    from tests.oracle import compare_frames, duckdb_conn

    sf = "/root/testdata/sf0.01"
    spdf = xc.quality_calibrate_domains(spark, sf).toPandas()
    conn = duckdb_conn(sf)
    try:
        opdf = conn.execute(xc.QUALITY_CALIBRATE_DOMAINS_SQL).fetchdf()
    finally:
        conn.close()
    assert compare_frames(spdf, opdf, "quality_calibrate_domains") == []
    per = spdf.groupby("source").agg(
        kept=("kept", "sum"), total=("kept", "size")
    )
    # equal-size domains -> identical kept counts in every domain
    assert per.total.nunique() == 1
    assert per.kept.nunique() == 1
    assert 0 < per.kept.iloc[0] < per.total.iloc[0]
    assert spdf.calibrated.between(0.0, 1.0).all()


def test_calibrate_quality_handles_skewed_domains(spark):
    """Synthetic sanity: a domain whose raw scores are uniformly LOWER
    still keeps its top keep_frac — the calibration point — and a
    single-doc domain calibrates to 0.0 (documented drop)."""
    df = spark.createDataFrame(
        [
            (1, "prose", 0.9), (2, "prose", 0.8), (3, "prose", 0.7),
            (4, "prose", 0.6),
            (5, "code", 0.3), (6, "code", 0.25), (7, "code", 0.2),
            (8, "code", 0.15),
            (9, "lone", 0.99),
        ],
        "doc_id long, source string, quality_score double",
    )
    out = {
        r.doc_id: r
        for r in corpus.calibrate_quality_by_domain(df, keep_frac=0.5).collect()
    }
    # top half of EACH domain kept despite disjoint score ranges
    assert {d for d in out if out[d].kept} == {1, 2, 5, 6}
    assert out[9].calibrated == 0.0 and not out[9].kept


def test_bucketed_exact_rank_forms_match_single_window(spark):
    """Adversarial differential for the r11 bucketed-rank rewrites:
    on tie-heavy synthetic data (scores drawn from 4 distinct values,
    so every approximate boundary collides with masses of equal
    scores; one domain all-equal, one single-row), the bucketed forms
    of ``calibrate_quality_by_domain`` and ``stratified_sample_flag``
    must equal their plain single-window ancestors row-for-row — the
    fixtures' near-continuous keys never stress the bucket-boundary
    tie handling, this does."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rows = [
        (i, ["web", "code", "flat"][i % 3] if i < 120 else "lone",
         [0.25, 0.5, 0.5, 0.75][(i * 7) % 4] if i % 3 != 2 or i >= 120
         else 0.5)
        for i in range(121)
    ]
    # domain 'flat' (i%3==2, i<120): every score identical
    # (single-bucket degradation path); 'lone' is ONLY row 120 ->
    # exactly one row (the percent_rank 0/0 edge).  Null keys pin the
    # null-safe-join contract: a null domain is its own partition and
    # null scores rank first, exactly as the plain window ranks them.
    rows += [
        (200, None, 0.4),
        (201, None, 0.6),
        (202, None, 0.6),
        (203, "web", None),
        (204, None, None),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, quality_score double"
    )
    got = {
        r.doc_id: r
        for r in corpus.calibrate_quality_by_domain(
            df, keep_frac=0.5, n_buckets=8
        ).collect()
    }
    w = Window.partitionBy("source").orderBy(
        F.col("quality_score").asc(), F.col("doc_id").asc()
    )
    want = {
        r.doc_id: r
        for r in df.withColumn("calibrated", F.percent_rank().over(w))
        .withColumn("kept", F.col("calibrated") >= F.lit(0.5))
        .collect()
    }
    assert got.keys() == want.keys()
    for k in want:
        assert got[k].calibrated == want[k].calibrated, k
        assert got[k].kept == want[k].kept, k

    # stratified_sample_flag: md5 keys share first nibbles across
    # strata; compare both shard widths against the plain window.
    sdf = corpus.split_assign(
        spark.createDataFrame(
            [(i, "en" if i % 3 else "fr") for i in range(300)],
            "doc_id long, lang string",
        )
    )
    w2 = Window.partitionBy("lang", "split").orderBy("hash_key")
    want2 = {
        r.doc_id: (r.sample_rank, r.in_sample)
        for r in sdf.withColumn("sample_rank", F.row_number().over(w2))
        .withColumn("in_sample", F.col("sample_rank") <= 7)
        .collect()
    }
    for chars in (1, 2):
        got2 = {
            r.doc_id: (r.sample_rank, r.in_sample)
            for r in corpus.stratified_sample_flag(
                sdf, ["lang", "split"], 7, "hash_key", shard_chars=chars
            ).collect()
        }
        assert got2 == want2, f"shard_chars={chars}"
