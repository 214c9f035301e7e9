"""Count-min sketch frequency estimation — bounded-state heavy
hitters for the 100 TB / streaming path.

The exact form of "which keys are hot" is ``groupBy(key).count()``:
state proportional to the key cardinality, which at corpus scale (URL
hosts, user ids, n-grams) is exactly what cannot be held.  The
count-min sketch (Cormode & Muthukrishnan '05) replaces it with a
fixed ``depth × width`` grid of counters: every occurrence increments
one counter per row (``depth`` independent hashes), and a key's
estimate is the MIN over its counters — never below the true count
(each counter only ever over-counts via collisions), and above it by
at most ``2N/width`` with probability ``1 - 2^-depth``.

Spark shape — everything the streaming/mergeable story needs:

* build: one ``posexplode`` (×depth row multiplier, no join) then a
  single map-side-combinable ``groupBy(d, bucket).count()`` — the
  partial aggregates ARE per-partition sketches and the shuffle
  merges ≤ depth·width rows per partition, independent of data size.
  That linearity (sketch(A ∪ B) = sketch(A) + sketch(B) cell-wise) is
  what makes the sketch a streaming accumulator and a
  ``foreachBatch``-friendly persisted state.
* estimate: candidate keys re-derive their ``depth`` buckets
  (posexplode again), LEFT-join the ≤ depth·width-row sketch —
  always a broadcast hash join — and take ``min(coalesce(cnt, 0))``.
  No shuffle touches the sketch side.
* cross-engine exactness: the hash family is plain 64-bit integer
  arithmetic ``((key pmod P) · a_d + b_d) mod P mod width`` with
  P = 2^31 − 1 and public LCG multipliers, so the DuckDB oracle
  rebuilds the IDENTICAL sketch from the same SQL text — estimates
  hash-match cell-exactly, no FP anywhere.

Reference scope: the reference engine has no sketch support; this is
a beyond-parity operator for the training-data pipeline (hot-key
detection feeding the salting path in ``operators/skew.py``, vocab
pruning, abuse throttling).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import local_rows_df

# Mersenne prime modulus + public LCG constants (Numerical Recipes,
# glibc, Knuth) — all < 2^31 so (key mod P)·a stays under 2^63.
CMS_P = 2_147_483_647
CMS_HASHES: tuple[tuple[int, int], ...] = (
    (1103515245, 12345),
    (69069, 362437),
    (1664525, 1013904223),
    (22695477, 1),
)


def _bucket_sql(key: str, a: int, b: int, width: int) -> str:
    """The shared Spark/DuckDB hash text: pmod into [0, P), one LCG
    step, fold to [0, width).  Pure BIGINT ops, truncating ``%`` on
    nonneg operands behaves identically in both engines."""
    return (
        f"((((({key}) % {CMS_P}) + {CMS_P}) % {CMS_P})"
        f" * {a} + {b}) % {CMS_P} % {width}"
    )


def _bucket_array(key_col: str, width: int, depth: int) -> F.Column:
    """array<long> of the key's ``depth`` bucket indices (index = d)."""
    return F.array(
        *[
            F.expr(_bucket_sql(key_col, a, b, width)).cast("long")
            for a, b in CMS_HASHES[:depth]
        ]
    )


def cms_build(
    df: DataFrame,
    key_col: str,
    *,
    width: int = 128,
    depth: int = 4,
    by: tuple = (),
) -> DataFrame:
    """Build the sketch: (*by, d, bucket, cnt) with ≤ |groups|·depth·
    width rows.  ``by`` adds grouping keys — one independent sketch
    per group (per-tenant hot keys, per-type abuse counters) with the
    same fixed per-group state.

    NULL keys are excluded (a null hashes nowhere; callers wanting a
    null bucket coalesce to a sentinel first — the same contract as
    the bucketed-rank joins).  Cells never hit by any key are simply
    absent (a count of 0).
    """
    if depth > len(CMS_HASHES):
        raise ValueError(f"depth ≤ {len(CMS_HASHES)} (fixed hash family)")
    clash = {"d", "bucket"}.intersection(by)
    if clash:
        raise ValueError(
            f"cms_build: grouping columns {sorted(clash)} collide with the"
            " sketch's reserved cell columns ('d', 'bucket') — alias them"
            " first (ADVICE r12)"
        )
    return (
        df.where(F.col(key_col).isNotNull())
        .select(
            *by,
            F.posexplode(_bucket_array(key_col, width, depth)).alias(
                "d", "bucket"
            ),
        )
        .groupBy(*by, "d", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_merge(*sketches: DataFrame, by: tuple = ()) -> DataFrame:
    """Cell-wise sum — the linearity that makes the sketch a
    distributed/streaming accumulator: cms_merge(build(A), build(B))
    equals build(A ∪ B) exactly (pinned by the unit law test).
    Pass the same ``by`` as the builds when merging GROUPED sketches —
    otherwise distinct groups' cells would collapse into one grid."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy(*by, "d", "bucket").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    cms: DataFrame,
    keys: DataFrame,
    key_col: str,
    *,
    width: int = 128,
    depth: int = 4,
    est_col: str = "cms_est",
    by: tuple = (),
) -> DataFrame:
    """Point-query every row of ``keys``: MIN over the key's ``depth``
    counters, missing cells counting as 0.  With ``by``, each key
    queries its own group's sketch (the join adds the group columns).
    The sketch side is ≤ |groups|·depth·width rows — broadcast it
    explicitly so the join never shuffles the candidate stream.

    ``keys`` is a CANDIDATE SET: the closing ``groupBy(*keys.columns)``
    collapses fully-duplicate candidate rows (by design — one estimate
    per distinct candidate), and 'd'/'bucket' are reserved probe
    columns, so the frame may not already carry them (ADVICE r12)."""
    clash = {"d", "bucket"}.intersection(keys.columns)
    if clash:
        raise ValueError(
            f"cms_estimate: candidate columns {sorted(clash)} collide with"
            " the reserved probe columns ('d', 'bucket') — rename them"
            " before estimating"
        )
    probes = keys.select(
        "*", F.posexplode(_bucket_array(key_col, width, depth)).alias(
            "d", "bucket"
        )
    )
    joined = probes.join(F.broadcast(cms), [*by, "d", "bucket"], "left")
    return (
        joined.groupBy(*keys.columns)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias(est_col))
    )


# Packed-cell key stride: cell (d, bucket) → d·STRIDE + bucket.  Any
# width < STRIDE packs collision-free; the guard below rejects wider
# sketches instead of silently colliding across depths (ADVICE r12).
CMS_PACK_STRIDE = 1_000_000


def _check_pack_width(width: int, who: str) -> None:
    if width >= CMS_PACK_STRIDE:
        raise ValueError(
            f"{who}: width={width} ≥ pack stride {CMS_PACK_STRIDE} — packed"
            " cell keys would collide across depths; use a narrower sketch"
            " (width error scales as 1/width, so ≥1M buckets is never"
            " needed) or the joined cms_estimate path"
        )


def cms_pack(cms: DataFrame, *, width: int = 128) -> DataFrame:
    """Fold the ≤ depth·width sketch cells into a ONE-ROW map keyed by
    ``d·{CMS_PACK_STRIDE} + bucket`` (the broadcast-scalar pattern of
    ``operators/bloom.py`` — never ``.collect()``), so per-row
    estimates become pure map lookups with no join and no explode of
    the probing table.  ``width`` is validation-only (the stride is
    fixed so probe expressions stay caller-independent): it must match
    the build width and stay under the stride."""
    _check_pack_width(width, "cms_pack")
    return cms.agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    (F.col("d") * F.lit(CMS_PACK_STRIDE) + F.col("bucket"))
                    .cast("long")
                    .alias("k"),
                    F.col("cnt").alias("v"),
                )
            )
        ).alias("__cmsmap")
    )


def cms_salted_aggregate(
    df: DataFrame,
    key_col: str,
    cms: DataFrame,
    threshold: int,
    *,
    sums: dict[str, str] | None = None,
    count_alias: str = "n_rows",
    flag_alias: str = "took_salted_path",
    salt_buckets: int = 16,
    width: int = 128,
    depth: int = 4,
) -> DataFrame:
    """Skew-aware aggregation with the hot keys DISCOVERED by the
    sketch instead of a prior exact count: every row's key estimates
    against the packed sketch (map lookups on a broadcast scalar —
    no join, no row multiplier), keys at or above ``threshold`` get a
    per-row salt, cold keys salt 0 — ONE aggregation tree where the
    hot keys spread over ``salt_buckets`` partitions and everything
    else pays nothing.

    Correct by the CMS one-sided law: estimates never undershoot, so
    NO truly-hot key can miss the salted path — false positives just
    take it unnecessarily.  Result is bit-identical to the plain
    ``groupBy(key)`` (count and decimal sums are associative-exact;
    the salt only reshapes the shuffle), which is what the oracle
    checks.

    The 100 TB point: ``operators/skew.py:salted_aggregate`` salts
    EVERY key (phase-2 cost on the full key cardinality), and finding
    hot keys exactly costs the very skewed shuffle being avoided; the
    sketch finds them in one cheap mergeable pass — or arrives
    already-built from the streaming accumulator."""
    sums = sums or {}
    _check_pack_width(width, "cms_salted_aggregate")
    probes = [
        (
            F.expr(_bucket_sql(key_col, a, b, width))
            + F.lit(d * CMS_PACK_STRIDE)
        ).cast("long")
        for d, (a, b) in enumerate(CMS_HASHES[:depth])
    ]
    est = F.least(
        *[
            F.coalesce(F.element_at(F.col("__cmsmap"), p), F.lit(0))
            for p in probes
        ]
    )
    salted = (
        df.crossJoin(F.broadcast(cms_pack(cms, width=width)))
        .withColumn("__hot", est >= F.lit(threshold))
        .withColumn(
            "__salt",
            F.when(
                F.col("__hot"),
                F.pmod(F.monotonically_increasing_id(), F.lit(salt_buckets)),
            ).otherwise(F.lit(0)),
        )
    )
    phase1 = salted.groupBy(key_col, "__salt").agg(
        F.count(F.lit(1)).alias("__cnt"),
        F.max("__hot").alias("__hot"),  # constant per key
        *[F.sum(F.expr(col)).alias(f"__sum_{a}") for a, col in sums.items()],
    )
    return phase1.groupBy(key_col).agg(
        F.sum("__cnt").alias(count_alias),
        F.max("__hot").alias(flag_alias),
        *[F.sum(f"__sum_{a}").alias(a) for a in sums],
    )


# --- Mergeable quantile histogram ---------------------------------------------
#
# The quantile companion to the count-min sketch: a fixed-bin
# histogram is the simplest MERGEABLE quantile summary (cell-wise sum,
# like the CMS), with deterministic error ≤ one bin width — versus
# approx_percentile's t-digest, whose cell values are engine- and
# merge-order-specific (the reason sketch_aggregates_events is
# rows-only).  Shared-arithmetic binning makes the histogram itself
# cell-exact across engines, so the sketch AND its quantile estimates
# hash-match; pick lo/hi/bins so the width is a dyadic rational
# (e.g. (1024 - 0)/256 = 4.0) and the binning division is exact.


def _hist_bin_sql(col: str, lo: float, hi: float, bins: int) -> str:
    """Shared Spark/DuckDB bin text: -1 underflow, ``bins`` overflow,
    else floor((x-lo)/w) clamped to bins-1 (FP guard at the top
    edge).  Identical doubles + identical IEEE ops ⇒ identical bins."""
    w = (hi - lo) / bins
    return (
        f"CASE WHEN ({col}) < {lo!r} THEN CAST(-1 AS BIGINT)"
        f" WHEN ({col}) >= {hi!r} THEN CAST({bins} AS BIGINT)"
        f" ELSE least(CAST(floor((({col}) - {lo!r}) / {w!r}) AS BIGINT),"
        f" CAST({bins - 1} AS BIGINT)) END"
    )


def hist_build(
    df: DataFrame,
    col: str,
    *,
    lo: float,
    hi: float,
    bins: int = 256,
    by: tuple = (),
) -> DataFrame:
    """Build the histogram: (*by, bin, cnt), ≤ |groups|·(bins+2) rows
    (−1/bins are the under/overflow bins, so no value is silently
    dropped — the caller sees mass outside the assumed range instead
    of wrong quantiles).  One map-side-combinable aggregate; NULLs in
    ``col`` excluded like cms_build.  ``by`` adds grouping keys — the
    bounded-state form of per-group quantiles (A8's per-group twin):
    state per group is the fixed bin grid, never the group's rows.
    Merge histograms cell-wise via ``hist_merge``."""
    return (
        df.where(F.col(col).isNotNull())
        .select(*by, F.expr(_hist_bin_sql(col, lo, hi, bins)).alias("bin"))
        .groupBy(*by, "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def hist_merge(*hists: DataFrame, by: tuple = ()) -> DataFrame:
    """Cell-wise sum: hist(A) + hist(B) = hist(A ∪ B) exactly."""
    out = hists[0]
    for h in hists[1:]:
        out = out.unionByName(h)
    return out.groupBy(*by, "bin").agg(F.sum("cnt").alias("cnt"))


def hist_quantile(
    hist: DataFrame,
    qs: list[float],
    *,
    lo: float,
    hi: float,
    bins: int = 256,
    by: tuple = (),
) -> DataFrame:
    """Quantile estimates from the histogram: for each q, locate the
    bin where the cumulative count crosses rank q·N and interpolate
    linearly inside it — error ≤ one bin width by construction
    (|est − percentile_cont(q)| ≤ 2·width covers the two rank
    conventions' off-by-one at a bin boundary).

    Everything runs on the ≤ bins+2-row histogram frame: one ordered
    cumsum window (a single task over a BOUNDED frame — the sketch is
    fixed-size, so this is not the mega-domain cliff) and one
    broadcast join against the |qs|-row quantile list.  Under/overflow
    bins participate in ranks but clamp their estimate to lo/hi."""
    from functools import reduce

    from pyspark.sql import Window

    w = (hi - lo) / bins
    win = Window.partitionBy(*by).orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    # partitioned by group over ≤ bins+2 SKETCH rows per group — the
    # frame is fixed-size regardless of data volume, so this is not
    # the mega-domain window cliff
    cum = hist.withColumn("cum", F.sum("cnt").over(win)).withColumn(
        "cumb", F.col("cum") - F.col("cnt")
    )
    totals = hist.groupBy(*by).agg(F.sum("cnt").alias("__n"))
    qlist = local_rows_df(hist.sparkSession, [(q,) for q in qs], "q double")
    qdf = F.broadcast(
        totals.crossJoin(F.broadcast(qlist))
        .withColumn("need", F.col("q") * F.col("__n"))
        .select(
            *[F.col(k).alias(f"__q_{k}") for k in by], "q", "need"
        )
    )
    rank_cond = (F.col("cumb").cast("double") < F.col("need")) & (
        F.col("cum").cast("double") >= F.col("need")
    )
    cond = reduce(
        lambda a, k: a & F.col(k).eqNullSafe(F.col(f"__q_{k}")),
        by,
        rank_cond,
    )
    est = (
        F.lit(lo)
        + F.lit(w) * F.col("bin").cast("double")
        + F.lit(w)
        * (F.col("need") - F.col("cumb").cast("double"))
        / F.col("cnt").cast("double")
    )
    return cum.join(qdf, cond).select(
        *by,
        "q",
        F.greatest(F.lit(lo), F.least(F.lit(hi), est)).alias("est"),
    )


def hist_psi(
    ref: DataFrame,
    cur: DataFrame,
    *,
    by: tuple = (),
    eps: float = 0.5,
    psi_col: str = "psi",
) -> DataFrame:
    """Population Stability Index between two histograms — the
    standard production drift monitor (PSI = Σ (p−q)·ln(p/q) over
    bins; rule of thumb: < 0.1 stable, > 0.25 drifted).  Built on the
    mergeable histogram, so the reference side is a PERSISTED sketch
    (2 KB) and per-ingest drift checks never rescan the reference
    corpus — and both sides can arrive from the streaming accumulator.

    Laplace smoothing ``eps`` per bin keeps ln finite on bins one side
    never hit (p, q > 0 always); the bin universe is the UNION of both
    sides' bins per group (a full outer join of two sketch frames).
    Per-bin terms are 9dp-rounded and summed in DECIMAL(28,9) — the
    DSIR discipline — so the score is bit-reproducible across engines
    and cluster sizes despite the ln."""
    keys = [*by, "bin"]
    r = ref.select(
        *[F.col(k) for k in keys], F.col("cnt").alias("__rc")
    )
    c = cur.select(
        *[F.col(k) for k in keys], F.col("cnt").alias("__cc")
    )
    from pyspark.sql import Window

    joined = r.join(c, keys, "full_outer").select(
        *[F.col(k) for k in by],
        F.col("bin"),
        F.coalesce("__rc", F.lit(0)).alias("__rc"),
        F.coalesce("__cc", F.lit(0)).alias("__cc"),
    )
    w = Window.partitionBy(*by) if by else Window.partitionBy(F.lit(1))
    tot = (
        joined.withColumn("__rn", F.sum("__rc").over(w))
        .withColumn("__cn", F.sum("__cc").over(w))
        .withColumn("__nb", F.count(F.lit(1)).over(w))
    )
    p = (F.col("__rc") + F.lit(eps)) / (
        F.col("__rn") + F.lit(eps) * F.col("__nb")
    )
    q = (F.col("__cc") + F.lit(eps)) / (
        F.col("__cn") + F.lit(eps) * F.col("__nb")
    )
    term = F.expr(
        "cast(round(cast((__p - __q) * ln(__p / __q) as decimal(28,12)),"
        " 9) as decimal(28,9))"
    )
    return (
        tot.withColumn("__p", p)
        .withColumn("__q", q)
        .withColumn("__t", term)
        .groupBy(*by)
        .agg(
            F.round(F.sum("__t"), 9).cast("double").alias(psi_col)
        )
    )
