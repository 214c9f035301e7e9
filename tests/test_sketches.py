"""Count-min sketch family (pre-built r12): the sketch must obey the
CMS laws against an independent Python reference (cell-exact build,
one-sided estimates, cell-wise mergeability), and the heavy-hitter
spec must match its DuckDB oracle exactly — the hash family is shared
integer arithmetic, so both engines build the identical sketch."""

from __future__ import annotations

from data_engineering_for_e_commerce_logistics_spark.operators import (
    sketches,
)
from data_engineering_for_e_commerce_logistics_spark.plans import (
    analytics_queries as aq,
)

SF = "/root/testdata/sf0.01"


def _py_bucket(k: int, a: int, b: int, width: int) -> int:
    p = sketches.CMS_P
    return ((((k % p) + p) % p) * a + b) % p % width


def _py_cms(keys, width=32, depth=4):
    cells: dict[tuple[int, int], int] = {}
    for k in keys:
        for d, (a, b) in enumerate(sketches.CMS_HASHES[:depth]):
            cell = (d, _py_bucket(k, a, b, width))
            cells[cell] = cells.get(cell, 0) + 1
    return cells


def test_cms_build_matches_python_reference(spark):
    keys = [i * i % 97 for i in range(500)] + [-5] * 7  # skew + negatives
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    got = {
        (r.d, r.bucket): r.cnt
        for r in sketches.cms_build(df, "k", width=32).collect()
    }
    assert got == _py_cms(keys, width=32)


def test_cms_estimate_one_sided_and_exact_when_sparse(spark):
    """Estimates never fall below true counts (the CMS law the spec's
    est_ge_exact column states), and with width >> cardinality the
    estimate is exact for every key."""
    keys = [i % 10 for i in range(200)]
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    exact = {k: keys.count(k) for k in set(keys)}

    # collision-heavy: width 4 forces overcounts, never undercounts
    tight = sketches.cms_build(df, "k", width=4)
    cand = df.distinct()
    for r in sketches.cms_estimate(tight, cand, "k", width=4).collect():
        assert r.cms_est >= exact[r.k]

    # sparse: width 1024 over 10 keys — min over 4 rows is exact
    wide = sketches.cms_build(df, "k", width=1024)
    got = {
        r.k: r.cms_est
        for r in sketches.cms_estimate(wide, cand, "k", width=1024).collect()
    }
    assert got == exact


def test_cms_merge_law(spark):
    """sketch(C1) + sketch(C2) = sketch(C1 ∪ C2) cell-wise — the
    property that makes partial aggregates per-partition sketches and
    the sketch a streaming accumulator."""
    df = spark.createDataFrame([(i % 37,) for i in range(300)], "k long")
    c1 = df.where("k < 20")
    c2 = df.where("k >= 20")
    merged = {
        (r.d, r.bucket): r.cnt
        for r in sketches.cms_merge(
            sketches.cms_build(c1, "k", width=32),
            sketches.cms_build(c2, "k", width=32),
        ).collect()
    }
    full = {
        (r.d, r.bucket): r.cnt
        for r in sketches.cms_build(df, "k", width=32).collect()
    }
    assert merged == full


def test_cms_stream_matches_batch_sketch(spark, tmp_path):
    """Streaming twin (start_cms_stream): feeding the events table
    through per-file micro-batches and merging segment partials must
    reproduce the batch sketch cell-exactly (CMS linearity end to
    end), a replayed batch must not double-count, and compaction must
    collapse the segments without changing any cell."""
    import os

    from data_engineering_for_e_commerce_logistics_spark.catalog import (
        read_parquet_table,
    )
    from data_engineering_for_e_commerce_logistics_spark.streaming import (
        ingest,
    )

    ev = read_parquet_table(spark, f"{SF}/events.parquet").select(
        "event_id", "user_id"
    )
    src = str(tmp_path / "src")
    # 5 source files → several micro-batches under maxFilesPerTrigger
    ev.repartition(5).write.parquet(src)
    sketch = str(tmp_path / "sketch")
    ckpt = str(tmp_path / "ckpt")
    q = ingest.start_cms_stream(
        spark,
        src,
        sketch,
        ckpt,
        "user_id",
        schema="event_id long, user_id long",
        width=64,
        depth=4,
        compact_every=3,
    )
    q.awaitTermination(120)

    got = {
        (r.d, r.bucket): r.cnt
        for r in ingest.read_cms_sketch(spark, sketch).collect()
    }
    want = {
        (r.d, r.bucket): r.cnt
        for r in sketches.cms_build(ev, "user_id", width=64).collect()
    }
    assert got == want

    # every surviving segment is _SUCCESS-committed (the replay guard's
    # precondition), and total sketch mass equals rows × depth — the
    # invariant the guard protects against double-counting
    segs = sorted(d for d in os.listdir(sketch) if d.startswith("batch_id="))
    assert segs
    for s in segs:
        assert os.path.exists(os.path.join(sketch, s, "_SUCCESS")), s
    mass = sum(
        r.cnt for r in ingest.read_cms_sketch(spark, sketch).collect()
    )
    n_rows = ev.where("user_id IS NOT NULL").count()
    assert mass == n_rows * 4  # depth rows per event

    # second availableNow run over the SAME checkpoint: no new files →
    # no new segments, sketch unchanged (restart safety)
    q2 = ingest.start_cms_stream(
        spark,
        src,
        sketch,
        ckpt,
        "user_id",
        schema="event_id long, user_id long",
        width=64,
        depth=4,
        compact_every=3,
    )
    q2.awaitTermination(120)
    again = {
        (r.d, r.bucket): r.cnt
        for r in ingest.read_cms_sketch(spark, sketch).collect()
    }
    assert again == want


def test_cms_stream_recovers_mid_swap_crash(spark, tmp_path):
    """Compaction crash-window recovery (ADVICE r12): if a crash lands
    between the two swap renames, the accumulated sketch survives only
    as ``.compact-old``.  A restarted stream must roll it back BEFORE
    writing any partial — otherwise the replayed batch recreates the
    sketch dir with just its own counts and the next compaction
    silently deletes the history.  Simulate both crash states and
    assert the final sketch still equals the batch build over ALL
    ingested rows."""
    import os
    import shutil

    from data_engineering_for_e_commerce_logistics_spark.catalog import (
        read_parquet_table,
    )
    from data_engineering_for_e_commerce_logistics_spark.streaming import (
        ingest,
    )

    ev = read_parquet_table(spark, f"{SF}/events.parquet").select(
        "event_id", "user_id"
    )
    first = ev.where("event_id % 2 = 0")
    second = ev.where("event_id % 2 = 1")
    src = str(tmp_path / "src")
    first.repartition(2).write.mode("append").parquet(src)
    sketch = str(tmp_path / "sketch")
    ckpt = str(tmp_path / "ckpt")

    def run():
        q = ingest.start_cms_stream(
            spark,
            src,
            sketch,
            ckpt,
            "user_id",
            schema="event_id long, user_id long",
            width=64,
            depth=4,
            compact_every=2,
        )
        q.awaitTermination(120)

    run()

    # Crash state A: mid-swap — the live dir was renamed aside and the
    # tmp→live rename never happened.  The only copy is .compact-old.
    os.rename(sketch, sketch + ".compact-old")
    # new data arrives, stream restarts over the same checkpoint
    second.repartition(2).write.mode("append").parquet(src)
    run()

    got = {
        (r.d, r.bucket): r.cnt
        for r in ingest.read_cms_sketch(spark, sketch).collect()
    }
    want = {
        (r.d, r.bucket): r.cnt
        for r in sketches.cms_build(ev, "user_id", width=64).collect()
    }
    assert got == want  # pre-crash counts recovered, not lost
    assert not os.path.exists(sketch + ".compact-old")

    # Crash state B: swap completed but cleanup didn't — a stale
    # superseded copy sits at .compact-old.  Recovery must drop it
    # (NOT roll it back over the newer live sketch).
    shutil.copytree(sketch, sketch + ".compact-old")
    # a 0-row file: fires a batch (so recovery runs) without new counts
    ev.limit(0).repartition(1).write.mode("append").parquet(src)
    run()
    again = {
        (r.d, r.bucket): r.cnt
        for r in ingest.read_cms_sketch(spark, sketch).collect()
    }
    assert again == want
    assert not os.path.exists(sketch + ".compact-old")


def test_cms_guards_reject_misuse(spark):
    """ADVICE r12 guard rails: pack-stride collision and reserved
    probe-column clashes fail loudly instead of corrupting results."""
    import pytest

    df = spark.createDataFrame([(1,)], "k long")
    cms = sketches.cms_build(df, "k", width=32)
    with pytest.raises(ValueError, match="stride"):
        sketches.cms_pack(cms, width=sketches.CMS_PACK_STRIDE)
    with pytest.raises(ValueError, match="stride"):
        sketches.cms_salted_aggregate(
            df, "k", cms, threshold=1, width=sketches.CMS_PACK_STRIDE * 2
        )
    with pytest.raises(ValueError, match="reserved"):
        sketches.cms_build(
            spark.createDataFrame([(1, 2)], "k long, d long"),
            "k",
            width=32,
            by=("d",),
        )
    with pytest.raises(ValueError, match="reserved"):
        sketches.cms_estimate(
            cms, spark.createDataFrame([(1, 2)], "k long, bucket long"), "k",
            width=32,
        )


def test_cms_salted_aggregate_equals_plain_groupby(spark):
    """The conditional-salting law: result bit-identical to the plain
    groupBy (salt only reshapes the shuffle), and the one-sided CMS
    law means every truly-hot key is flagged — no false negatives."""
    from pyspark.sql import functions as F

    rows = [(i % 50, float(i % 7)) for i in range(2000)] + [
        (999, 1.5)
    ] * 500  # one genuinely hot key
    df = spark.createDataFrame(rows, "k long, v double")
    cms = sketches.cms_build(df, "k", width=256)
    out = {
        r.k: (r.n_rows, r.sv, r.took_salted_path)
        for r in sketches.cms_salted_aggregate(
            df,
            "k",
            cms,
            threshold=100,
            sums={"sv": "cast(v as decimal(28,8))"},
            width=256,
        ).collect()
    }
    plain = {
        r.k: (r.n, float(r.sv))
        for r in df.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr("cast(v as decimal(28,8))")).alias("sv"),
        )
        .collect()
    }
    assert set(out) == set(plain)
    for k, (n, sv) in plain.items():
        assert out[k][0] == n, k
        assert float(out[k][1]) == sv, k
        if n >= 100:  # truly hot ⇒ MUST be salted (one-sided law)
            assert out[k][2], k


def _py_hist(vals, lo, hi, bins):
    import math

    w = (hi - lo) / bins
    cells: dict[int, int] = {}
    for x in vals:
        if x is None:
            continue
        b = (
            -1
            if x < lo
            else bins
            if x >= hi
            else min(int(math.floor((x - lo) / w)), bins - 1)
        )
        cells[b] = cells.get(b, 0) + 1
    return cells


def test_hist_build_matches_python_and_merge_law(spark):
    vals = [float(i * i % 97) - 3.0 for i in range(400)] + [None, 1e9, -1e9]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = {
        r.bin: r.cnt
        for r in sketches.hist_build(df, "x", lo=0.0, hi=64.0, bins=16).collect()
    }
    assert got == _py_hist(vals, 0.0, 64.0, 16)
    # merge law over a split
    a = df.where("x < 30")
    b = df.where("x >= 30 OR x IS NULL")
    merged = {
        r.bin: r.cnt
        for r in sketches.hist_merge(
            sketches.hist_build(a, "x", lo=0.0, hi=64.0, bins=16),
            sketches.hist_build(b, "x", lo=0.0, hi=64.0, bins=16),
        ).collect()
    }
    assert merged == got


def test_hist_quantile_within_bin_width(spark):
    """The estimator's deterministic error bound on a known
    distribution: uniform ints 0..999 → every estimate within one bin
    width of the true percentile."""
    df = spark.createDataFrame(
        [(float(i % 1000),) for i in range(10000)], "x double"
    )
    hist = sketches.hist_build(df, "x", lo=0.0, hi=1024.0, bins=256)
    got = {
        r.q: r.est
        for r in sketches.hist_quantile(
            hist, [0.1, 0.5, 0.9], lo=0.0, hi=1024.0, bins=256
        ).collect()
    }
    for q, est in got.items():
        assert abs(est - q * 1000.0) <= 4.0, (q, est)


def test_hist_streams_through_sketch_loop(spark, tmp_path):
    """The generic claim pinned: the quantile histogram streams
    through start_cms_stream via build/cell_cols and the merged
    segments equal the batch histogram cell-exactly."""
    from data_engineering_for_e_commerce_logistics_spark.catalog import (
        read_parquet_table,
    )
    from data_engineering_for_e_commerce_logistics_spark.streaming import (
        ingest,
    )

    ev = read_parquet_table(spark, f"{SF}/events.parquet").select(
        "event_id", "value"
    )
    src = str(tmp_path / "src")
    ev.repartition(4).write.parquet(src)
    q = ingest.start_cms_stream(
        spark,
        src,
        str(tmp_path / "hist"),
        str(tmp_path / "ckpt"),
        "value",
        schema="event_id long, value double",
        compact_every=2,
        build=lambda b: sketches.hist_build(
            b, "value", lo=0.0, hi=1024.0, bins=256
        ),
        cell_cols=("bin",),
    )
    q.awaitTermination(120)
    got = {
        r.bin: r.cnt
        for r in ingest.read_sketch(
            spark, str(tmp_path / "hist"), ("bin",)
        ).collect()
    }
    want = {
        r.bin: r.cnt
        for r in sketches.hist_build(
            ev, "value", lo=0.0, hi=1024.0, bins=256
        ).collect()
    }
    assert got == want


def test_group_hist_quantile_grouped_law(spark):
    """Grouped estimates equal per-group ungrouped estimates (the
    grouping is pure bookkeeping, not a semantics change)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(["a", "b"][i % 2], float((i * 13) % 500)) for i in range(3000)],
        "g string, x double",
    )
    hist = sketches.hist_build(
        df, "x", lo=0.0, hi=512.0, bins=128, by=("g",)
    )
    grouped = {
        (r.g, r.q): r.est
        for r in sketches.hist_quantile(
            hist, [0.25, 0.75], lo=0.0, hi=512.0, bins=128, by=("g",)
        ).collect()
    }
    for g in ("a", "b"):
        solo = sketches.hist_build(
            df.where(F.col("g") == g), "x", lo=0.0, hi=512.0, bins=128
        )
        want = {
            r.q: r.est
            for r in sketches.hist_quantile(
                solo, [0.25, 0.75], lo=0.0, hi=512.0, bins=128
            ).collect()
        }
        for q, est in want.items():
            assert grouped[(g, q)] == est, (g, q)


def test_hll_streams_through_sketch_loop(spark, tmp_path):
    """Non-additive merge through the same loop: DataSketches HLL
    distinct-count registers stream per batch and union (register
    max) on read — streamed estimate equals the batch sketch estimate
    EXACTLY (identical registers), and both land within 5% of the
    true distinct count."""
    from pyspark.sql import functions as F

    from data_engineering_for_e_commerce_logistics_spark.catalog import (
        read_parquet_table,
    )
    from data_engineering_for_e_commerce_logistics_spark.streaming import (
        ingest,
    )

    ev = read_parquet_table(spark, f"{SF}/events.parquet").select(
        "event_id", "user_id"
    )
    src = str(tmp_path / "src")
    ev.repartition(4).write.parquet(src)
    q = ingest.start_cms_stream(
        spark,
        src,
        str(tmp_path / "hll"),
        str(tmp_path / "ckpt"),
        "user_id",
        schema="event_id long, user_id long",
        compact_every=2,
        build=lambda b: b.agg(F.hll_sketch_agg("user_id").alias("cnt")),
        cell_cols=(),
        merge_expr=F.hll_union_agg("cnt"),
    )
    q.awaitTermination(120)
    streamed = (
        ingest.read_sketch(
            spark, str(tmp_path / "hll"), (), F.hll_union_agg("cnt")
        )
        .select(F.hll_sketch_estimate("cnt").alias("e"))
        .collect()[0]
        .e
    )
    batch = (
        ev.agg(F.hll_sketch_agg("user_id").alias("s"))
        .select(F.hll_sketch_estimate("s").alias("e"))
        .collect()[0]
        .e
    )
    assert streamed == batch  # identical registers, not just close
    exact = ev.select("user_id").distinct().count()
    assert abs(streamed - exact) <= 0.05 * exact


def test_hist_psi_matches_python_reference_and_zero_law(spark):
    """PSI against an independent reference on a hand-built pair, and
    the identity law: PSI(h, h) = 0 exactly (p = q per bin ⇒ every
    term is 0, no smoothing artifact)."""
    import math

    a = [(float(i % 40),) for i in range(500)]
    b = [(float((i * 3) % 60),) for i in range(400)]
    ra = spark.createDataFrame(a, "x double")
    rb = spark.createDataFrame(b, "x double")
    ha = sketches.hist_build(ra, "x", lo=0.0, hi=64.0, bins=8)
    hb = sketches.hist_build(rb, "x", lo=0.0, hi=64.0, bins=8)
    got = sketches.hist_psi(ha, hb).collect()[0].psi

    ca = _py_hist([v for (v,) in a], 0.0, 64.0, 8)
    cb = _py_hist([v for (v,) in b], 0.0, 64.0, 8)
    bins = set(ca) | set(cb)
    nb, rn, cn = len(bins), sum(ca.values()), sum(cb.values())
    want = 0.0
    for bn in bins:
        p = (ca.get(bn, 0) + 0.5) / (rn + 0.5 * nb)
        q = (cb.get(bn, 0) + 0.5) / (cn + 0.5 * nb)
        want += round((p - q) * math.log(p / q), 9)
    assert abs(got - round(want, 9)) < 2e-9 * nb

    assert sketches.hist_psi(ha, ha).collect()[0].psi == 0.0


def test_hist_drift_events_matches_duckdb(spark):
    from tests.oracle import compare_frames, duckdb_conn

    spdf = aq.hist_drift_events(spark, SF).toPandas()
    conn = duckdb_conn(SF)
    try:
        opdf = conn.execute(aq.HIST_DRIFT_SQL).fetchdf()
    finally:
        conn.close()
    assert compare_frames(spdf, opdf, "hist_drift_events") == []
    # the legs behave as designed: same-distribution halves stable,
    # the 3x-scaled half drifted — for EVERY event type
    assert not spdf[spdf.variant == "split"].drifted.any()
    assert spdf[spdf.variant == "scaled"].drifted.all()


def test_hist_drift_events_plan_shape(spark):
    df = aq.hist_drift_events(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "InMemoryTableScan" in plan  # the cached reference sketch


def test_grouped_cms_is_per_group_independent(spark):
    """Grouped build equals per-group standalone builds (grouping is
    bookkeeping, each group's grid independent), and grouped estimates
    query the right group's sketch."""
    rows = [(["a", "b"][i % 2], i % 30) for i in range(600)]
    df = spark.createDataFrame(rows, "g string, k long")
    grouped = {
        (r.g, r.d, r.bucket): r.cnt
        for r in sketches.cms_build(
            df, "k", width=32, by=("g",)
        ).collect()
    }
    for g in ("a", "b"):
        solo = {
            (g, r.d, r.bucket): r.cnt
            for r in sketches.cms_build(
                df.where(f"g = '{g}'"), "k", width=32
            ).collect()
        }
        assert {k: v for k, v in grouped.items() if k[0] == g} == solo

    cand = df.distinct()
    est = {
        (r.g, r.k): r.cms_est
        for r in sketches.cms_estimate(
            sketches.cms_build(df, "k", width=1024, by=("g",)),
            cand,
            "k",
            width=1024,
            by=("g",),
        ).collect()
    }
    exact = {(g, k): rows.count((g, k)) for g, k in set(rows)}
    assert est == exact  # sparse grid ⇒ exact per group


def test_grouped_cms_merge_law(spark):
    """Merge law holds per group when by= threads through: merging two
    grouped partials equals the grouped build of the union, and
    groups never bleed into each other's grids."""
    rows = [(["a", "b"][i % 2], (i * 7) % 23) for i in range(400)]
    df = spark.createDataFrame(rows, "g string, k long")
    c1 = df.where("k < 12")
    c2 = df.where("k >= 12")
    merged = {
        (r.g, r.d, r.bucket): r.cnt
        for r in sketches.cms_merge(
            sketches.cms_build(c1, "k", width=16, by=("g",)),
            sketches.cms_build(c2, "k", width=16, by=("g",)),
            by=("g",),
        ).collect()
    }
    full = {
        (r.g, r.d, r.bucket): r.cnt
        for r in sketches.cms_build(df, "k", width=16, by=("g",)).collect()
    }
    assert merged == full
