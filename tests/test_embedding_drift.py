"""Embedding-space drift via PSI over IVF cell occupancy (pre-built
r13): the vector twin of hist_drift_events.  Same-distribution halves
must read stable, a component shift must read drifted, the score must
match the DuckDB oracle bitwise (9dp decimal term sum), and the
assignment side must stay a broadcast map-only pass."""

from pyspark.sql import functions as F

from data_engineering_for_e_commerce_logistics_spark.plans import (
    graph_queries as gq,
)
from tests.oracle import compare_frames, duckdb_conn

SF = "/root/testdata/sf0.01"


def test_verdicts_split_stable_shifted_drifted(spark):
    rows = {r.variant: r for r in gq.embedding_drift_cells(spark, SF).collect()}
    assert rows["split"].drifted is False
    assert rows["shifted"].drifted is True
    assert rows["shifted"].psi > 10 * rows["split"].psi


def test_embedding_drift_matches_duckdb(spark):
    spdf = gq.embedding_drift_cells(spark, SF).toPandas()
    conn = duckdb_conn(SF)
    opdf = conn.execute(gq.EMBEDDING_DRIFT_SQL).fetchdf()
    conn.close()
    assert compare_frames(spdf, opdf, "embedding_drift_cells") == []


def test_psi_zero_when_current_equals_reference(spark):
    """PSI law: identical occupancy → every term is exactly 0 (the
    smoothed p and q coincide), so the score is 0.0, not merely
    small."""
    from data_engineering_for_e_commerce_logistics_spark.catalog import (
        load_tables,
    )
    from data_engineering_for_e_commerce_logistics_spark.operators import (
        sketches,
    )

    emb = load_tables(spark, SF, ("embeddings",))["embeddings"]
    cells = (
        emb.select((F.col("vec_id") % 7).alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    out = sketches.hist_psi(cells, cells).collect()
    assert len(out) == 1 and out[0].psi == 0.0


def test_drift_plan_is_broadcast_map_only_assign(spark):
    """Cell occupancy per leg: packed centroids broadcast (map-only
    assignment — the per-ingest cost the operator promises), no
    cartesian row expansion, no Python, the reference sketch cached
    once for its two PSI consumers.  The only SortMergeJoins allowed
    are hist_psi's full-outer sketch-frame merges (FullOuter cannot
    broadcast-hash; both sides are ≤ n_centroids rows by
    construction), never a join of the vector table itself."""
    plan = (
        gq.embedding_drift_cells(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan
    assert "BroadcastExchange" in plan  # packed centroids
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan  # cached reference cells
    import re

    assert all(
        "FullOuter" in ln for ln in plan.splitlines() if re.search(
            r"\bSortMergeJoin\b", ln
        )
    )
