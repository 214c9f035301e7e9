"""Output checks against DuckDB, run outside every timed region.

* Query specs: the spec's oracle SQL on DuckDB over the same parquet
  files, compared order-insensitively (columns by name, rows sorted by
  every column, exact for non-floats, 1e-9 for floats) -- the rules of
  the repository's differential tests.  A spec without oracle SQL is
  checked for a non-empty result.
* ETL: the expected final warehouse is computed by DuckDB from the CSV
  increments loaded so far (newest day wins per key); the
  warehouse the pipeline wrote is read back by DuckDB and compared on
  counts, sums and key uniqueness.
* Stream: the expected hourly rollup is computed by DuckDB
  from the landed files with the stream's watermark rule; the sink is
  compared on counts, sums and key uniqueness (``approx_users`` is
  approximate and left out).
"""

from __future__ import annotations

import math
import os

import duckdb
import numpy as np
import pandas as pd

from data_engineering_for_e_commerce_logistics_spark.catalog import TABLES


def _lit(path: str) -> str:
    return "'" + path.replace("'", "''") + "'"


def star_connection(data_dir: str) -> duckdb.DuckDBPyConnection:
    conn = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        conn.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet({_lit(path)})")
    return conn


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        s = df[c]
        if s.dtype == object:
            df[c] = s.map(lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v)
        elif str(s.dtype).startswith("datetime64") and getattr(s.dt, "tz", None) is not None:
            df[c] = s.dt.tz_localize(None)
        elif str(s.dtype) == "float32" or str(s.dtype).startswith("decimal"):
            df[c] = s.astype("float64")
    if len(df.columns):
        df = df.sort_values(list(df.columns), na_position="last").reset_index(drop=True)
    return df


def compare_frames(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Mismatch descriptions; empty when the frames agree."""
    if len(got) != len(want):
        return [f"row count {len(got)} != {len(want)}"]
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} != {sorted(want.columns)}"]
    a, b = _normalize(got.copy()), _normalize(want.copy())
    problems = []
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
            x = av.astype("float64").to_numpy()
            y = bv.astype("float64").to_numpy()
            ok = np.isclose(x, y, rtol=1e-9, atol=1e-9) | (np.isnan(x) & np.isnan(y))
        else:
            ok = ((av == bv) | (av.isna() & bv.isna())).to_numpy()
        if not ok.all():
            i = int(np.argmin(ok))
            problems.append(f"{c}: sorted row {i}: {av.iloc[i]!r} != {bv.iloc[i]!r}")
    return problems


def check_spec(spark_pdf: pd.DataFrame, oracle_sql: str | None, conn) -> list[str]:
    if oracle_sql is None:
        return [] if len(spark_pdf) > 0 else ["no rows"]
    return compare_frames(spark_pdf, conn.execute(oracle_sql).fetchdf())


# --- ETL ----------------------------------------------------------------------


class WarehouseOracle:
    """The expected warehouse after each day of one run: per key, the row
    of the newest day loaded so far that carries it.  Each day's CSV
    increment is read into DuckDB once, the first time a check needs it,
    so checking day ``k`` does not re-read days ``0..k-1``."""

    def __init__(self, days: list[dict[str, str]]):
        self.days = days
        self.conn = duckdb.connect()
        self.loaded = 0

    def _load(self, upto: int) -> None:
        for d in range(self.loaded, upto + 1):
            for entity in ("orders", "order_items"):
                src = (
                    f"SELECT *, {d} AS day FROM "
                    f"read_csv({_lit(self.days[d][entity])}, header=true, all_varchar=true)"
                )
                verb = f"CREATE TABLE {entity} AS" if d == 0 else f"INSERT INTO {entity}"
                self.conn.execute(f"{verb} {src}")
        self.loaded = max(self.loaded, upto + 1)

    def after(self, day: int) -> dict[str, float]:
        """Counts and sums of the warehouse after loading days ``0..day``."""
        self._load(day)
        orders = self.conn.execute(
            f"""
            WITH latest AS (
                SELECT *, row_number() OVER (PARTITION BY order_id ORDER BY day DESC) AS rn
                FROM orders WHERE day <= {day})
            SELECT count(*), count(DISTINCT order_id),
                   count(*) FILTER (WHERE lower(trim(order_status)) = 'delivered')
            FROM latest WHERE rn = 1
            """
        ).fetchone()
        items = self.conn.execute(
            f"""
            WITH latest AS (
                SELECT *, row_number() OVER (
                    PARTITION BY order_id, product_id ORDER BY day DESC) AS rn
                FROM order_items WHERE day <= {day})
            SELECT count(*),
                   count(DISTINCT (order_id, product_id)),
                   sum(coalesce(try_cast(price AS DOUBLE), 0.0))
            FROM latest WHERE rn = 1
            """
        ).fetchone()
        return {
            "orders.rows": orders[0],
            "orders.keys": orders[1],
            "orders.delivered": orders[2],
            "order_items.rows": items[0],
            "order_items.keys": items[1],
            "order_items.price_sum": items[2],
            "run_log.rows": day + 1,
        }

    def close(self) -> None:
        self.conn.close()


def expected_warehouse(days: list[dict[str, str]]) -> dict[str, float]:
    """The expected warehouse after loading ``days`` in order."""
    oracle = WarehouseOracle(days)
    try:
        return oracle.after(len(days) - 1)
    finally:
        oracle.close()


def actual_warehouse(wh_dir: str) -> dict[str, float]:
    conn = duckdb.connect()
    try:
        glob = lambda t: _lit(os.path.join(wh_dir, t, "*.parquet"))  # noqa: E731
        orders = conn.execute(
            f"""SELECT count(*), count(DISTINCT order_id),
                       count(*) FILTER (WHERE order_status = 'delivered')
                FROM read_parquet({glob('orders')})"""
        ).fetchone()
        items = conn.execute(
            f"""SELECT count(*), count(DISTINCT (order_id, product_id)),
                       sum(price)
                FROM read_parquet({glob('order_items')})"""
        ).fetchone()
        runs = conn.execute(
            f"""SELECT count(*) FILTER (WHERE status = 'success')
                FROM read_parquet({glob('etl_run_log')})"""
        ).fetchone()
    finally:
        conn.close()
    return {
        "orders.rows": orders[0],
        "orders.keys": orders[1],
        "orders.delivered": orders[2],
        "order_items.rows": items[0],
        "order_items.keys": items[1],
        "order_items.price_sum": items[2],
        "run_log.rows": runs[0],
    }


# --- stream -------------------------------------------------------------------


def expected_rollup(tick_files: list[str], watermark_hours: float = 2.0) -> dict[str, float]:
    """The hourly rollup after refreshing once per landed tick.  Tick
    ``t`` runs with watermark ``max(event time of ticks < t) - 2h``; an
    event is dropped when its hourly window ends at or before it."""
    conn = duckdb.connect()
    try:
        conn.execute("SET TimeZone = 'UTC'")
        union = " UNION ALL ".join(
            f"SELECT *, {t} AS tick FROM read_parquet({_lit(p)})"
            for t, p in enumerate(tick_files)
        )
        row = conn.execute(
            f"""
            WITH e AS ({union}),
            tmax AS (SELECT tick, max(ts) AS mx FROM e GROUP BY tick),
            wm AS (
                SELECT a.tick, max(b.mx) - INTERVAL {int(watermark_hours * 3600)} SECOND AS wm
                FROM tmax a LEFT JOIN tmax b ON b.tick < a.tick GROUP BY a.tick),
            kept AS (
                SELECT e.* FROM e JOIN wm USING (tick)
                WHERE wm.wm IS NULL
                   OR date_trunc('hour', e.ts) + INTERVAL 1 HOUR > wm.wm),
            r AS (
                SELECT date_trunc('hour', ts) AS window_start, event_type,
                       count(*) AS n_events, sum(value) AS sum_value
                FROM kept GROUP BY ALL)
            SELECT count(*), sum(n_events), sum(sum_value),
                   count(DISTINCT (window_start, event_type))
            FROM r
            """
        ).fetchone()
    finally:
        conn.close()
    return {"rows": row[0], "events": row[1], "value": row[2], "keys": row[3]}


def actual_rollup(sink_dir: str) -> dict[str, float]:
    conn = duckdb.connect()
    try:
        row = conn.execute(
            f"""SELECT count(*), sum(n_events), sum(sum_value),
                       count(DISTINCT (window_start, event_type))
                FROM read_parquet({_lit(os.path.join(sink_dir, '*.parquet'))})"""
        ).fetchone()
    finally:
        conn.close()
    return {"rows": row[0], "events": row[1], "value": row[2], "keys": row[3]}


def diff_totals(got: dict[str, float], want: dict[str, float]) -> list[str]:
    """Exact for counts, 1e-9 relative for sums."""
    problems = []
    for k, w in want.items():
        g = got.get(k)
        if g is None or not math.isclose(float(g), float(w), rel_tol=1e-9, abs_tol=1e-6):
            problems.append(f"{k}: {g!r} != {w!r}")
    return problems
