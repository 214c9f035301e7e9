"""Cross-engine-exact aggregate expressions.

Summing IEEE doubles is order-dependent; a distributed Spark sum and a
DuckDB sequential sum can differ in the last ulp, and a final
round(x, 2) then splits on boundary values (observed: 16902.725).

Fix: aggregate in DECIMAL.  Each double term is cast to decimal(28,8)
(identical doubles cast identically in both engines — verified
empirically over the full test tables), decimal addition is exact and
order-independent, and the final round/cast back to double is applied
to bitwise-identical inputs.  The same SQL text runs in Spark
(via F.expr) and DuckDB, so parity is visible by construction.

At scale this costs one decimal add per row in the partial aggregate —
still whole-stage-codegen'd, no Python boundary.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _cast_scale(scale: int) -> int:
    """Decimal scale for the quantizing cast: the round scale must sit
    BELOW the cast scale.  Rounding at the cast's own scale surfaces
    the engines' last-ulp double→decimal conversion difference as the
    result (observed once: an 8-dp round over decimal(28,8) split
    0.000958665 between engines); guard digits make the final round
    operate on identical decimal inputs.  Scale stays 8 for rounds
    ≤6 dp (their hand-written SQL mirrors are scale-8 and ≥2 guard
    digits measured clean over two full contract rounds); 8-dp rounds
    get a 12-scale cast."""
    return 12 if scale >= 8 else 8


def sql_exact_round(term: str, scale: int = 2) -> str:
    """Per-row ROUND over doubles with deterministic cross-engine result.

    Plain round(double, 2) disagrees between Spark (BigDecimal
    shortest-repr HALF_UP) and DuckDB (multiply/nearbyint) on ~0.2% of
    rows (measured 116/60000 on lineitem revenue).  Routing through a
    guard-digit decimal intermediate makes the final round exact and
    identical in both engines (measured 0/60000)."""
    return (
        f"cast(round(cast(({term}) as decimal(28,{_cast_scale(scale)})),"
        f" {scale}) as double)"
    )


def exact_round(term: Column | str, scale: int = 2) -> Column:
    col = F.expr(term) if isinstance(term, str) else term
    return F.round(col.cast(f"decimal(28,{_cast_scale(scale)})"), scale).cast(
        "double"
    )


def sql_exact_sum(term: str, scale: int = 2) -> str:
    """SUM over doubles with deterministic cross-engine result."""
    return f"cast(round(sum(cast(({term}) as decimal(28,8))), {scale}) as double)"


def sql_exact_avg(term: str, scale: int = 2) -> str:
    """AVG over doubles: exact decimal sum, then one double division
    (identical on both engines) rounded through ``sql_exact_round`` —
    a plain round(double) of the quotient splits half-cent means."""
    # nullif guard: an all-null group has count=0, and ANSI-mode Spark
    # (the Spark 4 default) throws on division by zero where DuckDB
    # returns NULL — nullif makes both engines return NULL.
    return sql_exact_round(
        f"cast(sum(cast(({term}) as decimal(28,8))) as double)"
        f" / nullif(count({term}), 0)",
        scale,
    )


def exact_sum(term: str, scale: int = 2) -> Column:
    return F.expr(sql_exact_sum(term, scale))


def exact_avg(term: str, scale: int = 2) -> Column:
    return F.expr(sql_exact_avg(term, scale))
