"""Physical-layout operators — multi-dimensional clustering for data
skipping (the Delta/Iceberg ``ZORDER BY`` / ``rewrite_data_files``
maintenance job, net-new vs the reference, whose parquet layout is
whatever pandas wrote).

Why it matters at 100 TB: parquet scans prune row groups (and whole
files) from footer min/max statistics, but statistics only help if rows
with nearby key values live together. Partitioning gives that for ONE
coarse key; Z-ordering gives it for TWO (or more) fine-grained keys at
once by sorting on the Morton interleave of their bits — a range
predicate on EITHER key then touches a small band of files instead of
all of them.

Everything here is deterministic and SQL-replayable: the Morton and
Hilbert codes are min-max scaling + bit arithmetic (no sampling), so the
DuckDB oracle recomputes codes bit-for-bit and the oracle-gated queries
check codes and cluster statistics. The rewrite job itself (a range
shuffle on the code, an in-file sort, the write) is left to the table
format's maintenance service.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _scale_expr(col: str, lo: float, hi: float, bits: int) -> str:
    """SQL text scaling ``col`` into [0, 2^bits - 1] integers: floor of
    the min-max unit interval times the top code. Constant columns
    (hi == lo) scale to 0. Clamping guards float edge effects so the
    code always fits ``bits`` bits."""
    top = (1 << bits) - 1
    if hi == lo:
        return "CAST(0 AS BIGINT)"
    # D suffix: a bare decimal literal parses as DECIMAL in Spark SQL,
    # and decimal division truncates at scale 6 — measured a whole
    # scale-step drift vs the oracle's double arithmetic (x=3, lo=0,
    # hi=9: decimal 21844.978155 vs double 21845.0)
    return (
        f"least(CAST({top} AS BIGINT), greatest(CAST(0 AS BIGINT), "
        f"CAST(floor((({col} - ({lo!r}D)) / ({hi!r}D - ({lo!r}D))) * {top}) AS BIGINT)))"
    )


def _interleave_sql(za: str, zb: str, bits: int) -> str:
    """SQL text of the Morton interleave: bit i of ``za`` lands at 2i,
    bit i of ``zb`` at 2i+1. Plain shift/mask arithmetic — identical in
    Spark SQL and DuckDB."""
    terms = []
    for i in range(bits):
        terms.append(f"(shiftleft(shiftright({za}, {i}) & 1, {2 * i}))")
        terms.append(f"(shiftleft(shiftright({zb}, {i}) & 1, {2 * i + 1}))")
    return " + ".join(terms)


def with_morton_code(
    df: DataFrame,
    col_a: str,
    col_b: str,
    bounds: dict,
    bits: int = 16,
    out_col: str = "morton",
) -> DataFrame:
    """Adds ``out_col`` = Morton(z-order) code of (col_a, col_b) under
    the given bounds ``{col: (lo, hi)}``. Pure per-row arithmetic — one
    projection, no shuffle; bounds come from the caller (one bounded agg
    or table statistics)."""
    za = _scale_expr(col_a, *map(float, bounds[col_a]), bits)
    zb = _scale_expr(col_b, *map(float, bounds[col_b]), bits)
    return df.withColumn(out_col, F.expr(_interleave_sql(f"({za})", f"({zb})", bits)))


def column_bounds(df: DataFrame, cols: list) -> dict:
    """{col: (min, max)} from ONE aggregate pass (the only job a
    z-order rewrite pays besides the write itself)."""
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"__lo_{c}"), F.max(c).alias(f"__hi_{c}")]
    row = df.agg(*aggs).collect()[0]
    return {c: (row[f"__lo_{c}"], row[f"__hi_{c}"]) for c in cols}


def with_hilbert_code(
    df: DataFrame,
    col_a: str,
    col_b: str,
    bounds: dict,
    bits: int = 16,
    out_col: str = "hilbert",
) -> DataFrame:
    """Adds ``out_col`` = Hilbert-curve index of (col_a, col_b) under the
    given bounds — the higher-locality alternative to the Morton code
    (``with_morton_code``): consecutive Hilbert codes are always
    grid-NEIGHBORS (Manhattan distance 1), where the Morton curve jumps
    across the grid at power-of-two boundaries, so range predicates on
    either key touch strictly fewer parquet row groups under a
    Hilbert-clustered layout (the reason Delta's liquid clustering and
    Iceberg moved past ZORDER). Standard xy2d bit-level rotation
    (Wikipedia "Hilbert curve", public domain), unrolled as ``bits``
    chained simultaneous projections — per level the (x, y, d) state
    columns are rewritten from the previous level's, so the plan is a
    linear Project chain (each state column is non-trivial and
    multiply-referenced, which keeps CollapseProject from substituting
    it into an exponential expression). Pure per-row arithmetic — no
    shuffle; deterministic, replayed bit-for-bit by the DuckDB oracle."""
    za = _scale_expr(col_a, *map(float, bounds[col_a]), bits)
    zb = _scale_expr(col_b, *map(float, bounds[col_b]), bits)
    n = 1 << bits
    out = df.withColumns(
        {
            "__hx": F.expr(za).cast("long"),
            "__hy": F.expr(zb).cast("long"),
            "__hd": F.lit(0).cast("long"),
        }
    )
    for level in range(bits - 1, -1, -1):
        s = 1 << level
        rx = F.shiftright("__hx", level).bitwiseAND(F.lit(1))
        ry = F.shiftright("__hy", level).bitwiseAND(F.lit(1))
        # (3*rx) XOR ry as pure arithmetic: 3rx + ry - 2*rx*ry
        # (identical in both engines — no dialect-specific xor operator)
        step = (F.lit(3) * rx + ry - F.lit(2) * rx * ry) * F.lit(s * s)
        flipped_x = F.lit(n - 1) - F.col("__hx")
        flipped_y = F.lit(n - 1) - F.col("__hy")
        # ry==0: optionally flip (rx==1), then swap x<->y; ry==1: keep
        new_x = F.when(ry == 1, F.col("__hx")).otherwise(
            F.when(rx == 1, flipped_y).otherwise(F.col("__hy"))
        )
        new_y = F.when(ry == 1, F.col("__hy")).otherwise(
            F.when(rx == 1, flipped_x).otherwise(F.col("__hx"))
        )
        out = out.withColumns(
            {"__hd": F.col("__hd") + step, "__hx": new_x, "__hy": new_y}
        )
    return out.withColumn(out_col, F.col("__hd")).drop("__hx", "__hy", "__hd")
