"""Cleaning kernel: the reference's silver-layer operators (SURVEY.md §2.2),
re-expressed as scalable DataFrame -> DataFrame functions.

Reference parity map (file:line into /root/reference):
- dedup_by_key            <- clean_traffic.py:66-72 drop_duplicates(subset=key)
- parse/drop timestamps   <- clean_traffic.py:76-83 to_datetime(errors=coerce)
- mode_fill               <- clean_traffic.py:89-95 fillna(mode)
- coerce_numeric          <- clean_traffic.py:104 pd.to_numeric(errors=coerce)
- null_fraction_drop      <- clean_traffic.py:106-110 (>50% NaN -> drop rows)
- iqr_clip                <- clean_traffic.py:112-126 (Q1/Q3 +- 1.5*IQR clip)
- median_fill             <- clean_traffic.py:128-131 fillna(median)
- variance_filter         <- factor_analysis.py:184-185 (std > 0.01 columns)

- fit_clean               <- clean_traffic.py:89-131 (fill -> drop -> clip -> fill)

Scale design: every "fit statistics, then transform rows" operator computes
ALL its statistics in ONE aggregate pass (a single job producing one tiny
row, collected to the driver and folded back in as literals). The transform
pass is then a pure narrow projection — no shuffle, no second scan beyond
the one Catalyst already plans. Pandas does the same thing eagerly per
column; here each helper is O(1) jobs regardless of column count, and
``fit_clean`` fits a whole silver table in two jobs. Modes are
``F.mode``, which holds one map of distinct values per column in the final
aggregation task: every caller passes low-cardinality categoricals.

Determinism: pandas `drop_duplicates` keeps the *first* row in file order;
Spark has no row order, so ``dedup_by_key`` takes an explicit tiebreak and
keeps the minimum — a defined, reproducible survivor. Mode ties break to
the smallest value (pandas `.mode()` returns all ties sorted; the reference
takes `[0]`, i.e. the smallest — same semantics).
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from urban_traffic_data_lake_project_spark.functions import parse_timestamp_multi
from urban_traffic_data_lake_project_spark.functions.core import DEFAULT_TS_FORMATS
from urban_traffic_data_lake_project_spark.operators.stats import column_profile


def dedup_by_key(df: DataFrame, keys: Sequence[str], tiebreak: Sequence[str]) -> DataFrame:
    """Keep exactly one row per key, deterministically (min over tiebreak).

    NULL keys group together (one survivor), matching pandas'
    ``drop_duplicates`` NaN handling. Plans as a single hash shuffle on the
    key + per-partition top-1 — no global sort.
    """
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).asc_nulls_last() for c in tiebreak])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def parse_timestamps(
    df: DataFrame,
    col: str,
    formats: tuple[str, ...] = DEFAULT_TS_FORMATS,
    drop_unparseable: bool = True,
) -> DataFrame:
    """Multi-format parse with coercion; optionally drop rows that fail all
    formats (reference drops them: clean_traffic.py:82-83)."""
    out = df.withColumn(col, parse_timestamp_multi(F.col(col), formats))
    if drop_unparseable:
        out = out.filter(F.col(col).isNotNull())
    return out


def coerce_numeric(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """String -> double with non-numeric -> NULL (pd.to_numeric(errors='coerce')).

    ``try_cast`` rather than ``cast``: under ANSI mode (Spark 4 default)
    a plain cast *throws* on malformed input instead of coercing to NULL.
    """
    return df.withColumns({c: F.col(c).try_cast("double") for c in cols})


def compute_modes(df: DataFrame, cols: Sequence[str]) -> dict[str, str]:
    """Deterministic mode per string column (max count, ties -> min value;
    all-NULL columns omitted), all columns in ONE ``F.mode`` aggregate. Its
    memory bound is one map of distinct values per column in the final
    aggregation task: callers pass low-cardinality categoricals only."""
    if not cols:
        return {}
    row = df.agg(*[F.mode(c, deterministic=True) for c in cols]).first()
    return {c: row[i] for i, c in enumerate(cols) if row[i] is not None}


def mode_fill(df: DataFrame, cols: Sequence[str], default: str = "Unknown") -> DataFrame:
    """Fill NULL categoricals with the column mode ('Unknown' if the column
    is entirely NULL) — reference clean_traffic.py:89-95."""
    modes = compute_modes(df, cols)
    return df.na.fill({c: modes.get(c, default) for c in cols})


def compute_medians(df: DataFrame, cols: Sequence[str]) -> dict[str, float]:
    """Exact interpolated median per numeric column, the ``quantiles`` of
    one ``stats.column_profile`` pass; columns with no values are omitted,
    matching ``F.median`` NULL semantics. Spark's native ``median``
    buffers every value of every column in one aggregation buffer, which
    is O(n) reducer memory on high-cardinality doubles."""
    prof = column_profile(df, cols, [0.5])
    return {c: cp.quantiles[0] for c, cp in prof.columns.items() if cp.quantiles[0] is not None}


def median_fill(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Fill NULL numerics with the column median (clean_traffic.py:128-131)."""
    return df.na.fill(compute_medians(df, cols))


def _iqr_bounds(q1: float, q3: float, factor: float) -> tuple[float, float]:
    iqr = q3 - q1
    return q1 - factor * iqr, q3 + factor * iqr


def compute_iqr_bounds(
    df: DataFrame, cols: Sequence[str], factor: float = 1.5
) -> dict[str, tuple[float, float]]:
    """(lo, hi) clip bounds per column from the exact Q1/Q3 ``quantiles``
    of one ``stats.column_profile`` pass — Spark's native ``percentile``
    would buffer every value of every column in one aggregation buffer."""
    prof = column_profile(df, cols, [0.25, 0.75])
    return {
        c: _iqr_bounds(*cp.quantiles, factor)
        for c, cp in prof.columns.items()
        if cp.quantiles[0] is not None
    }


def _clip(c: str, lo: float, hi: float) -> Column:
    # NOT least(greatest(...)): Spark's least/greatest SKIP nulls, which
    # would turn NULL into the clip bound. The when-chain preserves NULL
    # (pandas clip semantics; NULLs are median-filled afterwards).
    col = F.col(c)
    return F.when(col < lo, F.lit(lo)).when(col > hi, F.lit(hi)).otherwise(col)


def _clip_value(v: float, lo: float, hi: float) -> float:
    """``_clip`` on one driver-side double, in Spark's double order: NaN
    above every double and equal to itself (Python's ``<`` is False
    whenever either side is NaN)."""

    def lt(a: float, b: float) -> bool:
        return not math.isnan(a) and (math.isnan(b) or a < b)

    return lo if lt(v, lo) else (hi if lt(hi, v) else v)


def iqr_clip(df: DataFrame, cols: Sequence[str], factor: float = 1.5) -> DataFrame:
    """Clip numeric columns to [Q1 - f*IQR, Q3 + f*IQR] (clean_traffic.py:112-126)."""
    bounds = compute_iqr_bounds(df, cols, factor)
    return df.withColumns({c: _clip(c, lo, hi) for c, (lo, hi) in bounds.items()})


def null_fraction_drop(df: DataFrame, cols: Sequence[str], threshold: float = 0.5) -> DataFrame:
    """Reference R5 (clean_traffic.py:106-110): for each column whose NULL
    fraction exceeds ``threshold``, drop the rows where it is NULL."""
    if not cols:
        return df
    row = df.agg(
        *[F.avg(F.col(c).isNull().cast("double")).alias(c) for c in cols]
    ).first()
    drop_cols = [c for c in cols if (row[c] or 0.0) > threshold]
    if drop_cols:
        df = df.na.drop(subset=drop_cols)
    return df


def fit_clean(
    df: DataFrame, categoricals: Sequence[str], numerics: Sequence[str], mixed_type_cols: Sequence[str]
) -> DataFrame:
    """``mode_fill -> coerce_numeric -> null_fraction_drop -> iqr_clip ->
    median_fill`` in two fit jobs: ONE aggregate of every mode and NULL
    fraction (after the coercion, whose NULLs the fractions must count;
    the fill touches only categoricals), then ONE ``stats.column_profile``
    pass for Q1/Q2/Q3 over the post-drop frame (a drop changes the other
    columns' values). The clip is monotone in Spark's double order, so the
    clipped median is ``clip(x0) + (clip(x1) - clip(x0)) * frac`` over the
    profile's Q2 ``points``: the kernel's own arithmetic on its doubles."""
    if mixed_type_cols:
        df = coerce_numeric(df, mixed_type_cols)
    row = df.agg(
        *[F.mode(c, deterministic=True) for c in categoricals],
        *[F.avg(F.col(c).isNull().cast("double")) for c in numerics],
    ).first()
    k = len(categoricals)
    out = df.na.fill({c: m if m is not None else "Unknown" for c, m in zip(categoricals, row)})
    drop_cols = [c for i, c in enumerate(numerics) if (row[k + i] or 0.0) > 0.5]
    if drop_cols:
        out = out.na.drop(subset=drop_cols)
    prof = column_profile(out, numerics, [0.25, 0.5, 0.75]).columns
    q = {c: cp.quantiles for c, cp in prof.items()}
    bounds = {c: _iqr_bounds(v[0], v[2], 1.5) for c, v in q.items() if v[0] is not None}
    medians = {}
    for c, (lo, hi) in bounds.items():
        x0, x1, frac = prof[c].points[1]
        x0, x1 = _clip_value(x0, lo, hi), _clip_value(x1, lo, hi)
        medians[c] = x0 + (x1 - x0) * frac
    out = out.withColumns({c: _clip(c, lo, hi) for c, (lo, hi) in bounds.items()})
    return out.na.fill(medians)


def variance_filter(df: DataFrame, cols: Sequence[str], min_std: float = 0.01) -> list[str]:
    """Columns whose sample stddev exceeds ``min_std`` (factor_analysis.py:184-185),
    one aggregate pass."""
    if not cols:
        return []
    row = df.agg(*[F.stddev_samp(c).alias(c) for c in cols]).first()
    return [c for c in cols if row[c] is not None and row[c] > min_std]


def k_anonymize(
    df: DataFrame, quasi_cols: Sequence[str], k: int = 5
) -> DataFrame:
    """k-anonymity suppression over quasi-identifier columns: rows whose
    quasi-identifier combination occurs fewer than ``k`` times get those
    columns NULLed (suppressed) and are flagged ``suppressed`` — after
    which every remaining non-null combination appears >= k times, the
    re-identification floor privacy reviews ask for before a corpus with
    demographic-ish columns ships.

    One window count over the quasi-key partitioning (map-side partials
    don't apply to windows, but the exchange is by the same key a
    per-group count would use); everything else is a projection."""
    w = Window.partitionBy(*quasi_cols)
    n = F.count(F.lit(1)).over(w)
    at_risk = n < k
    out = df.withColumn("suppressed", at_risk)
    for c in quasi_cols:
        out = out.withColumn(
            c, F.when(F.col("suppressed"), F.lit(None)).otherwise(F.col(c))
        )
    return out
