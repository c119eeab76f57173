"""Statistics operators with 100 TB-viable plans.

``exact_percentiles`` — exact interpolated percentiles (quantile_cont
semantics) WITHOUT buffering the column. Spark's built-in ``percentile``
holds every distinct value in an in-memory map per aggregation buffer; on a
high-cardinality double column that is O(n) memory on one reducer — fine at
60k rows, fatal at 10^12. This implements the classic two-phase refinement:

1. t-digest approximation brackets each target order statistic with
   guaranteed rank error <= n/accuracy (one pass, bounded memory),
2. one counting pass + a pushdown-filtered collect of the tiny value band
   around each bracket resolves the exact order statistics.

Cost: 2 full scans (both codegen'd aggregations) + a band collect of
~6 n/accuracy rows per percentile. ``accuracy`` trades band size against
t-digest size logarithmically; at 10^12 rows and accuracy 10^6 the band is
~6M values — still driver-collectable, or raise accuracy.
"""

from __future__ import annotations

import math
import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Small-regime gate for exact_column_quantiles (r13): when the optimizer's
# size estimate of the PROJECTED quantile columns is at or below this, the
# multiset of values is bounded and the cheapest exact plan is ONE
# column-pruned collect + a driver-side sort — no t-digest build, no rank
# pass, no band collect (3 aggregation jobs -> 1 bounded transfer). The
# same plan-stats regime probe as logistic_irls's persist threshold; at
# 100 TB any real column projection estimates far above this and the
# digest path below runs unchanged. 0 disables the fast path.
_QUANTILE_COLLECT_BYTES = int(
    os.environ.get("SPARK_GRAFT_QUANTILE_COLLECT_BYTES", str(128 << 20))
)

# Driver-safety bound for the digest path's band collect (r12 verdict
# "what's wrong" #4): the band around each bracketed order statistic is
# ~6 n/accuracy rows per percentile, so a fixed accuracy knob lets the
# collect grow linearly with n (~10^8 rows at 10^12 rows / accuracy 10^4).
# When the head-pass count predicts a band above this cap, the offending
# columns are RE-BRACKETED with accuracy scaled to the cap (one extra
# bounded aggregation; never triggered at bench scale where
# 6 * 6e5 / 1e4 = 360 rows/p). Accuracy itself is clamped at _ACCURACY_MAX
# — Greenwald-Khanna summary space grows ~O(accuracy * log n) — so the
# residual worst-case collect at 10^12 rows is 6e12/2^18 ~ 2.3e7 rank
# width per percentile, gathered as DISTINCT (value, count) pairs (<= the
# column's in-band cardinality), the documented driver ceiling.
_BAND_ROWS_CAP = int(os.environ.get("SPARK_GRAFT_QUANTILE_BAND_CAP", "100000"))
_ACCURACY_MAX = 1 << 18


def bracket_probes(
    ps: Sequence[float], accuracy: int = 10_000, eps_mult: int = 2
) -> list[float]:
    """The approx-quantile probe points that bracket each target percentile
    (p +- eps_mult/accuracy). Exposed so callers can fold the probe
    aggregation into an existing pass:
    ``percentile_approx(col, bracket_probes(ps))``."""
    eps = 1.0 / accuracy
    out: list[float] = []
    for p in ps:
        out += [max(0.0, p - eps_mult * eps), min(1.0, p + eps_mult * eps)]
    return out


def exact_percentiles(
    df: DataFrame,
    col: str,
    ps: Sequence[float],
    accuracy: int = 10_000,
    n: int | None = None,
    brackets: Sequence[float] | None = None,
    _retries: int = 1,
    _eps_mult: int = 2,
    collect_bytes_cap: int | None = None,
) -> list[float]:
    """Exact interpolated percentiles of ``col`` (NULLs excluded), matching
    SQL ``quantile_cont`` / Spark ``percentile`` semantics.

    Small regime (r13, same gate as ``exact_column_quantiles``): when the
    optimizer's size estimate of the projected column is bounded, ONE
    column-pruned collect + driver-side order statistics replaces the
    bracket/rank/band jobs — bit-identical values, a no-op at scale.
    Precomputed ``n``/``brackets`` are simply unused there (callers that
    overlap a bracket pass lose nothing: the pass was concurrent).

    ``n`` is the NON-NULL count of ``col`` (NOT the table row count — with
    NULLs present the interpolation ranks differ). ``n`` and ``brackets``
    (the ``percentile_approx`` values at ``bracket_probes(ps)``) can be
    precomputed in a caller's aggregation pass to save jobs.

    The band around each bracketed order statistic is collected as DISTINCT
    (value, count) pairs, so a point mass at the quantile costs one driver
    row, not n. If a band misses its rank (pathological distribution vs an
    over-tight sketch), the miss is retried once with a 20x coarser sketch
    (wider band, same rank guarantee), then raises naming the knob — never
    a full-column collect."""
    cap = _QUANTILE_COLLECT_BYTES if collect_bytes_cap is None else collect_bytes_cap
    if cap > 0:
        try:
            est = int(
                df.select(col)._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
        except Exception:
            est = cap + 1
        if est <= cap:
            return _quantiles_from_collect(df, [col], list(ps), None, None, None)[col]

    c = F.col(col)
    if n is None:
        n = df.filter(c.isNotNull()).count()
    if n == 0:
        return [None for _ in ps]

    if brackets is None:
        brackets = df.agg(
            F.percentile_approx(
                col, F.lit(bracket_probes(ps, accuracy, _eps_mult)), F.lit(accuracy)
            ).alias("b")
        ).first()["b"]

    los = [brackets[2 * i] for i in range(len(ps))]
    his = [brackets[2 * i + 1] for i in range(len(ps))]

    # one pass: rank of each band start; one pass: distinct band values
    counts = df.agg(
        *[F.count(F.when(c < lo, 1)).alias(f"c{i}") for i, lo in enumerate(los)]
    ).first()
    band_pred = None
    for lo, hi in zip(los, his):
        p_ = (c >= lo) & (c <= hi)
        band_pred = p_ if band_pred is None else (band_pred | p_)
    value_counts = sorted(
        (r[0], r[1])
        for r in df.filter(band_pred).groupBy(col).agg(F.count(F.lit(1))).collect()
    )

    def order_stat(band: list[tuple], idx: int):
        cum = 0
        for v, cnt in band:
            cum += cnt
            if idx < cum:
                return v
        raise IndexError(idx)

    results: list[float] = []
    for i, p in enumerate(ps):
        lo, hi = los[i], his[i]
        h = (n - 1) * p
        k_lo, k_hi = math.floor(h), math.ceil(h)
        c_lt = counts[f"c{i}"]
        band = [(v, cnt) for v, cnt in value_counts if lo <= v <= hi]
        band_n = sum(cnt for _, cnt in band)
        # guaranteed by the approx rank-error bound; guard anyway
        if not (c_lt <= k_lo and k_hi < c_lt + band_n):
            if _retries <= 0:
                raise ValueError(
                    f"exact_percentiles: band [{lo}, {hi}] misses rank {k_lo}..{k_hi} "
                    f"for p={p} even after widening; raise `accuracy` (got {accuracy})"
                )
            # a true widen keeps the sketch accuracy (its rank error stays
            # n/accuracy) but pushes the probe offsets out far enough that
            # the bound covers the interpolation ranks even when n is small
            # relative to accuracy: (m-1)*n*eps >= 1 requires
            # m >= 1 + accuracy/n. Probes clamp to [0, 1], so at worst the
            # band is the full value range — collected as distinct
            # (value, count) pairs, i.e. O(cardinality), not O(n).
            wide_mult = _eps_mult * 2 + math.ceil(accuracy / n) + 1
            results.append(
                exact_percentiles(
                    df, col, [p], accuracy=accuracy, n=n,
                    _retries=_retries - 1, _eps_mult=wide_mult,
                    collect_bytes_cap=0,  # gate already failed upstream
                )[0]
            )
            continue
        x0 = order_stat(band, k_lo - c_lt)
        x1 = order_stat(band, k_hi - c_lt)
        frac = h - k_lo
        results.append(x0 + (x1 - x0) * frac)
    return results


def _extras_from_row(row, start: int, extras_out: dict) -> None:
    """Populate ``extras_out`` from the tail of an aggregation Row: the
    extras are positionally the aggregates AFTER index ``start``, keyed by
    their own aliases. Positional, not prefix-filtered — a caller alias
    like ``n_rows`` must not be silently dropped (ADVICE r12)."""
    fields = row.__fields__
    for idx in range(start, len(fields)):
        extras_out[fields[idx]] = row[idx]


def _quantiles_from_collect(
    df: DataFrame,
    cols: list,
    ps: list,
    extra_head_aggs: Sequence | None,
    extras_out: dict | None,
    points_out: dict | None,
) -> dict:
    """Small-regime exact quantiles: ONE bounded column-pruned collect of
    the cast-to-double values (+ per-column NULL flags so a float NaN is
    not conflated with SQL NULL by the Arrow transfer), sorted driver-side.
    The order statistics and the ``x0 + (x1 - x0) * frac`` interpolation
    are the SAME Python-float arithmetic the band walk performs on the
    same doubles, so results are bit-identical to the digest path.

    A float NaN is a value, not a NULL: it stays in the sort, where numpy
    places it last — Spark's own ordering, which ranks NaN above every
    double — so the order statistics, and a NaN wherever an interpolation
    touches one, match ``F.percentile`` on the same column.

    ``extra_head_aggs`` still run as a Spark aggregation (their values —
    stddevs especially — must stay bit-identical to the historical head
    pass, which driver-side numpy could not guarantee); when the input is
    not already cached the extras job and the collect overlap (guide
    §2.6)."""

    from urban_traffic_data_lake_project_spark.functions.concurrency import (
        overlap_jobs,
    )

    proj = df.select(
        *[F.col(c).cast("double").alias(f"__qx_{i}") for i, c in enumerate(cols)],
        *[F.col(c).isNull().alias(f"__qz_{i}") for i, c in enumerate(cols)],
    )

    def run_collect():
        return proj.toPandas()

    def run_extras():
        return df.agg(*extra_head_aggs).first() if extra_head_aggs else None

    if extra_head_aggs and not df.is_cached:
        pdf, head_row = overlap_jobs(run_collect, run_extras)
    else:
        # an unmaterialized persist underneath would make concurrent jobs
        # race to compute the same cached partitions: collect first (it
        # materializes), then read the extras off the cache
        pdf = run_collect()
        head_row = run_extras()

    if extras_out is not None and head_row is not None:
        _extras_from_row(head_row, 0, extras_out)
    out: dict[str, list] = {}
    for i, c in enumerate(cols):
        mask = ~pdf[f"__qz_{i}"].to_numpy(dtype=bool)
        vals = pdf[f"__qx_{i}"].to_numpy(dtype="float64")[mask]
        n = vals.size
        if n == 0:
            out[c] = [None for _ in ps]
            if points_out is not None:
                points_out[c] = [None for _ in ps]
            continue
        vals.sort()
        res, pts = [], []
        for p in ps:
            h = (n - 1) * p
            k_lo, k_hi = math.floor(h), math.ceil(h)
            x0, x1 = float(vals[k_lo]), float(vals[k_hi])
            frac = h - k_lo
            res.append(x0 + (x1 - x0) * frac)
            pts.append((x0, x1, frac))
        out[c] = res
        if points_out is not None:
            points_out[c] = pts
    return out


def exact_column_quantiles(
    df: DataFrame,
    cols: Sequence[str],
    ps: Sequence[float],
    accuracy: int = 10_000,
    extra_head_aggs: Sequence | None = None,
    extras_out: dict | None = None,
    points_out: dict | None = None,
    collect_bytes_cap: int | None = None,
    band_rows_cap: int | None = None,
    debug_out: dict | None = None,
) -> dict:
    """Exact interpolated quantiles (quantile_cont semantics) for MANY
    columns x MANY probabilities with bounded memory, sharing passes:

    1. ONE aggregation: non-null count + t-digest brackets for every column
       (vs Spark's ``median``/``percentile``, which buffer every value of
       every column in one aggregation buffer — O(n) reducer memory, the
       scale-killer this replaces),
    2. ONE aggregation: rank of every (column, p) band start,
    3. ONE tiny pushdown-filtered distinct-value collect covering every
       live column's bands (unpivoted; single-column callers keep the
       direct filtered groupBy).

    ``extra_head_aggs`` (r12 opt): caller-supplied aggregate Columns that
    ride the step-1 pass — a caller needing plain streaming aggs (counts,
    means, stddevs) over the SAME frame saves a whole scan. Their values
    land in ``extras_out`` keyed by alias.

    ``points_out`` (r12 opt): receives {col: [(x0, x1, frac) | None, ...]}
    — the two exact order statistics and interpolation fraction behind
    each quantile (q = x0 + (x1 - x0) * frac). Because order statistics
    commute with monotone non-decreasing maps (sorted(g(x)) == g(sorted(x))),
    a caller can derive the exact interpolated quantile of g(column) as
    g(x0) + (g(x1) - g(x0)) * frac WITHOUT a second refinement pass —
    used by the cleaning kernel to get the post-clip median from the
    pre-clip band. ``None`` marks a pathological band miss resolved via
    the single-column fallback (no points available).

    r13 additions: a SMALL REGIME (``collect_bytes_cap``, default
    ``$SPARK_GRAFT_QUANTILE_COLLECT_BYTES`` = 128 MB of optimizer-estimated
    projected bytes) replaces all three passes with one bounded collect +
    driver sort — bit-identical results, a no-op at scale; and a BAND CAP
    (``band_rows_cap``, default ``$SPARK_GRAFT_QUANTILE_BAND_CAP`` = 1e5
    rows) that re-brackets any column whose head count predicts a band
    collect above the cap with accuracy scaled to n (r12 verdict #4).
    ``debug_out`` (tests/diagnostics) records the regime taken, the
    rebracket accuracies, and the collected band row count."""
    cols, ps = list(cols), list(ps)
    if not cols or not ps:
        return {c: [None for _ in ps] for c in cols}

    # Small regime (r13): when the column-pruned projection's optimizer
    # size estimate is bounded, ONE collect + driver sort replaces the
    # 3-job digest/rank/band machinery with bit-identical results. The
    # estimate-based gate is the logistic_irls persist pattern; at scale
    # it never fires and the digest path below is unchanged.
    collect_cap = (
        _QUANTILE_COLLECT_BYTES if collect_bytes_cap is None else collect_bytes_cap
    )
    if collect_cap > 0:
        try:
            est = int(
                df.select(*cols)._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
        except Exception:  # un-estimable plan: assume big
            est = collect_cap + 1
        if est <= collect_cap:
            if debug_out is not None:
                debug_out["regime"] = "collect"
                debug_out["est_bytes"] = est
            return _quantiles_from_collect(
                df, cols, ps, extra_head_aggs, extras_out, points_out
            )

    if debug_out is not None:
        debug_out["regime"] = "digest"
    probes = bracket_probes(ps, accuracy)
    head = df.agg(
        *[F.count(c).alias(f"n_{i}") for i, c in enumerate(cols)],
        *[
            F.percentile_approx(c, F.lit(probes), F.lit(accuracy)).alias(f"b_{i}")
            for i, c in enumerate(cols)
        ],
        *(extra_head_aggs or []),
    ).first()
    if extras_out is not None and extra_head_aggs:
        # extras are positionally the aggregates after the n_/b_ block —
        # extracted by index, not by alias-prefix filtering (ADVICE r12:
        # a caller alias like 'n_rows' must not be silently dropped)
        _extras_from_row(head, 2 * len(cols), extras_out)
    out: dict[str, list] = {}
    live = [
        (i, c) for i, c in enumerate(cols) if head[f"n_{i}"] > 0 and head[f"b_{i}"] is not None
    ]
    for i, c in enumerate(cols):
        if (i, c) not in live:
            out[c] = [None for _ in ps]
    if not live:
        return out
    # Band-size guard (r12 verdict #4): the sketch guarantees each band
    # spans <= ~6 n/accuracy ranks per percentile. If the head-pass count
    # predicts a collect above the cap, RE-BRACKET those columns with
    # accuracy scaled to the cap (one extra bounded aggregation, never at
    # bench scale), clamped at _ACCURACY_MAX (GK summary memory).
    band_cap = _BAND_ROWS_CAP if band_rows_cap is None else band_rows_cap
    brackets = {i: head[f"b_{i}"] for i, c in live}
    reb = []
    for i, c in live:
        n_i = head[f"n_{i}"]
        if band_cap > 0 and accuracy < _ACCURACY_MAX and (
            6 * n_i * len(ps) / accuracy > band_cap
        ):
            acc2 = min(_ACCURACY_MAX, math.ceil(6 * n_i * len(ps) / band_cap))
            if acc2 > accuracy:
                reb.append((i, c, acc2))
    if reb:
        reb_row = df.agg(
            *[
                F.percentile_approx(
                    c, F.lit(bracket_probes(ps, acc2)), F.lit(acc2)
                ).alias(f"b2_{i}")
                for i, c, acc2 in reb
            ]
        ).first()
        for i, c, acc2 in reb:
            if reb_row[f"b2_{i}"] is not None:
                brackets[i] = reb_row[f"b2_{i}"]
        if debug_out is not None:
            debug_out["rebracket_accuracy"] = {c: acc2 for _, c, acc2 in reb}
    multi = len(live) > 1
    rank_aggs = []
    for i, c in live:
        for j in range(len(ps)):
            lo = brackets[i][2 * j]
            # the multi-column band filter below compares CAST-TO-DOUBLE
            # values; count the rank on the same domain so a non-injective
            # cast (int64 > 2^53) cannot desynchronize c_lt from the band
            # (ADVICE r12, medium). Injective casts count identically.
            rc = F.col(c).cast("double") if multi else F.col(c)
            rank_aggs.append(F.count(F.when(rc < lo, 1)).alias(f"r_{i}_{j}"))
    ranks = df.agg(*rank_aggs).first()
    # ONE band-collect job for every live column (r12 opt): unpivot the
    # live columns to (name, value) rows, filter to the union of each
    # column's bands, and group once — 4 columns collapse 4 collect jobs
    # into 1 (measured 0.76 s -> 0.35 s at sf0.1 on the 4-column FA
    # median fit). Values are cast to double in the stack, which is what
    # the Python-side interpolation arithmetic does anyway; two raw
    # values that collide after the cast would land in one (value, count)
    # row, and the cumulative order-stat walk returns the same value
    # either way. Single-column callers keep the direct filtered groupBy
    # (no unpivot overhead, identical job count).
    vc_by_col: dict[str, list] = {}
    if multi:
        stack_args = ", ".join(
            f"'{c}', cast(`{c}` as double)" for _, c in live
        )
        stacked = df.select(
            F.expr(f"stack({len(live)}, {stack_args}) AS (__qc, __qv)")
        )
        band_pred = None
        for i, c in live:
            b = brackets[i]
            for j in range(len(ps)):
                lo, hi = b[2 * j], b[2 * j + 1]
                p_ = (
                    (F.col("__qc") == c)
                    & (F.col("__qv") >= lo)
                    & (F.col("__qv") <= hi)
                )
                band_pred = p_ if band_pred is None else (band_pred | p_)
        rows = (
            stacked.filter(band_pred)
            .groupBy("__qc", "__qv")
            .agg(F.count(F.lit(1)))
            .collect()
        )
        if debug_out is not None:
            debug_out["band_rows_collected"] = len(rows)
        for r in rows:
            vc_by_col.setdefault(r[0], []).append((r[1], r[2]))
        for c in vc_by_col:
            vc_by_col[c].sort()
    for i, c in live:
        n = head[f"n_{i}"]
        b = brackets[i]
        los = [b[2 * j] for j in range(len(ps))]
        his = [b[2 * j + 1] for j in range(len(ps))]
        if len(live) > 1:
            vc = vc_by_col.get(c, [])
        else:
            band_pred = None
            for lo, hi in zip(los, his):
                p_ = (F.col(c) >= lo) & (F.col(c) <= hi)
                band_pred = p_ if band_pred is None else (band_pred | p_)
            vc = sorted(
                (r[0], r[1])
                for r in df.filter(band_pred).groupBy(c).agg(F.count(F.lit(1))).collect()
            )

        def order_stat(band: list, idx: int):
            cum = 0
            for v, cnt in band:
                cum += cnt
                if idx < cum:
                    return v
            raise IndexError(idx)

        vals = []
        pts: list = []
        for j, p in enumerate(ps):
            lo, hi = los[j], his[j]
            h = (n - 1) * p
            k_lo, k_hi = math.floor(h), math.ceil(h)
            c_lt = ranks[f"r_{i}_{j}"]
            band = [(v, cnt) for v, cnt in vc if lo <= v <= hi]
            band_n = sum(cnt for _, cnt in band)
            if not (c_lt <= k_lo and k_hi < c_lt + band_n):
                # pathological miss — fall back to the single-column
                # refinement (widen-retry + hard error live there)
                vals.append(
                    exact_percentiles(
                        df, c, [p], accuracy=accuracy, n=n,
                        collect_bytes_cap=0,  # digest regime: don't re-probe
                    )[0]
                )
                pts.append(None)
                continue
            x0 = order_stat(band, k_lo - c_lt)
            x1 = order_stat(band, k_hi - c_lt)
            vals.append(x0 + (x1 - x0) * (h - k_lo))
            pts.append((x0, x1, h - k_lo))
        out[c] = vals
        if points_out is not None:
            points_out[c] = pts
    return out


def exact_medians(df: DataFrame, cols: Sequence[str], accuracy: int = 10_000) -> dict:
    """Exact interpolated median per column (shared-pass refinement);
    columns with no values omitted, matching ``F.median`` NULL semantics."""
    q = exact_column_quantiles(df, cols, [0.5], accuracy)
    return {c: v[0] for c, v in q.items() if v and v[0] is not None}


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


def grand_aggregate_bundle(df: DataFrame, quantity_col: str, price_col: str, flag_col: str) -> dict:
    """The reference's full-table statistics bundle (A1-A12) computed with
    scale-safe primitives: one codegen aggregation pass for the streaming
    stats + refinement for the high-cardinality exact percentiles."""
    row = df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.avg(quantity_col).alias("avg_q"),
        F.stddev_samp(quantity_col).alias("std_q"),
        F.stddev_pop(quantity_col).alias("stdpop_q"),
        F.median(quantity_col).alias("med_q"),  # low-cardinality: cheap exact
        F.min(quantity_col).alias("min_q"),
        F.max(quantity_col).alias("max_q"),
        F.count(price_col).alias("n_price"),  # NON-NULL count: the rank base for percentiles
        F.countDistinct(flag_col).alias("n_distinct"),
    ).first()
    q25, q75 = exact_percentiles(df, price_col, [0.25, 0.75], n=row["n_price"])
    return {**row.asDict(), "q25_price": q25, "q75_price": q75}


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
    (default threshold 1 GiB, `SPARK_GRAFT_IRLS_PERSIST_BYTES`): at
    sf0.1 (100k rows) the r5 unconditional `persist()` made every
    measured statistic WORSE (median 1.06 -> 0.80 s without, spread
    1.57x -> 1.11x) because block-manager materialization + cached-block
    scheduling cost more than three rescans of a pruned 3-column
    parquet scan. At cluster scale the pruned projection of a 100 TB
    table clears any threshold and the cache saves iters-1 full scans.
    Unpersisted before returning.

    Returns [intercept, beta_x1, ...]."""
    import os

    import numpy as np

    k = len(x_cols) + 1
    beta = [0.0] * k

    proj = df.select(
        F.col(y_col).cast("double").alias(y_col),
        *[F.col(c).cast("double").alias(c) for c in x_cols],
    )
    threshold = int(os.environ.get("SPARK_GRAFT_IRLS_PERSIST_BYTES", str(1 << 30)))
    est_bytes = int(
        proj._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    persisted = est_bytes > threshold
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
