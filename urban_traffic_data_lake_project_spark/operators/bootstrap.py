"""Bootstrap confidence intervals (reference M3, scripts/monte_carlo.py:237-285).

Reference semantics: for each numeric column (the first 8 with >20
non-null values, NULLs filled with the column median), draw
``n_simulations`` resamples-with-replacement of size n, record each
resample's mean, and report mean / population-std / 2.5% / 97.5% of those
means.

Spark-first design — the **Poisson bootstrap**: in a resample of size n,
each row's multiplicity is Binomial(n, 1/n) -> Poisson(1) for large n. So
instead of materializing n x n_simulations resampled rows, each row gets a
Poisson(1) weight per replicate and each partition emits per-replicate
partial sums (sum w*x, sum w). One Arrow-batched ``mapInPandas`` pass over
the data + one tiny aggregation by replicate. Cost is O(rows x replicates)
vectorized multiply-adds with O(replicates) output per partition — scales
to any data size; replicate count is the only memory knob.

One weight draw: a counter-based RNG keyed by the row. Each caller names a
row key; the weight of (row, replicate) is a pure function of that key,
the seed and the replicate index, so the answer depends only on the input
rows — not on how they are split into partitions, on the core count or on
the engine (the DuckDB oracle replays the same weights bit for bit). A
lost partition recomputed from lineage gets the same weights. The key
must be non-NULL and should be unique per row: a NULL key raises
``ValueError``; duplicate keys share one weight row.

Deviation from the reference (documented): replicate composition is
Poisson(1) rather than exact multinomial — statistically equivalent for
CI estimation (the standard large-scale bootstrap; see e.g. the "scalable
bootstrap" literature), and tests assert distributional agreement.
"""

from __future__ import annotations

import math
from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from urban_traffic_data_lake_project_spark.functions.core import stable_hash64
from urban_traffic_data_lake_project_spark.operators.cleaning import compute_medians

# bootstrap_ci's column selection, fixed as in the reference
# (monte_carlo.py:237): the first 8 numeric columns holding more than 20
# non-null values, NULLs filled with the column median.
_MAX_COLUMNS = 8
_MIN_VALUES = 20

# Poisson(1) CDF truncated at 8 (P[X > 8] ~ 1.1e-6 — immaterial for CI
# estimation). The float32 literals are the definition: the integer
# thresholds below and the DuckDB oracle's weight SQL
# (queries/analytics.py::_bs_weight_cells) are both derived from these
# exact values, so changing their precision changes every weight.
_POISSON1_CDF = np.cumsum([math.exp(-1.0) / math.factorial(k) for k in range(8)]).astype(
    np.float32
)


# --- the weight draw (oracle-replayable) ---------------------------------
# Counter-based RNG: one stable_hash64 per ROW (JVM-side md5, cheap), then
# SplitMix64 of (row_hash + (replicate+1) * GOLDEN) per (row, replicate)
# cell. Every operation is integer arithmetic mod 2^64 — bit-identical in
# vectorized numpy uint64 and in DuckDB (split-32 multiply on UBIGINT, see
# queries/analytics.py _sm64_sql) — so the oracle replays the exact weight
# matrix regardless of partitioning, task order, or engine. The uniform is
# z / 2^64 (correctly-rounded u64->f64 on both engines), thresholded
# against the same truncated-Poisson CDF literals. The engine side skips
# the float conversion entirely: "round_f64(z)/2^64 > c" is equivalent to
# the INTEGER comparison "z > T_c" where T_c is the largest uint64 whose
# rounded float64 value is <= c * 2^64 (division by a power of two is
# exact scaling, so only the u64->f64 rounding step matters; _int_threshold
# resolves it by scanning the rounding neighborhood once at import). On
# top of that, the weight — the COUNT of thresholds below z — is read from
# a 256-entry top-byte LUT; only the 5 byte buckets that actually contain
# a threshold fall back to exact comparisons (~2% of cells). Bit-equality
# of the whole chain vs the float64 reference formula is pinned by
# tests (random + threshold-boundary z values).
_SM_GOLDEN = np.uint64(0x9E3779B97F4A7C15)
_SM_M1 = np.uint64(0xBF58476D1CE4E5B9)
_SM_M2 = np.uint64(0x94D049BB133111EB)
_POW64 = 18446744073709551616.0  # 2^64


def _int_threshold(c: float) -> int:
    """Largest uint64 z with round_f64(z) <= c * 2^64 — so the uniform
    test u > c becomes the integer test z > threshold, bit-for-bit."""
    cap = np.float64(c) * _POW64
    t = int(cap)
    # scan the u64->f64 rounding neighborhood (grain 2^11 at this
    # magnitude) for the exact crossover
    zs = np.arange(max(t - 5000, 0), t + 5000, dtype=np.uint64)
    ok = zs.astype(np.float64) <= cap
    return int(zs[ok][-1]) if ok.any() else 0


_INT_THRESH = np.array([_int_threshold(float(c)) for c in _POISSON1_CDF], dtype=np.uint64)
# top-byte LUT: bucket b covers z in [b*2^56, (b+1)*2^56); where no
# threshold lands inside the bucket the weight is fully determined
_WLUT = np.zeros(256, dtype=np.uint8)
_WAMBIG = np.zeros(256, dtype=bool)
for _b in range(256):
    _lo, _hi = _b << 56, ((_b + 1) << 56) - 1
    _WLUT[_b] = sum(1 for _t in _INT_THRESH.tolist() if _t < _lo)
    _WAMBIG[_b] = any(_lo <= _t <= _hi for _t in _INT_THRESH.tolist())
del _b, _lo, _hi


def _splitmix_z(h: np.ndarray, n_replicates: int) -> np.ndarray:
    """(n_rows, n_replicates) raw SplitMix64 outputs (uint64) from 60-bit
    row hashes — deterministic, partitioning-independent."""
    with np.errstate(over="ignore"):
        z = h.astype(np.uint64)[:, None] + (
            np.arange(1, n_replicates + 1, dtype=np.uint64)[None, :] * _SM_GOLDEN
        )
        z ^= z >> np.uint64(30)
        z *= _SM_M1
        z ^= z >> np.uint64(27)
        z *= _SM_M2
        z ^= z >> np.uint64(31)
    return z


def _splitmix_uniforms(h: np.ndarray, n_replicates: int) -> np.ndarray:
    """float64 uniforms in [0, 1) — the reference formulation the oracle
    SQL mirrors; kept for tests pinning LUT-vs-reference bit-equality."""
    return _splitmix_z(h, n_replicates).astype(np.float64) / _POW64


def _poisson1_weights_exact_ref(h: np.ndarray, n_replicates: int) -> np.ndarray:
    """Reference (slow) formulation: float64 uniform vs float CDF — used
    only by the equivalence tests."""
    u = _splitmix_uniforms(h, n_replicates)
    w = np.zeros(u.shape, dtype=np.float64)
    for c in _POISSON1_CDF:
        w += u > float(c)
    return w


def _poisson1_weights_exact(h: np.ndarray, n_replicates: int) -> np.ndarray:
    z = _splitmix_z(h, n_replicates)
    zb = (z >> np.uint64(56)).astype(np.uint8)
    w8 = _WLUT[zb]
    amb = _WAMBIG[zb]
    if amb.any():
        za = z[amb]
        wa = np.zeros(za.shape, dtype=np.uint8)
        for t in _INT_THRESH:
            wa += za > t
        w8[amb] = wa
    return w8.astype(np.float64)


def _replicate_means(
    df: DataFrame,
    hash_key: Column,
    cols: list[str],
    n_replicates: int,
    seed: int,
    group_cols: list[str],
) -> DataFrame:
    """(*group_cols, column_name, replicate, replicate_mean): one
    ``mapInPandas`` pass accumulating per-(group, column) partial sums
    (sum w*x, sum w), then one aggregation by replicate. With no group
    column each Arrow batch is one group. Groups are NOT repartitioned
    into their own tasks (a giant group would convoy a per-group
    applyInPandas); group size only affects the accumulation."""
    # the weight pass is CPU-bound numpy (O(rows x replicates)); parquet
    # split count (often just a few row groups) would convoy it — spread
    # over the full parallelism. The md5 row hash runs AFTER the exchange
    # for the same reason: computed pre-shuffle it runs at the parquet
    # split count (3 tasks at sf0.1 — measured 0.5 s serialized vs ~0.05 s
    # spread over 32).
    target = df.sparkSession.sparkContext.defaultParallelism
    keyed = df.select(hash_key.alias("__k"), *group_cols, *cols)
    if keyed.rdd.getNumPartitions() < target:
        keyed = keyed.repartition(target)
    proj = keyed.select(
        stable_hash64(F.col("__k"), salt=f"bs{seed}|").alias("__h"), *group_cols, *cols
    )
    # carry each group key's NATIVE type through the partial schema — a
    # hardcoded string would coerce int/date keys and make the CI table
    # mismatch the source on join-back
    schema = ", ".join(
        [f"{g} {df.schema[g].dataType.simpleString()}" for g in group_cols]
        + ["column_name string", "replicate int", "wx double", "w double"]
    )
    key_name = str(hash_key)
    # 0.5M cells -> the uint64 z matrix is ~4 MB: cache-resident chunks cut
    # the weight kernel's DRAM traffic under concurrent tasks. Weights are
    # per-(row, replicate) counters, so the chunk size never moves them.
    chunk = max(1, 500_000 // max(n_replicates, 1))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: dict = {}  # group -> (sum w*x, sum w), each (replicates, cols)
        for pdf in batches:
            if pdf["__h"].isna().any():
                raise ValueError(f"bootstrap row key {key_name} is NULL on some rows")
            groups = pdf.groupby(group_cols, sort=False) if group_cols else [((), pdf)]
            for g, sub in groups:
                wx_acc, w_acc = acc.setdefault(
                    g, (np.zeros((n_replicates, len(cols))), np.zeros((n_replicates, len(cols))))
                )
                X = sub[cols].to_numpy(dtype="float64")
                H = sub["__h"].to_numpy(dtype="int64")
                for lo in range(0, X.shape[0], chunk):
                    Xs = X[lo : lo + chunk]
                    w = _poisson1_weights_exact(H[lo : lo + chunk], n_replicates)
                    nan_mask = np.isnan(Xs)
                    if nan_mask.any():
                        wx_acc += w.T @ np.where(nan_mask, 0.0, Xs)
                        w_acc += w.T @ (~nan_mask).astype("float64")
                    else:
                        # NULL-free chunk (the common case): the denominator
                        # is the replicate weight sums — identical to
                        # w.T @ ones (small-integer weights), one gemm
                        wx_acc += w.T @ Xs
                        w_acc += w.sum(axis=0, dtype="float64")[:, None]
        out = [
            pd.DataFrame(
                {
                    **dict(zip(group_cols, g)),
                    "column_name": c,
                    "replicate": np.arange(n_replicates, dtype="int32"),
                    "wx": wx_acc[:, j],
                    "w": w_acc[:, j],
                }
            )
            for g, (wx_acc, w_acc) in acc.items()
            for j, c in enumerate(cols)
        ]
        if out:
            yield pd.concat(out, ignore_index=True)

    return (
        proj.mapInPandas(gen, schema=schema)
        .groupBy(*group_cols, "column_name", "replicate")
        .agg((F.sum("wx") / F.sum("w")).alias("replicate_mean"))
    )


def _ci_summary(means: DataFrame, keys: list[str], n_replicates: int) -> DataFrame:
    """The reference's CI columns (monte_carlo.py:277-283) over the
    replicate means of each ``keys`` group."""
    return means.groupBy(*keys).agg(
        F.round(F.avg("replicate_mean"), 4).alias("mean_estimate"),
        F.round(F.stddev_pop("replicate_mean"), 4).alias("std_estimate"),
        F.round(F.percentile("replicate_mean", 0.025), 4).alias("ci_lower_95"),
        F.round(F.percentile("replicate_mean", 0.975), 4).alias("ci_upper_95"),
        F.lit(n_replicates).alias("simulations"),
    )


def poisson_bootstrap_means(
    df: DataFrame,
    cols: Sequence[str],
    n_replicates: int = 1000,
    seed: int = 42,
    *,
    hash_key: Column,
) -> DataFrame:
    """Per (column, replicate) weighted means. Downstream consumers compute
    CI stats over the replicate dimension (tiny: n_replicates rows/col).

    ``hash_key`` (a Column, e.g. the row's natural key) seeds each row's
    weights: ``stable_hash64`` of the key salted with the seed, then
    SplitMix64 per replicate. Required, so the result never depends on the
    partitioning; a NULL key raises ``ValueError``."""
    return _replicate_means(df, hash_key, list(cols), n_replicates, seed, [])


def grouped_bootstrap_ci(
    df: DataFrame,
    group_col: str,
    cols: Sequence[str],
    n_replicates: int = 1000,
    seed: int = 42,
    *,
    hash_key: Column,
) -> DataFrame:
    """Per-GROUP bootstrap CIs (e.g. per-language corpus statistics): the
    same kernel as ``bootstrap_ci``, accumulated per group inside each
    Arrow batch, so one pass over the data serves every group. One row per
    (group, column); rows whose group is NULL are skipped. ``hash_key`` as
    in ``poisson_bootstrap_means``."""
    means = _replicate_means(df, hash_key, list(cols), n_replicates, seed, [group_col])
    return _ci_summary(means, [group_col, "column_name"], n_replicates)


def bootstrap_ci(
    df: DataFrame,
    cols: Sequence[str] | None = None,
    n_replicates: int = 1000,
    seed: int = 42,
    *,
    hash_key: Column,
) -> DataFrame:
    """The reference's bootstrap table (monte_carlo.py:277-283): one row per
    column with mean_estimate, std_estimate (population std of replicate
    means), ci_lower_95, ci_upper_95, simulations. ``hash_key`` as in
    ``poisson_bootstrap_means``."""
    if cols is None:
        from pyspark.sql.types import NumericType

        cols = [f.name for f in df.schema.fields if isinstance(f.dataType, NumericType)]
    cols = list(cols)[:_MAX_COLUMNS]
    # one cheap codegen pass for counts + null counts; exact medians (a
    # buffering aggregate on high-cardinality doubles) are computed ONLY
    # for columns that actually contain NULLs — usually none
    counts = df.agg(
        *[F.count(c).alias(c) for c in cols],
        *[F.count(F.when(F.col(c).isNull(), 1)).alias(f"__nulls_{i}") for i, c in enumerate(cols)],
    ).first()
    with_nulls = [c for i, c in enumerate(cols) if counts[f"__nulls_{i}"] > 0]
    if with_nulls:
        df = df.na.fill(compute_medians(df, with_nulls))
    cols = [c for c in cols if (counts[c] or 0) > _MIN_VALUES]
    if not cols:
        raise ValueError("no eligible columns for bootstrap")
    means = poisson_bootstrap_means(df, cols, n_replicates, seed, hash_key=hash_key)
    return _ci_summary(means, ["column_name"], n_replicates)
