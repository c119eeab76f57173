"""Factor analysis (reference M1, scripts/factor_analysis.py:135-247).

Reference semantics: sklearn ``FactorAnalysis(n_components=min(5, p-1),
random_state=42)`` fit on the median-imputed, variance-filtered numeric
matrix; outputs per-row ``Factor_i_score`` and per-variable loadings
rounded to 4dp.

This environment has no sklearn, and no Spark-ML FA exists — so the model
is fit with the classic EM algorithm for maximum-likelihood factor
analysis (Ghahramani & Hinton 1996; Bishop PRML §12.2.4) in numpy on a
driver-collected fit set, then **scored distributedly**: the posterior-mean
projection ``E[z|x] = (I + W'Ψ⁻¹W)⁻¹ W'Ψ⁻¹ (x-μ)`` is a p x k matrix
multiply applied per row inside one Arrow-batched ``mapInPandas`` pass.

One fit set, one EM. Each caller names a row key; the fit set is the
``fit_sample_rows`` rows with the smallest ``stable_hash64(key)``, taken
in hash order, and the EM starts from the deterministic
:func:`rational_init` and runs a fixed number of iterations. So the model
depends only on the input rows — not on how they are split into
partitions, on the core count or on the engine (the DuckDB oracle replays
the fit bit for bit), and a lost partition recomputed from lineage gives
the same model. The key must be non-NULL and should be unique per row: a
NULL key raises ``ValueError``.

Scale: fitting sees at most ``fit_sample_rows`` rows (loadings are p x k —
tiny); scoring is embarrassingly parallel and touches each row once. This
also solves the reference's positional-concat problem (R16,
factor_analysis.py:219-224): scores are born *inside* the row, never
joined back by position.

Loadings are rotation/sign-ambiguous across implementations — tests check
reconstruction quality and shapes, not raw values (SURVEY.md §5.2).
"""

from __future__ import annotations

import math
from collections.abc import Iterator, Sequence
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# variance filter: columns whose median-imputed stddev is at most this are
# dropped before the fit (reference factor_analysis.py:184-185)
_MIN_STD = 0.01
# fixed EM iterations: the fewest thousands at which the 200-row gold fit
# (p=11, k=5) reaches, at every fixture seed 0-16, the likelihood of a
# random-init EM stopped at a 1e-9 tolerance or 500 iterations (1,000 and
# 2,000 leave a seed short). One iteration is a few p x p and k x k
# products, independent of the row count.
_EM_ITERS = 3000


@dataclass(frozen=True)
class FAModel:
    columns: tuple[str, ...]
    mean: np.ndarray     # (p,)
    loadings: np.ndarray # W, (p, k)
    psi: np.ndarray      # diagonal noise, (p,)
    # fit-time imputation values (column medians): scoring imputes with
    # THESE, so a row with NULLs is treated identically at fit and score time
    medians: tuple[float, ...]

    @property
    def n_factors(self) -> int:
        return self.loadings.shape[1]

    def projection(self) -> np.ndarray:
        """(p, k) matrix M with scores = (X - mean) @ M  (posterior mean)."""
        W, psi = self.loadings, self.psi
        wp = W / psi[:, None]                       # Ψ⁻¹W
        M1 = np.eye(self.n_factors) + W.T @ wp
        # adjugate form for k=3 so the SQL oracle's closed-form projection
        # matches ulp-for-ulp (see fit_factor_analysis_em)
        G = _inv3(M1) if self.n_factors == 3 else np.linalg.inv(M1)
        return wp @ G.T


def init_ratio(j: int, i: int) -> float:
    """Entry (j, i) of the init pattern, a rational in [-1, 1]:
    ``(((j+1)*31 + (i+1)*17 - i*(i-1)*(i-2)) % 19 - 9) / 9``. The cubic
    term is 0 for the first three factors, so the oracled (4, 3) fit keeps
    its values, and breaks the pattern's linearity in i, which left
    (p, k) = (6, 5) at rank 4."""
    return ((((j + 1) * 31 + (i + 1) * 17 - i * (i - 1) * (i - 2)) % 19) - 9) / 9.0


def rational_init(p: int, k: int, var: np.ndarray) -> np.ndarray:
    """Deterministic, SQL-replayable init for the EM loop:
    ``W0[j,i] = sqrt(var_j / k) * init_ratio(j, i)``. Integer arithmetic +
    one division + one sqrt — every operation is IEEE-exact, so a SQL
    oracle reproduces the init bit-for-bit (no RNG to replay). The pattern
    has rank k for every p >= 2 and k <= min(5, p-1) (its rows repeat with
    period 19, so p <= 20 covers all p), and EM converges from any
    full-rank init."""
    r = np.array([[init_ratio(j, i) for i in range(k)] for j in range(p)])
    return np.sqrt(var[:, None] / k) * r


def _inv3(m: np.ndarray) -> np.ndarray:
    """Closed-form adjugate/det inverse of a 3x3 — the SAME expression the
    SQL oracle evaluates (queries/analytics.py _fa_inv3), so the two
    engines' EM trajectories agree to the last few ulps instead of
    LAPACK-LU-vs-adjugate differences compounding over 100 iterations."""
    (a, b, c), (d, e, f), (g, h, i) = m
    det = a * (e * i - f * h) - b * (d * i - f * g) + c * (d * h - e * g)
    return (
        np.array(
            [
                [e * i - f * h, c * h - b * i, b * f - c * e],
                [f * g - d * i, a * i - c * g, c * d - a * f],
                [d * h - e * g, b * g - a * h, a * e - b * d],
            ]
        )
        / det
    )


def fit_factor_analysis_em(
    X: np.ndarray, n_factors: int, n_iter: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """EM for ML factor analysis: ``rational_init`` and a FIXED iteration
    count (no log-likelihood convergence break — a break decision near the
    tolerance could resolve differently across engines at the last ulp,
    desynchronizing the oracle's replay). S is the two-pass centered
    covariance, matching the SQL side's ``avg((x_i - m_i) * (x_j - m_j))``
    (the one-pass E[xy] - mx*my form loses ~9 digits to cancellation on
    wide-scale columns — enough to flip a 4dp rounding). Returns
    (mean, W, psi)."""
    n, p = X.shape
    mu = X.mean(axis=0)
    Xc = X - mu
    S = (Xc.T @ Xc) / n
    W = rational_init(p, n_factors, np.diag(S).copy())
    psi = np.diag(S).copy()
    inv = _inv3 if n_factors == 3 else np.linalg.inv
    for _ in range(n_iter):
        wp = W / psi[:, None]
        G = inv(np.eye(n_factors) + W.T @ wp)   # posterior cov
        B = G @ wp.T                            # k x p: Ez = B (x-mu)
        SB_T = S @ B.T                          # p x k
        Ezz = G + B @ SB_T                      # E[zz'] averaged
        W = SB_T @ inv(Ezz)
        psi = np.maximum(np.diag(S) - np.einsum("pk,pk->p", W, SB_T), 1e-8)
    return mu, W, psi


def fit_on_sample(
    df: DataFrame,
    cols: Sequence[str] | None = None,
    n_factors: int | None = None,
    fit_sample_rows: int = 100_000,
    *,
    hash_key: Column,
    em_iters: int = _EM_ITERS,
) -> FAModel:
    """Reference prep (factor_analysis.py:176-196): numeric projection ->
    median imputation -> variance filter -> n_factors = min(5, p-1) ->
    fit.

    The fit set is the ``fit_sample_rows`` rows with the smallest
    ``stable_hash64(hash_key)`` (``ORDER BY hash LIMIT n`` — a TakeOrdered,
    no full sort). The hash is pseudorandom and independent of data order,
    so the set is unbiased where a ``limit`` would see only the first
    partitions; unlike a Bernoulli ``df.sample``, whose draw is seeded per
    partition, it is the same rows however ``df`` is partitioned, and it
    arrives in hash order, so S is summed in one order too. That is why
    the key is required. The key is hashed from the raw row (an imputed
    key could collide with another row's); NULL hashes sort first, so a
    NULL key always lands in the fit set and raises ``ValueError``.

    ``em_iters``: fixed EM iterations. The registry's oracled queries pass
    100, which their SQL replay unrolls."""
    if cols is None:
        from pyspark.sql.types import NumericType

        cols = [f.name for f in df.schema.fields if isinstance(f.dataType, NumericType)]
    # Medians AND the variance-filter inputs from ONE column profile (r12
    # opt, guide §2.4 "share one pass"): the row count and each column's
    # non-NULL count, mean and stddev come with the medians
    # (``moments=True``), saving a separate stddev scan. The reference
    # semantics need the stddev of the MEDIAN-IMPUTED column; that is
    # reconstructed driver-side from the raw moments once the medians
    # resolve — bit-identical to Spark's stddev_samp when the column has
    # no NULLs (the common case, and the only case the strict oracles
    # exercise), and exact up to benign last-ulp drift otherwise. The
    # value feeds only the binary ``> _MIN_STD`` keep/drop decision, never
    # the output.
    from urban_traffic_data_lake_project_spark.operators.stats import column_profile

    prof = column_profile(df.select(*cols), cols, [0.5], moments=True)
    med = {c: cp.quantiles[0] for c, cp in prof.columns.items() if cp.quantiles[0] is not None}
    total = prof.rows

    def _filled_std(c: str) -> float | None:
        cp = prof.columns[c]
        n_r = cp.n
        if c not in med or n_r == 0:
            return None  # all-NULL column: imputation has no value to use
        sd_r = cp.stddev
        n_null = total - n_r
        if n_null == 0:
            return sd_r  # no imputation happened: Spark's value verbatim
        if total < 2:
            return None
        m_r = cp.mean
        mv = med[c]
        mean_f = (n_r * m_r + n_null * mv) / total
        ssd_r = (sd_r * sd_r) * (n_r - 1) if (sd_r is not None and n_r > 1) else 0.0
        ssd_f = (
            ssd_r
            + n_r * (m_r - mean_f) ** 2
            + n_null * (mv - mean_f) ** 2
        )
        return math.sqrt(ssd_f / (total - 1))

    stds = {c: _filled_std(c) for c in cols}
    # Threshold hardening (ADVICE r12, low): the reconstructed stddev of a
    # median-imputed column is exact only up to last-ulp drift when NULLs
    # were present; a value within drift distance of _MIN_STD could flip
    # the binary keep/drop vs the reference single-pass stddev. For those
    # (and only those) borderline columns, recompute the filled-column
    # stddev EXACTLY with one bounded aggregate — never triggered when no
    # column sits within 1e-9 of the threshold, which is every
    # oracled corpus today.
    borderline = [
        (i, c)
        for i, c in enumerate(cols)
        if stds[c] is not None
        and prof.columns[c].n < total
        and abs(stds[c] - _MIN_STD) <= 1e-9
    ]
    if borderline:
        row = df.na.fill({c: med[c] for _, c in borderline if c in med}).agg(
            *[F.stddev_samp(c).alias(f"__bs_{i}") for i, c in borderline]
        ).first()
        for i, c in borderline:
            if row[f"__bs_{i}"] is not None:
                stds[c] = row[f"__bs_{i}"]
    cols = [c for c in cols if stds[c] is not None and stds[c] > _MIN_STD]
    if len(cols) < 2:
        raise ValueError("need at least 2 usable numeric columns")
    if n_factors is None:
        n_factors = min(5, len(cols) - 1)
    from urban_traffic_data_lake_project_spark.functions.core import stable_hash64

    fit = (
        df.select(stable_hash64(hash_key).alias("__h"), *cols)
        .orderBy("__h")
        .limit(fit_sample_rows)
        .na.fill({c: med[c] for c in cols})
        .toPandas()
    )
    if fit["__h"].isna().any():
        raise ValueError(f"factor-analysis row key {hash_key} is NULL on some rows")
    X = fit[list(cols)].to_numpy(dtype="float64")
    mu, W, psi = fit_factor_analysis_em(X, n_factors, em_iters)
    return FAModel(tuple(cols), mu, W, psi, tuple(float(med[c]) for c in cols))


def attach_factor_scores(df: DataFrame, model: FAModel, prefix: str = "Factor") -> DataFrame:
    """Add ``{prefix}_i_score`` columns — one mapInPandas pass, scores
    computed in-row (no positional join-back)."""
    cols = list(model.columns)
    M = model.projection()
    mu = model.mean
    score_names = [f"{prefix}_{i + 1}_score" for i in range(model.n_factors)]
    from pyspark.sql.types import DoubleType, StructField, StructType

    out_schema = StructType(
        df.schema.fields + [StructField(s, DoubleType()) for s in score_names]
    )

    # impute EXACTLY like the fit: with the fit's column medians
    fills = dict(zip(cols, model.medians))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            X = pdf[cols].astype("float64")
            X = X.fillna(pd.Series(fills))
            Z = (X.to_numpy() - mu) @ M
            for i, s in enumerate(score_names):
                pdf[s] = Z[:, i]
            yield pdf

    return df.mapInPandas(score, schema=out_schema)


def loadings_table(spark, model: FAModel, prefix: str = "Factor") -> DataFrame:
    """Per-variable loadings, reference shape (factor_analysis.py:204-209):
    one row per variable, ``{prefix}_i_loading`` columns rounded to 4dp.
    Rounding happens IN the DataFrame (``F.round`` = half-away-from-zero,
    the engine-wide convention matching DuckDB/ANSI ``round``) — Python's
    ``round`` is banker's rounding and would diverge on exact halves."""
    rows = []
    for j, c in enumerate(model.columns):
        rows.append((c, *[float(model.loadings[j, i]) for i in range(model.n_factors)]))
    names = [f"{prefix}_{i + 1}_loading" for i in range(model.n_factors)]
    schema = "variable string, " + ", ".join(f"{n} double" for n in names)
    raw = spark.createDataFrame(rows, schema)
    return raw.select(
        "variable", *[(F.round(n, 4) + F.lit(0.0)).alias(n) for n in names]
    )
