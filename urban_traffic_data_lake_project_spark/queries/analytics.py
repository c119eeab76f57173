"""Gold-layer analytics queries (reference M1-M3): Monte Carlo scenario
simulation, Poisson-bootstrap CIs, factor analysis.

The stochastic/iterative parts are genuinely non-SQL-expressible, so they
register as rows-only checks (the driver records the weaker check); their
*deterministic cores* — analytic scenario expectations — carry full DuckDB
oracles, and pytest validates the stochastic outputs distributionally
(SURVEY.md §5.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from urban_traffic_data_lake_project_spark.operators import bootstrap as B
from urban_traffic_data_lake_project_spark.operators import factor_analysis as FA
from urban_traffic_data_lake_project_spark.operators import monte_carlo as MC
from urban_traffic_data_lake_project_spark.queries.base import (
    ROUND_STAT,
    ROUND_SUM,
    QuerySpec,
)
from urban_traffic_data_lake_project_spark.sources import load_table

_MEASURE = "l_extendedprice"  # the 'traffic volume' analog on the star schema


# ---------------------------------------------------------------------------
# mc_scenario_expectations — deterministic core of M2 (oracle-checked)
# ---------------------------------------------------------------------------
def _mc_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return MC.scenario_expectations(spark, li, _MEASURE)


_SPEC_VALUES = ",\n       ".join(
    f"('{s.name}', '{s.description}', {s.traffic_mult} * {s.extra_mult}, {s.accident_factor})"
    for s in MC.DEFAULT_SCENARIOS
)

_MC_EXPECTATIONS_SQL = f"""
WITH base AS (
  SELECT avg({_MEASURE}) AS mu, quantile_cont({_MEASURE}, 0.75) AS p75 FROM lineitem),
spec(scenario, description, effective_mult, accident_factor) AS (
  VALUES {_SPEC_VALUES})
SELECT scenario, description,
       round(mu * effective_mult, 4) AS expected_mean,
       round(mu * {MC.VOLATILITY}, 4) AS expected_std,
       round(p75, 4) AS threshold_used,
       round({MC.BASE_ACCIDENT_RATE} * accident_factor * 100, 4) AS expected_accident_pct
FROM spec, base
"""


# ---------------------------------------------------------------------------
# mc_scenarios — the stochastic simulation itself (rows-only; pytest asserts
# the distributional contract against mc_scenario_expectations)
# ---------------------------------------------------------------------------
def _mc_scenarios(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return MC.simulate_scenarios(spark, li, _MEASURE, n_simulations=10_000, seed=42)


# ---------------------------------------------------------------------------
# bootstrap_ci / bootstrap_ci_grouped — Poisson bootstrap, STRICT-ORACLED
# since r11 (verdict item 3): replicate weights come from the EXACT
# counter-based path (stable_hash64 of the row key + SplitMix64 per
# replicate, operators/bootstrap.py), so the oracle replays the identical
# weight matrix — md5 + integer-mod-2^64 arithmetic is bit-equal across
# numpy uint64 and DuckDB UBIGINT (the 64x64 multiply is done as split-32
# limbs because int128 would overflow). The distributional pytest
# (CI coverage) stays as the second line of defense.
# ---------------------------------------------------------------------------
_BS_REPS = 1000
_BS_SEED = 42
_BS_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return B.bootstrap_ci(
        li,
        cols=_BS_COLS,
        n_replicates=_BS_REPS,
        seed=_BS_SEED,
        hash_key=F.concat_ws("|", "l_orderkey", "l_linenumber"),
    )


def _bootstrap_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return B.grouped_bootstrap_ci(
        docs, "lang", cols=["n_chars"], n_replicates=_BS_REPS, seed=_BS_SEED,
        hash_key=F.col("doc_id").cast("string"),
    )


def _sm64_mul_sql(a: str, b: int) -> str:
    """(a * b) mod 2^64 on UBIGINT via split-32 limbs (int128 can't hold a
    64x64 product). ``b`` is a compile-time constant."""
    b0, b1 = b & 0xFFFFFFFF, b >> 32
    lo = f"(({a}) % 4294967296)"
    hi = f"(({a}) >> 32)"
    mid = f"((({lo} * {b1}) % 4294967296 + ({hi} * {b0}) % 4294967296) % 4294967296)"
    return (
        f"((({lo} * {b0})::HUGEINT + {mid}::HUGEINT * 4294967296)"
        f" % 18446744073709551616)::UBIGINT"
    )


def _bs_weight_cells(base_cols: str) -> str:
    """Nested subquery chain computing the SplitMix64 draw z and the
    truncated-Poisson(1) weight w for each (row, replicate) cell; carries
    ``base_cols`` through. Mirrors operators/bootstrap.py
    _poisson1_weights_exact step for step."""
    import math as _math

    import numpy as _np

    G = 0x9E3779B97F4A7C15
    M1 = 0xBF58476D1CE4E5B9
    M2 = 0x94D049BB133111EB
    cdf = _np.cumsum(
        [_math.exp(-1.0) / _math.factorial(k) for k in range(8)]
    ).astype(_np.float32)
    w = " + ".join(f"(u > {float(c)!r})::INT" for c in cdf)
    z1 = f"((h::HUGEINT + (r::HUGEINT + 1) * {G} % 18446744073709551616) % 18446744073709551616)::UBIGINT"
    z2 = _sm64_mul_sql("xor(z1, z1 >> 30)", M1)
    z3 = _sm64_mul_sql("xor(z2, z2 >> 27)", M2)
    return f"""
  SELECT {base_cols}, r, ({w})::DOUBLE AS w FROM (
    SELECT {base_cols}, r, xor(z3, z3 >> 31)::DOUBLE / 18446744073709551616.0 AS u FROM (
      SELECT {base_cols}, r, {z3} AS z3 FROM (
        SELECT {base_cols}, r, {z2} AS z2 FROM (
          SELECT {base_cols}, r, {z1} AS z1
          FROM base, reps
  ) ) ) )"""


def _bootstrap_sql() -> str:
    xs = ", ".join(f"{c}::DOUBLE AS x{j}" for j, c in enumerate(_BS_COLS))
    xcols = ", ".join(f"x{j}" for j in range(len(_BS_COLS)))
    # denominator weights are FILTERED to non-null x, mirroring the
    # engine's NaN-exclusion (gen_exact drops NaN rows from BOTH the
    # numerator and the weight sum via w.T @ ~nan_mask) — identical on
    # this non-null corpus, and no longer latently divergent on a
    # nullable column (r11 ADVICE, low)
    rms = ", ".join(
        f"sum(w * x{j}) / sum(CASE WHEN x{j} IS NOT NULL THEN w END) AS m{j}"
        for j in range(len(_BS_COLS))
    )
    long = "\n  UNION ALL ".join(
        f"SELECT '{c}' AS column_name, m{j} AS rm FROM rmeans"
        for j, c in enumerate(_BS_COLS)
    )
    return f"""
WITH base AS (
  SELECT {xs},
         ('0x' || substr(md5('bs{_BS_SEED}|' || l_orderkey::VARCHAR || '|' || l_linenumber::VARCHAR), 1, 15))::UBIGINT AS h
  FROM lineitem),
reps AS (SELECT unnest(range({_BS_REPS}))::UBIGINT AS r),
cells AS ({_bs_weight_cells(xcols)}),
rmeans AS (SELECT r, {rms} FROM cells GROUP BY r),
long AS ({long})
SELECT column_name,
       round(avg(rm), 4) AS mean_estimate,
       round(stddev_pop(rm), 4) AS std_estimate,
       round(quantile_cont(rm, 0.025), 4) AS ci_lower_95,
       round(quantile_cont(rm, 0.975), 4) AS ci_upper_95,
       {_BS_REPS} AS simulations
FROM long GROUP BY column_name
"""


def _bootstrap_grouped_sql() -> str:
    return f"""
WITH base AS (
  SELECT lang, n_chars::DOUBLE AS x0,
         ('0x' || substr(md5('bs{_BS_SEED}|' || doc_id::VARCHAR), 1, 15))::UBIGINT AS h
  FROM documents),
reps AS (SELECT unnest(range({_BS_REPS}))::UBIGINT AS r),
cells AS ({_bs_weight_cells("lang, x0")}),
rmeans AS (SELECT lang, r,
                  sum(w * x0) / sum(CASE WHEN x0 IS NOT NULL THEN w END) AS rm
           FROM cells GROUP BY lang, r)
SELECT lang, 'n_chars' AS column_name,
       round(avg(rm), 4) AS mean_estimate,
       round(stddev_pop(rm), 4) AS std_estimate,
       round(quantile_cont(rm, 0.025), 4) AS ci_lower_95,
       round(quantile_cont(rm, 0.975), 4) AS ci_upper_95,
       {_BS_REPS} AS simulations
FROM rmeans GROUP BY lang
"""


# ---------------------------------------------------------------------------
# fa_loadings / fa_scores_summary — factor analysis, STRICT-ORACLED since
# r11 (verdict item 2, the last §2 operator without a hash-matched row).
# FA.fit_on_sample's fit is replayable: (a) the fit subset is the smallest
# 50k rows by stable_hash64(l_orderkey|l_linenumber) — deterministic and
# SQL-expressible (ORDER BY hash LIMIT n); (b) fit_factor_analysis_em starts
# from rational_init and runs a FIXED number of iterations (no ll
# convergence break whose last-ulp decision could desynchronize the
# engines), here 100 rather than the default 3,000. The oracle replays all
# 100 EM iterations as a recursive CTE over list-packed (p=4)x(k=3)
# matrices with closed-form adjugate 3x3 inverses — the join_linkage_em_fit /
# sim_embedding_pca recipe. Covariances on BOTH sides are two-pass
# centered (avg((x-m)(y-m'))), never E[xy]-mm': the one-pass form loses
# ~9 digits to cancellation on l_extendedprice and would flip 4dp
# roundings. The scores summary avoids per-row replay via linearity:
# scores are (x-mu)@M, so mean_f = (mean(x)-mu)@M and
# var_samp(f_b) = M_b' S_samp M_b — full-table moments only.
# ---------------------------------------------------------------------------
_FA_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
_FA_P = len(_FA_COLS)
_FA_K = 3  # min(5, p-1)
_FA_ITERS = 100
_FA_CAP = 50_000
_FA_KEY_SQL = "l_orderkey::VARCHAR || '|' || l_linenumber::VARCHAR"


def _fa_hash_key():
    return F.concat_ws("|", "l_orderkey", "l_linenumber")


def _fa_fit_model(spark: SparkSession, sf_dir: str):
    li = load_table(spark, sf_dir, "lineitem")
    return li, FA.fit_on_sample(
        li,
        cols=_FA_COLS,
        fit_sample_rows=_FA_CAP,
        hash_key=_fa_hash_key(),
        em_iters=_FA_ITERS,
    )


def _fa_loadings(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, model = _fa_fit_model(spark, sf_dir)
    return FA.loadings_table(spark, model)


def _fa_scores_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, model = _fa_fit_model(spark, sf_dir)
    scored = FA.attach_factor_scores(li.select(*_FA_COLS), model)
    aggs = []
    for i in range(model.n_factors):
        aggs.append(
            (F.round(F.avg(f"Factor_{i + 1}_score"), 3) + F.lit(0.0)).alias(f"mean_f{i + 1}")
        )
        aggs.append(
            (F.round(F.stddev_samp(f"Factor_{i + 1}_score"), 3) + F.lit(0.0)).alias(f"std_f{i + 1}")
        )
    return scored.agg(F.count(F.lit(1)).alias("n_rows"), *aggs)


def _fa_inv3(m: str, det: str) -> list[str]:
    """9 SQL exprs: adjugate/det inverse of the 3x3 row-major list col
    ``m`` given a det column ``det`` (same closed form as the numpy-side
    _inv3 in fit_factor_analysis_em)."""
    cof = [
        f"({m}[5]*{m}[9]-{m}[6]*{m}[8])", f"({m}[3]*{m}[8]-{m}[2]*{m}[9])",
        f"({m}[2]*{m}[6]-{m}[3]*{m}[5])", f"({m}[6]*{m}[7]-{m}[4]*{m}[9])",
        f"({m}[1]*{m}[9]-{m}[3]*{m}[7])", f"({m}[3]*{m}[4]-{m}[1]*{m}[6])",
        f"({m}[4]*{m}[8]-{m}[5]*{m}[7])", f"({m}[2]*{m}[7]-{m}[1]*{m}[8])",
        f"({m}[1]*{m}[5]-{m}[2]*{m}[4])",
    ]
    return [f"{c} / {det}" for c in cof]


def _fa_det3(m: str) -> str:
    return (
        f"({m}[1]*({m}[5]*{m}[9]-{m}[6]*{m}[8]) - {m}[2]*({m}[4]*{m}[9]-{m}[6]*{m}[7])"
        f" + {m}[3]*({m}[4]*{m}[8]-{m}[5]*{m}[7]))"
    )


def _fa_em_cte() -> str:
    """The shared WITH RECURSIVE prefix: fit subset -> fit means -> two-pass
    centered covariance S (row-major p*p list) -> rational init -> 100
    unrolled-matrix EM steps. Exposes CTEs: fmean(m1..), smat(s), and
    fin(w, psi) — the converged model."""
    P, K = _FA_P, _FA_K
    xs = [f"x{j}" for j in range(P)]
    # median imputation mirrors the engine (fit_on_sample fits on
    # df.na.fill(exact interpolated medians); attach_factor_scores imputes
    # the same values) — identical on this non-null corpus, and no longer
    # latently divergent on a nullable column (r11 ADVICE, low)
    sel_cols = ", ".join(
        f"coalesce({c}::DOUBLE, (SELECT median({c}::DOUBLE) FROM lineitem))"
        f" AS x{j}"
        for j, c in enumerate(_FA_COLS)
    )
    # population covariance of the fit subset, two-pass centered
    s_elems = ", ".join(
        f"avg((f.x{a} - fm.m{a}) * (f.x{b} - fm.m{b}))"
        for a in range(P) for b in range(P)
    )
    fmeans = ", ".join(f"avg(x{j}) AS m{j}" for j in range(P))
    # deterministic rational init: the (j,i) rational is a compile-time
    # Python float literal, rational_init's own value
    w0 = ", ".join(
        f"sqrt(s[{j * P + j + 1}] / {float(K)!r}) * ({FA.init_ratio(j, i)!r})"
        for j in range(P) for i in range(K)
    )
    psi0 = ", ".join(f"s[{j * P + j + 1}]" for j in range(P))

    def dot(terms: list[str]) -> str:
        return " + ".join(terms)

    # one EM step, innermost-out (same op order as the numpy side)
    wp = ", ".join(f"w[{j * K + i + 1}] / psi[{j + 1}]" for j in range(P) for i in range(K))
    m1 = ", ".join(
        f"{'1.0 + ' if a == b else ''}"
        + dot([f"w[{j * K + a + 1}]*wp[{j * K + b + 1}]" for j in range(P)])
        for a in range(K) for b in range(K)
    )
    g = ", ".join(_fa_inv3("m1", "d1"))
    bm = ", ".join(
        dot([f"g[{a * K + l + 1}]*wp[{j * K + l + 1}]" for l in range(K)])
        for a in range(K) for j in range(P)
    )
    sbt = ", ".join(
        dot([f"s[{j * P + j2 + 1}]*bm[{a * P + j2 + 1}]" for j2 in range(P)])
        for j in range(P) for a in range(K)
    )
    ezz = ", ".join(
        f"g[{a * K + b + 1}] + "
        + dot([f"bm[{a * P + j + 1}]*sbt[{j * K + b + 1}]" for j in range(P)])
        for a in range(K) for b in range(K)
    )
    iezz = ", ".join(_fa_inv3("ezz", "d2"))
    wn = ", ".join(
        dot([f"sbt[{j * K + l + 1}]*iezz[{l * K + b + 1}]" for l in range(K)])
        for j in range(P) for b in range(K)
    )
    psin = ", ".join(
        f"greatest(s[{j * P + j + 1}] - ("
        + dot([f"wn[{j * K + b + 1}]*sbt[{j * K + b + 1}]" for b in range(K)])
        + "), 1e-8)"
        for j in range(P)
    )
    return f"""
WITH RECURSIVE
fitset AS (
  SELECT {sel_cols}
  FROM lineitem
  ORDER BY ('0x' || substr(md5({_FA_KEY_SQL}), 1, 15))::UBIGINT
  LIMIT {_FA_CAP}),
fmean AS (SELECT {fmeans} FROM fitset),
smat AS (SELECT [{s_elems}] AS s FROM fitset f, fmean fm),
init AS (SELECT [{w0}] AS w, [{psi0}] AS psi FROM smat),
em(step, w, psi) AS (
  SELECT 0, w, psi FROM init
  UNION ALL
  SELECT step + 1, wn, [{psin}]
  FROM (
    SELECT step, s, sbt, [{wn}] AS wn FROM (
      SELECT step, s, sbt, [{iezz}] AS iezz FROM (
        SELECT step, s, sbt, ezz, {_fa_det3("ezz")} AS d2 FROM (
          SELECT step, s, g, bm, sbt, [{ezz}] AS ezz FROM (
            SELECT step, s, g, bm, [{sbt}] AS sbt FROM (
              SELECT step, s, wp, g, [{bm}] AS bm FROM (
                SELECT step, s, wp, [{g}] AS g FROM (
                  SELECT step, s, wp, m1, {_fa_det3("m1")} AS d1 FROM (
                    SELECT step, s, wp, [{m1}] AS m1 FROM (
                      SELECT step, w, psi, s, [{wp}] AS wp
                      FROM em, smat WHERE step < {_FA_ITERS}
  ) ) ) ) ) ) ) ) ) )
),
fin AS (SELECT w, psi FROM em WHERE step = {_FA_ITERS})"""


def _fa_loadings_sql() -> str:
    K = _FA_K
    vals = ", ".join(f"({j}, '{c}')" for j, c in enumerate(_FA_COLS))
    load_cols = ", ".join(
        f'round(w[vidx * {K} + {b + 1}], 4) + 0.0 AS "Factor_{b + 1}_loading"'
        for b in range(K)
    )
    return (
        _fa_em_cte()
        + f""",
vars(vidx, vname) AS (SELECT * FROM (VALUES {vals}))
SELECT vname AS variable, {load_cols}
FROM fin, vars
"""
    )


def _fa_scores_sql() -> str:
    P, K = _FA_P, _FA_K
    # posterior-mean projection M = Ψ⁻¹W (I + W'Ψ⁻¹W)⁻¹ᵀ from the converged
    # model — the same closed form FAModel.projection() computes
    wpf = ", ".join(f"w[{j * K + i + 1}] / psi[{j + 1}]" for j in range(P) for i in range(K))
    m1f = ", ".join(
        f"{'1.0 + ' if a == b else ''}"
        + " + ".join(f"w[{j * K + a + 1}]*wpf[{j * K + b + 1}]" for j in range(P))
        for a in range(K) for b in range(K)
    )
    gf = ", ".join(_fa_inv3("m1f", "d1f"))
    mm = ", ".join(
        " + ".join(f"wpf[{j * K + l + 1}]*gf[{b * K + l + 1}]" for l in range(K))
        for j in range(P) for b in range(K)
    )
    # same median-imputation mirror as the fitset CTE (see _fa_em_cte)
    fsel = ", ".join(
        f"coalesce({c}::DOUBLE, (SELECT median({c}::DOUBLE) FROM lineitem))"
        f" AS x{j}"
        for j, c in enumerate(_FA_COLS)
    )
    fstats = "count(*) AS n, " + ", ".join(f"avg(x{j}) AS fm{j}" for j in range(P))
    # full-table population covariance, two-pass centered
    fcov = ", ".join(
        f"avg((f.x{a} - fs.fm{a}) * (f.x{b} - fs.fm{b})) AS c{a}_{b}"
        for a in range(P) for b in range(P) if a <= b
    )

    def cv(a: int, b: int) -> str:
        return f"c{min(a, b)}_{max(a, b)}"

    outs = []
    for b in range(K):
        mean_terms = " + ".join(
            f"(fm{j} - m{j}) * mm[{j * K + b + 1}]" for j in range(P)
        )
        var_terms = " + ".join(
            f"mm[{a * K + b + 1}] * mm[{b2 * K + b + 1}] * {cv(a, b2)}"
            for a in range(P) for b2 in range(P)
        )
        outs.append(f"round({mean_terms}, 3) + 0.0 AS mean_f{b + 1}")
        outs.append(
            f"round(sqrt((n / (n - 1.0)) * ({var_terms})), 3) + 0.0 AS std_f{b + 1}"
        )
    return (
        _fa_em_cte()
        + f""",
proj AS (
  SELECT [{mm}] AS mm FROM (
    SELECT wpf, [{gf}] AS gf FROM (
      SELECT wpf, m1f, {_fa_det3("m1f")} AS d1f FROM (
        SELECT w, wpf, [{m1f}] AS m1f FROM (
          SELECT w, psi, [{wpf}] AS wpf FROM fin
  ) ) ) ) ),
full_t AS (SELECT {fsel} FROM lineitem),
fstat AS (SELECT {fstats} FROM full_t),
fcov AS (SELECT {fcov} FROM full_t f, fstat fs)
SELECT n AS n_rows, {", ".join(outs)}
FROM proj, fstat, fcov, fmean
"""
    )


# ---------------------------------------------------------------------------
# events_cohort_retention — classic cohort analysis: users grouped by
# first-activity day, per-day-offset distinct-active counts and retention
# rate against the cohort size. Two grouped aggregations plus one
# hash join on user_id; the retention matrix itself is cohorts x offsets
# rows — tiny at any corpus size.
# ---------------------------------------------------------------------------
_COHORT_MAX_OFFSET = 7


def _cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("cohort_day"))
    acts = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    j = (
        acts.join(firsts, "user_id")
        .withColumn("offset", F.datediff("day", "cohort_day"))
        .where(F.col("offset") <= _COHORT_MAX_OFFSET)
    )
    sizes = firsts.groupBy("cohort_day").agg(F.count(F.lit(1)).alias("cohort_size"))
    ret = j.groupBy("cohort_day", "offset").agg(
        F.countDistinct("user_id").alias("n_active")
    )
    # dates serialize as strings on both engines (date-vs-Timestamp
    # pandas normalization would otherwise disagree)
    return ret.join(sizes, "cohort_day").select(
        F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
        "offset",
        "n_active",
        F.round(F.col("n_active") / F.col("cohort_size"), ROUND_STAT).alias("retention"),
    )


_COHORT_SQL = f"""
WITH firsts AS (
  SELECT user_id, min(ts::DATE) AS cohort_day FROM events GROUP BY 1),
acts AS (SELECT DISTINCT user_id, ts::DATE AS day FROM events),
sizes AS (SELECT cohort_day, count(*) AS cohort_size FROM firsts GROUP BY 1),
j AS (
  SELECT f.cohort_day, date_diff('day', f.cohort_day, a.day) AS "offset", a.user_id
  FROM acts a JOIN firsts f ON f.user_id = a.user_id
  WHERE date_diff('day', f.cohort_day, a.day) <= {_COHORT_MAX_OFFSET}),
ret AS (
  SELECT cohort_day, "offset", count(DISTINCT user_id) AS n_active
  FROM j GROUP BY 1, 2)
SELECT strftime(r.cohort_day, '%Y-%m-%d') AS cohort_day, r."offset" AS offset, r.n_active,
       round(r.n_active::DOUBLE / s.cohort_size, {ROUND_STAT}) AS retention
FROM ret r JOIN sizes s ON s.cohort_day = r.cohort_day
"""


# ---------------------------------------------------------------------------
# profile_functional_deps — data-discovery profiling: does determinant ->
# dependent hold? A dependency holds iff no determinant group sees more
# than one distinct dependent value. One grouped countDistinct per
# candidate pair (bounded list), unioned into a verdict table — the
# schema-inference step a lakehouse catalog runs on landing data.
# ---------------------------------------------------------------------------
_FD_CANDIDATES = (
    ("nation", "n_nationkey", "n_regionkey"),
    ("orders", "o_orderkey", "o_custkey"),
    ("orders", "o_custkey", "o_orderpriority"),
    ("lineitem", "l_orderkey", "l_returnflag"),
)


def _functional_deps(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = []
    for table, det, dep in _FD_CANDIDATES:
        df = load_table(spark, sf_dir, table)
        g = df.groupBy(det).agg(F.countDistinct(dep).alias("__nd"))
        parts.append(
            g.agg(
                F.lit(table).alias("table_name"),
                F.lit(det).alias("determinant"),
                F.lit(dep).alias("dependent"),
                F.count(F.lit(1)).alias("n_groups"),
                F.sum((F.col("__nd") > 1).cast("bigint")).alias("n_violating"),
                (F.sum((F.col("__nd") > 1).cast("bigint")) == 0).alias("holds"),
            )
        )
    out = parts[0]
    for m in parts[1:]:
        out = out.unionByName(m)
    return out


_FD_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{table}' AS table_name, '{det}' AS determinant, '{dep}' AS dependent,
       count(*)::BIGINT AS n_groups,
       coalesce(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END), 0)::BIGINT AS n_violating,
       coalesce(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END), 0) = 0 AS holds
FROM (SELECT {det}, count(DISTINCT {dep}) AS nd FROM {table} GROUP BY {det})"""
    for table, det, dep in _FD_CANDIDATES
)


# ---------------------------------------------------------------------------
# events_drift_psi — distribution-drift monitoring: population stability
# index of the event value distribution, first half of the month
# (reference) vs second half (current), per event_type. Fixed 10-bin
# histogram over the global min/max; Laplace-smoothed shares so empty
# bins contribute finitely. The standard production drift gate:
# psi < 0.1 stable, < 0.25 moderate, else drifted.
# Scale: two grouped counts over (type, period, bin) — map-side partials,
# sketch-sized shuffle; the PSI fold runs over types*bins rows.
# ---------------------------------------------------------------------------
_PSI_BINS = 10
_PSI_CUT = "2024-01-16"


def _drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    stats = ev.agg(
        F.min("value").alias("__lo"), F.max("value").alias("__hi")
    )
    binned = ev.crossJoin(F.broadcast(stats)).select(
        "event_type",
        F.when(F.col("ts") < F.lit(_PSI_CUT).cast("timestamp"), F.lit("ref"))
        .otherwise(F.lit("cur"))
        .alias("period"),
        F.least(
            F.floor(
                (F.col("value") - F.col("__lo"))
                / ((F.col("__hi") - F.col("__lo")) / _PSI_BINS)
            ).cast("int"),
            F.lit(_PSI_BINS - 1),
        ).alias("bin"),
    )
    counts = binned.groupBy("event_type", "period", "bin").agg(
        F.count(F.lit(1)).alias("n")
    )
    # full (type, bin) frame so empty bins still contribute (smoothed)
    frame = (
        binned.select("event_type")
        .distinct()
        .crossJoin(spark.range(_PSI_BINS).select(F.col("id").cast("int").alias("bin")))
    )
    wide = (
        frame.join(
            counts.where(F.col("period") == "ref").select(
                "event_type", "bin", F.col("n").alias("n_ref")
            ),
            ["event_type", "bin"],
            "left",
        )
        .join(
            counts.where(F.col("period") == "cur").select(
                "event_type", "bin", F.col("n").alias("n_cur")
            ),
            ["event_type", "bin"],
            "left",
        )
        .select(
            "event_type",
            "bin",
            F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
        )
    )
    tot = Window.partitionBy("event_type")
    p_ref = (F.col("n_ref") + 0.5) / (F.sum("n_ref").over(tot) + 0.5 * _PSI_BINS)
    p_cur = (F.col("n_cur") + 0.5) / (F.sum("n_cur").over(tot) + 0.5 * _PSI_BINS)
    terms = wide.select(
        "event_type", ((p_cur - p_ref) * F.log(p_cur / p_ref)).alias("__t")
    )
    psi = F.sum("__t")
    return terms.groupBy("event_type").agg(
        F.round(psi, ROUND_STAT).alias("psi"),
        F.when(psi < 0.1, F.lit("stable"))
        .when(psi < 0.25, F.lit("moderate"))
        .otherwise(F.lit("drifted"))
        .alias("verdict"),
    )


_PSI_SQL = f"""
WITH ev AS (SELECT * FROM events WHERE value IS NOT NULL),
st AS (SELECT min(value) AS lo, max(value) AS hi FROM ev),
binned AS (
  SELECT event_type,
         CASE WHEN ts < TIMESTAMP '{_PSI_CUT}' THEN 'ref' ELSE 'cur' END AS period,
         least(floor((value - st.lo) / ((st.hi - st.lo) / {_PSI_BINS}))::INTEGER,
               {_PSI_BINS - 1}) AS bin
  FROM ev, st),
counts AS (
  SELECT event_type, period, bin, count(*) AS n
  FROM binned GROUP BY 1, 2, 3),
frame AS (
  SELECT t.event_type, b.bin
  FROM (SELECT DISTINCT event_type FROM binned) t,
       (SELECT unnest(range(0, {_PSI_BINS}))::INTEGER AS bin) b),
wide AS (
  SELECT f.event_type, f.bin,
         coalesce(r.n, 0) AS n_ref, coalesce(c.n, 0) AS n_cur
  FROM frame f
  LEFT JOIN counts r ON r.event_type = f.event_type AND r.bin = f.bin AND r.period = 'ref'
  LEFT JOIN counts c ON c.event_type = f.event_type AND c.bin = f.bin AND c.period = 'cur'),
shares AS (
  SELECT event_type,
         (n_ref + 0.5) / (sum(n_ref) OVER (PARTITION BY event_type) + 0.5 * {_PSI_BINS}) AS p_ref,
         (n_cur + 0.5) / (sum(n_cur) OVER (PARTITION BY event_type) + 0.5 * {_PSI_BINS}) AS p_cur
  FROM wide)
SELECT event_type,
       round(sum((p_cur - p_ref) * ln(p_cur / p_ref)), {ROUND_STAT}) AS psi,
       CASE WHEN sum((p_cur - p_ref) * ln(p_cur / p_ref)) < 0.1 THEN 'stable'
            WHEN sum((p_cur - p_ref) * ln(p_cur / p_ref)) < 0.25 THEN 'moderate'
            ELSE 'drifted' END AS verdict
FROM shares GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# ml_logistic_irls — distributed GLM under the gate: P(purchase) from
# scaled value and hour-of-day via IRLS (one aggregation pass per round,
# driver solves a 3x3 system). The oracle replays every round with
# Cramer's rule in a CTE chain, so the fitted coefficients themselves
# hash-match — the iterative-fit verification pattern kmeans set.
# ---------------------------------------------------------------------------
_IRLS_ITERS = 4


def _logistic_events(df: DataFrame) -> DataFrame:
    return df.where(F.col("value").isNotNull()).select(
        (F.col("event_type") == "purchase").cast("double").alias("y"),
        (F.col("value") / 1000.0).alias("x1"),
        (F.hour("ts") / 24.0).alias("x2"),
    )


def _logistic_irls_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from urban_traffic_data_lake_project_spark.operators.stats import logistic_irls

    data = _logistic_events(load_table(spark, sf_dir, "events"))
    beta = logistic_irls(data, "y", ["x1", "x2"], iters=_IRLS_ITERS)
    b = [F.lit(x) for x in beta]
    eta = b[0] + b[1] * F.col("x1") + b[2] * F.col("x2")
    # goodness of fit in the SAME pass style: one aggregation
    return data.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(b[0], 4).alias("b0"),
        F.round(b[1], 4).alias("b1"),
        F.round(b[2], 4).alias("b2"),
        F.round(
            F.sum(F.col("y") * eta - F.log(F.lit(1.0) + F.exp(eta))), 4
        ).alias("loglik"),
    )


def _irls_round_sql(prev: str, out: str) -> str:
    """One IRLS round: aggregate sums with coefficients from CTE ``prev``,
    solve the 3x3 normal equations by Cramer's rule into CTE ``out``."""
    det = (
        "(s00*(s11*s22 - s12*s12) - s01*(s01*s22 - s12*s02)"
        " + s02*(s01*s12 - s11*s02))"
    )
    d0 = (
        "(r0*(s11*s22 - s12*s12) - s01*(r1*s22 - s12*r2)"
        " + s02*(r1*s12 - s11*r2))"
    )
    d1 = (
        "(s00*(r1*s22 - s12*r2) - r0*(s01*s22 - s12*s02)"
        " + s02*(s01*r2 - r1*s02))"
    )
    d2 = (
        "(s00*(s11*r2 - r1*s12) - s01*(s01*r2 - r1*s02)"
        " + r0*(s01*s12 - s11*s02))"
    )
    return f"""{out}_sums AS (
  SELECT sum(w) AS s00, sum(w*x1) AS s01, sum(w*x2) AS s02,
         sum(w*x1*x1) AS s11, sum(w*x1*x2) AS s12, sum(w*x2*x2) AS s22,
         sum(w*z) AS r0, sum(w*x1*z) AS r1, sum(w*x2*z) AS r2
  FROM (
    SELECT x1, x2, greatest(mu*(1-mu), 1e-10) AS w,
           eta + (y - mu) / greatest(mu*(1-mu), 1e-10) AS z
    FROM (
      SELECT d.y, d.x1, d.x2,
             p.b0 + p.b1*d.x1 + p.b2*d.x2 AS eta,
             1.0 / (1.0 + exp(-(p.b0 + p.b1*d.x1 + p.b2*d.x2))) AS mu
      FROM data d, {prev} p))),
{out} AS (
  SELECT {d0} / {det} AS b0, {d1} / {det} AS b1, {d2} / {det} AS b2
  FROM {out}_sums)"""


_IRLS_SQL = f"""
WITH data AS (
  SELECT CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y,
         value / 1000.0 AS x1,
         date_part('hour', ts) / 24.0 AS x2
  FROM events WHERE value IS NOT NULL),
it0 AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2),
{",".join(_irls_round_sql(f"it{i}", f"it{i + 1}") for i in range(_IRLS_ITERS))}
SELECT count(*)::BIGINT AS n,
       round(p.b0, 4) AS b0, round(p.b1, 4) AS b1, round(p.b2, 4) AS b2,
       round(sum(d.y * (p.b0 + p.b1*d.x1 + p.b2*d.x2)
                 - ln(1.0 + exp(p.b0 + p.b1*d.x1 + p.b2*d.x2))), 4) AS loglik
FROM data d, it{_IRLS_ITERS} p
GROUP BY p.b0, p.b1, p.b2
"""


# ---------------------------------------------------------------------------
# ml_huber_regression — outlier-robust regression (r11): l_extendedprice
# (in $k) on quantity and discount under the Huber loss, fitted by the
# same one-aggregation-per-round IRLS shape as ml_logistic_irls; the
# oracle replays all 6 rounds (weights w = min(1, delta/|r|), Cramer 3x3
# solve) as a CTE chain, so the coefficients hash-match. Goodness of fit
# reported as the MEAN Huber loss (a grand sum at price scale would
# carry FP-reorder error past the 4dp rounding).
# ---------------------------------------------------------------------------
_HUBER_DELTA = 10.0
_HUBER_ITERS = 6


def _huber_data(df: DataFrame) -> DataFrame:
    return df.select(
        (F.col("l_extendedprice") / 1000.0).alias("y"),
        F.col("l_quantity").cast("double").alias("x1"),
        F.col("l_discount").cast("double").alias("x2"),
    )


def _huber_regression_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from urban_traffic_data_lake_project_spark.operators.stats import huber_irls

    data = _huber_data(load_table(spark, sf_dir, "lineitem"))
    beta = huber_irls(data, "y", ["x1", "x2"], delta=_HUBER_DELTA, iters=_HUBER_ITERS)
    b = [F.lit(x) for x in beta]
    r = F.col("y") - (b[0] + b[1] * F.col("x1") + b[2] * F.col("x2"))
    d = F.lit(_HUBER_DELTA)
    loss = F.when(
        F.abs(r) <= d, F.lit(0.5) * r * r
    ).otherwise(d * (F.abs(r) - F.lit(0.5) * d))
    return data.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(b[0], 4).alias("b0"),
        F.round(b[1], 4).alias("b1"),
        F.round(b[2], 4).alias("b2"),
        F.round(F.avg(loss), 4).alias("mean_huber_loss"),
    )


def _huber_round_sql(prev: str, out: str) -> str:
    det = (
        "(s00*(s11*s22 - s12*s12) - s01*(s01*s22 - s12*s02)"
        " + s02*(s01*s12 - s11*s02))"
    )
    d0 = (
        "(r0*(s11*s22 - s12*s12) - s01*(r1*s22 - s12*r2)"
        " + s02*(r1*s12 - s11*r2))"
    )
    d1 = (
        "(s00*(r1*s22 - s12*r2) - r0*(s01*s22 - s12*s02)"
        " + s02*(s01*r2 - r1*s02))"
    )
    d2 = (
        "(s00*(s11*r2 - r1*s12) - s01*(s01*r2 - r1*s02)"
        " + r0*(s01*s12 - s11*s02))"
    )
    return f"""{out}_sums AS (
  SELECT sum(w) AS s00, sum(w*x1) AS s01, sum(w*x2) AS s02,
         sum(w*x1*x1) AS s11, sum(w*x1*x2) AS s12, sum(w*x2*x2) AS s22,
         sum(w*y) AS r0, sum(w*x1*y) AS r1, sum(w*x2*y) AS r2
  FROM (
    SELECT y, x1, x2,
           CASE WHEN greatest(abs(y - (p.b0 + p.b1*x1 + p.b2*x2)), 1e-12)
                     <= {_HUBER_DELTA!r} THEN 1.0
                ELSE {_HUBER_DELTA!r}
                     / greatest(abs(y - (p.b0 + p.b1*x1 + p.b2*x2)), 1e-12)
           END AS w
    FROM data d, {prev} p)),
{out} AS (
  SELECT {d0} / {det} AS b0, {d1} / {det} AS b1, {d2} / {det} AS b2
  FROM {out}_sums)"""


_HUBER_SQL = f"""
WITH data AS (
  SELECT l_extendedprice / 1000.0 AS y,
         l_quantity::DOUBLE AS x1, l_discount::DOUBLE AS x2
  FROM lineitem),
it0 AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2),
{",".join(_huber_round_sql(f"it{i}", f"it{i + 1}") for i in range(_HUBER_ITERS))}
SELECT count(*)::BIGINT AS n,
       round(p.b0, 4) AS b0, round(p.b1, 4) AS b1, round(p.b2, 4) AS b2,
       round(avg(CASE WHEN abs(d.y - (p.b0 + p.b1*d.x1 + p.b2*d.x2))
                           <= {_HUBER_DELTA!r}
                      THEN 0.5 * (d.y - (p.b0 + p.b1*d.x1 + p.b2*d.x2))
                           * (d.y - (p.b0 + p.b1*d.x1 + p.b2*d.x2))
                      ELSE {_HUBER_DELTA!r}
                           * (abs(d.y - (p.b0 + p.b1*d.x1 + p.b2*d.x2))
                              - 0.5 * {_HUBER_DELTA!r}) END), 4) AS mean_huber_loss
FROM data d, it{_HUBER_ITERS} p
GROUP BY p.b0, p.b1, p.b2
"""


# ---------------------------------------------------------------------------
# events_survival_km — Kaplan-Meier time-to-conversion curve (r11): per
# user, the HOURS from first activity to first purchase (right-censored
# at the corpus horizon for users who never purchase) — the product-limit
# estimator S(t) = prod_{t_i<=t}(1 - d_i/n_i) handles the censoring that
# a naive mean-latency silently drops. Two ordered windows over the
# DURATION-grain risk table (<= hours-of-history rows, bounded — the
# Exchange SinglePartition these windows need is annotated): a running
# removed-count gives n_at_risk, and exp(running sum(ln(1-d/n))) is the
# cumulative product (guarded at 1e-300 so a full-death step underflows
# to exactly 0.0 on both engines instead of ln(0)).
# ---------------------------------------------------------------------------
_KM_HOUR_US = 3_600_000_000.0


def survival_km(ev: DataFrame) -> DataFrame:
    """DataFrame-parametrized KM estimator (stress harness entry)."""
    firsts = ev.groupBy("user_id").agg(
        F.min("ts").alias("t0"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("tp"),
    )
    hz = ev.agg(F.max("ts").alias("hz"))
    per_user = firsts.crossJoin(F.broadcast(hz)).select(
        F.floor(
            (
                F.unix_micros(F.coalesce("tp", "hz")) - F.unix_micros("t0")
            ) / F.lit(_KM_HOUR_US)
        ).cast("long").alias("t"),
        F.col("tp").isNotNull().cast("long").alias("event"),
    )
    risk = per_user.groupBy("t").agg(
        F.sum("event").alias("d"), F.count(F.lit(1)).alias("r")
    )
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.partitionBy()
    scored = risk.select(
        "t", "d",
        (
            F.sum("r").over(tot) - F.coalesce(F.sum("r").over(w_prev), F.lit(0))
        ).alias("n_at_risk"),
        F.exp(
            F.sum(
                F.log(
                    F.greatest(
                        F.lit(1.0)
                        - F.col("d")
                        / (
                            F.sum("r").over(tot)
                            - F.coalesce(F.sum("r").over(w_prev), F.lit(0))
                        ),
                        F.lit(1e-300),
                    )
                )
            ).over(w_cum)
        ).alias("__s"),
    )
    return scored.filter(F.col("d") > 0).select(
        "t", "n_at_risk", F.col("d").alias("d_events"),
        F.round("__s", ROUND_STAT).alias("survival"),
    )


def _survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    return survival_km(load_table(spark, sf_dir, "events"))


_KM_SQL = f"""
WITH firsts AS (
  SELECT user_id, min(ts) AS t0,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS tp
  FROM events GROUP BY 1),
hz AS (SELECT max(ts) AS hz FROM events),
per_user AS (
  SELECT floor((epoch_us(coalesce(tp, hz)) - epoch_us(t0))
               / {_KM_HOUR_US!r})::BIGINT AS t,
         CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS event
  FROM firsts, hz),
risk AS (SELECT t, sum(event)::BIGINT AS d, count(*)::BIGINT AS r
         FROM per_user GROUP BY 1),
at_risk AS (
  SELECT t, d,
         (sum(r) OVER () - coalesce(sum(r) OVER (
           ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))::BIGINT
           AS n_at_risk
  FROM risk),
scored AS (
  SELECT t, d, n_at_risk,
         exp(sum(ln(greatest(1.0 - d::DOUBLE / n_at_risk, 1e-300)))
             OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
           AS s
  FROM at_risk)
SELECT t, n_at_risk, d AS d_events, round(s, {ROUND_STAT}) AS survival
FROM scored WHERE d > 0
"""


# ---------------------------------------------------------------------------
# ml_conformal_interval — split-conformal prediction intervals (r11) on
# the Huber fit: deterministic hash split (train 50% / calibration 25% /
# test 25% via stable_hash64 mod 4), fit on train, q_hat = the 90th
# percentile of |residual| on calibration, then the guaranteed-coverage
# check on test (split-conformal's finite-sample marginal coverage is
# >= 0.9 by exchangeability — the modern distribution-free UQ recipe).
# The oracle replays the split, the 6 IRLS rounds on the train slice,
# quantile_cont on calibration, and the test coverage count.
# ---------------------------------------------------------------------------
_CONF_ALPHA_Q = 0.9


def _conformal_split(col):
    from urban_traffic_data_lake_project_spark.functions.core import stable_hash64

    return F.pmod(stable_hash64(col, salt="cf|"), F.lit(4))


def conformal_interval(data: DataFrame) -> DataFrame:
    """DataFrame-parametrized split-conformal pipeline (stress harness
    entry): ``data`` carries (y, x1, x2, __s) with __s in 0..3."""
    from urban_traffic_data_lake_project_spark.operators.stats import huber_irls

    train = data.filter(F.col("__s") <= 1)
    beta = huber_irls(train, "y", ["x1", "x2"], delta=_HUBER_DELTA, iters=_HUBER_ITERS)
    b = [F.lit(x) for x in beta]
    resid = F.abs(F.col("y") - (b[0] + b[1] * F.col("x1") + b[2] * F.col("x2")))
    calib = data.filter(F.col("__s") == 2)
    qhat_df = calib.agg(F.percentile(resid, _CONF_ALPHA_Q).alias("qhat"))
    test = data.filter(F.col("__s") == 3)
    return (
        test.crossJoin(F.broadcast(qhat_df))
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.round(F.first("qhat"), 4).alias("q_hat"),
            F.round(
                F.avg((resid <= F.col("qhat")).cast("double")), ROUND_STAT
            ).alias("coverage"),
        )
    )


def _conformal_interval_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return conformal_interval(
        li.select(
            (F.col("l_extendedprice") / 1000.0).alias("y"),
            F.col("l_quantity").cast("double").alias("x1"),
            F.col("l_discount").cast("double").alias("x2"),
            _conformal_split(
                F.concat_ws("|", "l_orderkey", "l_linenumber")
            ).alias("__s"),
        )
    )


def _conformal_sql() -> str:
    rounds = ",".join(
        _huber_round_sql(f"it{i}", f"it{i + 1}") for i in range(_HUBER_ITERS)
    )
    split = (
        "(('0x' || substr(md5('cf|' || l_orderkey::VARCHAR || '|' ||"
        " l_linenumber::VARCHAR), 1, 15))::UBIGINT % 4)"
    )
    resid = "abs(y - (p.b0 + p.b1*x1 + p.b2*x2))"
    return f"""
WITH split_t AS (
  SELECT l_extendedprice / 1000.0 AS y,
         l_quantity::DOUBLE AS x1, l_discount::DOUBLE AS x2,
         {split} AS s
  FROM lineitem),
data AS (SELECT y, x1, x2 FROM split_t WHERE s <= 1),
it0 AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2),
{rounds},
qhat_t AS (
  SELECT quantile_cont({resid}, {_CONF_ALPHA_Q!r}) AS qhat
  FROM split_t, it{_HUBER_ITERS} p WHERE s = 2)
SELECT count(*)::BIGINT AS n_test,
       round(q.qhat, 4) AS q_hat,
       round(avg(CASE WHEN {resid} <= q.qhat THEN 1.0 ELSE 0.0 END),
             {ROUND_STAT}) AS coverage
FROM split_t, it{_HUBER_ITERS} p, qhat_t q
WHERE s = 3
GROUP BY q.qhat
"""


# ---------------------------------------------------------------------------
# events_theilsen_trend — robust daily-traffic trend (r11): Theil-Sen
# slope (median of all pairwise slopes) next to the OLS slope it
# out-robusts — the estimator survives ~29% contaminated days where one
# outage/spike day drags OLS. The corpus reduces to the DAY grain first
# (map-side-combinable count), so the O(days^2) pairwise stage is bounded
# (<= ~31 rows -> <= 465 pairs at this corpus; at any horizon it is
# days-of-history-squared, never row-scale). Slopes are in events/day.
# ---------------------------------------------------------------------------
def theilsen_trend(ev: DataFrame) -> DataFrame:
    """DataFrame-parametrized Theil-Sen + OLS (stress harness entry)."""
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    a = daily.select(F.col("d").alias("da"), F.col("n").alias("na"))
    b = daily.select(F.col("d").alias("db"), F.col("n").alias("nb"))
    pairs = a.join(b, F.col("da") < F.col("db")).select(
        (
            (F.col("nb") - F.col("na"))
            / F.datediff("db", "da").cast("double")
        ).alias("slope")
    )
    theil = pairs.agg(F.percentile("slope", 0.5).alias("__ts"))
    x = F.datediff("d", F.lit("2024-01-01").cast("date")).cast("double")
    ols = daily.agg(
        F.count(F.lit(1)).alias("n_days"),
        (F.covar_pop(x, F.col("n")) / F.var_pop(x)).alias("__ols"),
    )
    return ols.crossJoin(F.broadcast(theil)).select(
        "n_days",
        F.round("__ts", 4).alias("theilsen_slope"),
        F.round("__ols", 4).alias("ols_slope"),
    )


def _theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    return theilsen_trend(load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# events_funnel — ordered conversion funnel ROLLUP (r12): view -> click ->
# purchase, where each step must occur AT OR AFTER the user's previous
# step time (min-ts sequencing, the standard product-analytics funnel
# semantics — a purchase before the first view does not convert). The
# per-STEP summary view (reached counts, step conversion rates, mean
# latency) complementing win_funnel_steps' per-USER grain (which also
# applies a 7-day step horizon; this rollup is unbounded). Three
# map-side-combinable per-user aggregations chained by equi-joins on
# user_id; every joined frame is ALREADY user-grain (<= one row per
# user), so no row-scale shuffle ever carries raw events past its own
# first groupBy — the shape that survives 100 TB. Inter-step latency is
# summed in exact integer microseconds and divided once, so the double
# math is order-independent across engines.
# ---------------------------------------------------------------------------
_FUNNEL_HOUR_US = 3_600_000_000.0


def funnel_steps(ev: DataFrame) -> DataFrame:
    """DataFrame-parametrized funnel (stress harness entry)."""
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") >= F.col("t1"))
        .groupBy("user_id", "t1")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2.select("user_id", "t2"), "user_id")
        .filter(F.col("ts") >= F.col("t2"))
        .groupBy("user_id", "t2")
        .agg(F.min("ts").alias("t3"))
    )
    a1 = s1.agg(F.count(F.lit(1)).alias("n1"))
    a2 = s2.agg(
        F.count(F.lit(1)).alias("n2"),
        F.sum(F.unix_micros("t2") - F.unix_micros("t1")).alias("us2"),
    )
    a3 = s3.agg(
        F.count(F.lit(1)).alias("n3"),
        F.sum(F.unix_micros("t3") - F.unix_micros("t2")).alias("us3"),
    )
    combo = a1.crossJoin(F.broadcast(a2)).crossJoin(F.broadcast(a3))
    hrs = lambda us, n: F.round(  # noqa: E731
        us.cast("double") / n / F.lit(_FUNNEL_HOUR_US), ROUND_STAT
    )
    rate = lambda a, b: F.round(a.cast("double") / b, ROUND_STAT)  # noqa: E731
    step = lambda name, idx, n, conv, h: F.struct(  # noqa: E731
        F.lit(name).alias("step"),
        F.lit(idx).alias("step_idx"),
        n.cast("long").alias("n_users"),
        conv.alias("conv_rate"),
        h.alias("avg_hours_from_prev"),
    )
    null_d = F.lit(None).cast("double")
    rows = F.array(
        step("view", 1, F.col("n1"), null_d, null_d),
        step(
            "click", 2, F.col("n2"),
            F.when(F.col("n1") > 0, rate(F.col("n2"), F.col("n1"))),
            F.when(F.col("n2") > 0, hrs(F.col("us2"), F.col("n2"))),
        ),
        step(
            "purchase", 3, F.col("n3"),
            F.when(F.col("n2") > 0, rate(F.col("n3"), F.col("n2"))),
            F.when(F.col("n3") > 0, hrs(F.col("us3"), F.col("n3"))),
        ),
    )
    return combo.select(F.explode(rows).alias("r")).select("r.*")


def _events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    return funnel_steps(load_table(spark, sf_dir, "events"))


_FUNNEL_SQL = f"""
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY 1),
s2 AS (
  SELECT e.user_id, s1.t1, min(e.ts) AS t2
  FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts >= s1.t1 GROUP BY 1, 2),
s3 AS (
  SELECT e.user_id, s2.t2, min(e.ts) AS t3
  FROM events e JOIN s2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts >= s2.t2 GROUP BY 1, 2),
a1 AS (SELECT count(*)::BIGINT AS n1 FROM s1),
a2 AS (SELECT count(*)::BIGINT AS n2,
              sum(epoch_us(t2) - epoch_us(t1)) AS us2 FROM s2),
a3 AS (SELECT count(*)::BIGINT AS n3,
              sum(epoch_us(t3) - epoch_us(t2)) AS us3 FROM s3)
SELECT 'view' AS step, 1 AS step_idx, n1 AS n_users,
       NULL::DOUBLE AS conv_rate, NULL::DOUBLE AS avg_hours_from_prev
FROM a1
UNION ALL
SELECT 'click', 2, n2,
       CASE WHEN n1 > 0 THEN round(n2::DOUBLE / n1, {ROUND_STAT}) END,
       CASE WHEN n2 > 0
            THEN round(us2::DOUBLE / n2 / {_FUNNEL_HOUR_US!r}, {ROUND_STAT}) END
FROM a2, a1
UNION ALL
SELECT 'purchase', 3, n3,
       CASE WHEN n2 > 0 THEN round(n3::DOUBLE / n2, {ROUND_STAT}) END,
       CASE WHEN n3 > 0
            THEN round(us3::DOUBLE / n3 / {_FUNNEL_HOUR_US!r}, {ROUND_STAT}) END
FROM a3, a2
"""


_THEILSEN_SQL = """
WITH daily AS (
  SELECT ts::DATE AS d, count(*)::DOUBLE AS n FROM events GROUP BY 1),
pairs AS (
  SELECT (b.n - a.n) / date_diff('day', a.d, b.d)::DOUBLE AS slope
  FROM daily a JOIN daily b ON a.d < b.d),
theil AS (SELECT quantile_cont(slope, 0.5) AS ts_slope FROM pairs),
ols AS (
  SELECT count(*)::BIGINT AS n_days,
         covar_pop(date_diff('day', DATE '2024-01-01', d)::DOUBLE, n)
           / var_pop(date_diff('day', DATE '2024-01-01', d)::DOUBLE) AS ols_slope
  FROM daily)
SELECT n_days, round(ts_slope, 4) AS theilsen_slope,
       round(ols_slope, 4) AS ols_slope
FROM ols, theil
"""


# ---------------------------------------------------------------------------
# events_seasonality — seasonal-profile decomposition lite: mean value
# by (day-of-week, hour-of-day) cell against the grand mean, plus the
# seasonal share of variance. The traffic-shaped diagnostic the
# reference's dashboards imply; two grouped aggregates, 168-row output.
# ---------------------------------------------------------------------------
def _seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    cells = ev.select(
        F.dayofweek("ts").alias("dow"),
        F.hour("ts").alias("hod"),
        "value",
    )
    grand = cells.agg(
        F.avg("value").alias("__gm"), F.var_pop("value").alias("__gv")
    )
    prof = cells.groupBy("dow", "hod").agg(
        F.count(F.lit(1)).alias("n"), F.avg("value").alias("__m")
    )
    return prof.crossJoin(F.broadcast(grand)).select(
        "dow",
        "hod",
        "n",
        F.round("__m", ROUND_STAT).alias("cell_mean"),
        F.round(F.col("__m") - F.col("__gm"), ROUND_STAT).alias("seasonal_effect"),
    )


_SEASONALITY_SQL = f"""
WITH ev AS (SELECT * FROM events WHERE value IS NOT NULL),
cells AS (
  SELECT dayofweek(ts) + 1 AS dow, date_part('hour', ts) AS hod, value FROM ev),
grand AS (SELECT avg(value) AS gm FROM cells)
SELECT dow, hod, count(*)::BIGINT AS n,
       round(avg(value), {ROUND_STAT}) AS cell_mean,
       round(avg(value) - g.gm, {ROUND_STAT}) AS seasonal_effect
FROM cells, grand g
GROUP BY dow, hod, g.gm
"""


# ---------------------------------------------------------------------------
# events_forecast_backtest — forecast evaluation, the dashboard number a
# traffic-analytics deployment (the reference's domain) actually ships:
# the seasonal-naive forecast (this hour's count = the count 24 hours
# ago) backtested over every hour where both sides exist, scored per
# event type with MAE / sMAPE / bias. Seasonal-naive is the canonical
# baseline any trained model must beat; a strict-oracled backtest of it
# is the harness the model comparison plugs into.
#
# Scale shape: one grouped count to hourly grain (map-side combinable),
# one self-equi-join on (type, hour+24h), one small grouped rollup —
# all shuffles on (type, hour), output ∝ event types.
# ---------------------------------------------------------------------------
def _forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).alias("n"))
    fc = hourly.select(
        "event_type",
        (F.col("h") + F.expr("INTERVAL 24 HOURS")).alias("h"),
        F.col("n").alias("f"),
    )
    j = hourly.join(fc, ["event_type", "h"])
    err = F.col("f") - F.col("n")
    smape_term = 2.0 * F.abs(err) / (F.col("f") + F.col("n"))  # counts >= 1
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.round(F.avg(F.abs(err)), ROUND_STAT).alias("mae"),
        F.round(F.avg(smape_term), ROUND_STAT).alias("smape"),
        F.round(F.avg(err), ROUND_STAT).alias("bias"),
    )


_FORECAST_SQL = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
  FROM events GROUP BY 1, 2),
j AS (
  SELECT a.event_type, a.n, f.n AS f
  FROM hourly a
  JOIN hourly f ON f.event_type = a.event_type
               AND f.h + INTERVAL 24 HOURS = a.h)
SELECT event_type, count(*)::BIGINT AS n_hours,
       round(avg(abs(f - n)), {ROUND_STAT}) AS mae,
       round(avg(2.0 * abs(f - n) / (f + n)), {ROUND_STAT}) AS smape,
       round(avg(f - n), {ROUND_STAT}) AS bias
FROM j GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# quality_benford — Benford's-law first-digit audit of the order amounts:
# the classic fraud / synthetic-data / unit-mixup screen (naturally
# occurring multi-scale amounts follow P(d) = log10(1 + 1/d); manual or
# fabricated figures rarely do). One aggregate pass to 9 digit rows with
# observed vs expected shares and the chi-square contribution; the total
# chi-square statistic rides every row (scalar attach on a 9-row frame).
# ---------------------------------------------------------------------------
def _benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    # >= 1, not > 0: amounts in (0,1) floor to first digit 0, where the
    # expected share log10(1 + 1/0) is null/error (ADVICE r9)
    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") >= 1)
    digit = F.substring(
        F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
    ).cast("int")
    per = o.groupBy(digit.alias("digit")).agg(F.count(F.lit(1)).alias("n"))
    tot = per.agg(F.sum("n").cast("double").alias("__t"))
    expected = F.log10(1.0 + 1.0 / F.col("digit"))
    scored = per.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n",
        (F.col("n") / F.col("__t")).alias("__share"),
        expected.alias("__exp"),
        # d*d, not pow(d,2): JVM Math.pow and C pow are not guaranteed
        # ulp-identical
        (
            (F.col("n") / F.col("__t") - expected)
            * (F.col("n") / F.col("__t") - expected)
            / expected
            * F.col("__t")
        ).alias("__chi"),
    )
    chi_tot = scored.agg(F.round(F.sum("__chi"), ROUND_STAT).alias("chi_square"))
    return scored.crossJoin(F.broadcast(chi_tot)).select(
        "digit",
        "n",
        F.round("__share", ROUND_STAT).alias("observed_share"),
        F.round("__exp", ROUND_STAT).alias("benford_share"),
        F.round(F.col("__share") - F.col("__exp"), ROUND_STAT).alias("deviation"),
        "chi_square",
    )


_BENFORD_SQL = f"""
WITH per AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
              AS INT) AS digit,
         count(*) AS n
  FROM orders WHERE o_totalprice >= 1 GROUP BY 1),
tot AS (SELECT sum(n)::DOUBLE AS t FROM per),
scored AS (
  SELECT digit, n, n / t AS share, log10(1.0 + 1.0 / digit) AS exp_share,
         (n / t - log10(1.0 + 1.0 / digit))
           * (n / t - log10(1.0 + 1.0 / digit))
           / log10(1.0 + 1.0 / digit) * t AS chi
  FROM per, tot),
c AS (SELECT round(sum(chi), {ROUND_STAT}) AS chi_square FROM scored)
SELECT digit, n::BIGINT AS n,
       round(share, {ROUND_STAT}) AS observed_share,
       round(exp_share, {ROUND_STAT}) AS benford_share,
       round(share - exp_share, {ROUND_STAT}) AS deviation,
       c.chi_square
FROM scored, c
"""


# ---------------------------------------------------------------------------
# analytics_gini_concentration — spend-concentration profile: the Gini
# coefficient of per-customer spend via the exact rank formula
# G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n (x ascending, deterministic
# (spend, key) tiebreak), plus the top-1% / top-10% revenue shares — the
# whale-curve numbers a revenue dashboard leads with.
#
# Scale note: the rank runs over the per-customer AGGREGATE (one row per
# customer, already reduced from the fact table); at billions of
# customers the exact rank would move to a quantile-bucketed two-pass
# form — the aggregation below is the part that touches fact-table scale
# and it is one map-side-combinable groupBy.
# ---------------------------------------------------------------------------
def _gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("__s"))
    w = Window.orderBy(F.asc("__s"), F.asc("o_custkey"))
    ranked = spend.select("__s", F.row_number().over(w).alias("__i")).withColumn(
        "__n", F.max("__i").over(Window.partitionBy())
    )
    n = F.max("__n").cast("double")
    tot = F.sum("__s")
    top = lambda frac: F.sum(  # noqa: E731
        F.when(
            F.col("__i") > F.ceil(F.col("__n") * F.lit(1.0 - frac)), F.col("__s")
        ).otherwise(F.lit(0.0))
    )
    return ranked.agg(
        n.cast("bigint").alias("n_customers"),
        F.round(
            2.0 * F.sum(F.col("__i") * F.col("__s")) / (n * tot) - (n + 1.0) / n,
            ROUND_STAT,
        ).alias("gini"),
        F.round(top(0.01) / tot, ROUND_STAT).alias("top1pct_share"),
        F.round(top(0.10) / tot, ROUND_STAT).alias("top10pct_share"),
    )


_GINI_SQL = f"""
WITH spend AS (
  SELECT o_custkey, sum(o_totalprice) AS s FROM orders GROUP BY 1),
ranked AS (
  SELECT s, row_number() OVER (ORDER BY s ASC, o_custkey ASC) AS i FROM spend),
agg AS (
  SELECT max(i)::DOUBLE AS n, sum(s) AS tot, sum(i * s) AS isum,
         sum(CASE WHEN i > ceil(max_i * 0.99) THEN s ELSE 0.0 END) AS top1,
         sum(CASE WHEN i > ceil(max_i * 0.90) THEN s ELSE 0.0 END) AS top10
  FROM (SELECT *, max(i) OVER () AS max_i FROM ranked))
SELECT CAST(n AS BIGINT) AS n_customers,
       round(2.0 * isum / (n * tot) - (n + 1.0) / n, {ROUND_STAT}) AS gini,
       round(top1 / tot, {ROUND_STAT}) AS top1pct_share,
       round(top10 / tot, {ROUND_STAT}) AS top10pct_share
FROM agg
"""


# ---------------------------------------------------------------------------
# analytics_gini_sketch — the AT-SCALE sibling of
# analytics_gini_concentration (the exact rank-formula query keeps a
# documented global-sort exchange; the plan lint points here). Instead
# of a global row_number over every customer, the per-customer spends
# reduce to a FIXED-EDGE histogram (the sketch_hist_quantiles idiom —
# mergeable, bins-only shuffle, no global sort anywhere near
# customer-scale data), and the Gini comes from the grouped-data
# trapezoidal Lorenz form G = 1 − Σ_b p_b·(L_{b−1} + L_b); the top-1% /
# top-10% revenue shares interpolate uniformly inside the covering bin
# from the top. Deterministic given the data — the oracle replays the
# binning, cumulative shares, and interpolation arithmetic exactly.
# Approximation quality vs the exact query is pinned in
# tests/test_analytics.py (|Δgini| and |Δshares| small at 512 bins).
# The only window runs over the ≤512-bin histogram — a bounded frame
# (PLAN_ANNOTATIONS class b).
# ---------------------------------------------------------------------------
_GS_LO, _GS_HI, _GS_BINS = 0.0, 6_000_000.0, 512


def _gini_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("__s"))
    bin_ = F.least(
        F.greatest(
            F.floor((F.col("__s") - _GS_LO) * _GS_BINS / (_GS_HI - _GS_LO)),
            F.lit(0),
        ),
        F.lit(_GS_BINS - 1),
    ).cast("int")
    hist = spend.groupBy(bin_.alias("bin")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("__s").alias("s")
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.partitionBy()
    c = hist.select(
        "bin", "n", "s",
        F.sum("n").over(w).alias("cn"), F.sum("s").over(w).alias("cs"),
        F.sum("n").over(tot).alias("nn"), F.sum("s").over(tot).alias("ss"),
    )
    # trapezoidal Lorenz: each bin contributes p_b * (L_{b-1} + L_b)
    term = (F.col("n") / F.col("nn")) * (
        (F.col("cs") - F.col("s")) / F.col("ss") + F.col("cs") / F.col("ss")
    )

    def top_share(frac: float):
        target = F.lit(frac) * F.col("nn")
        above_excl = F.col("nn") - F.col("cn")  # customers strictly above bin
        above_incl = above_excl + F.col("n")
        covered = (above_excl < target) & (target <= above_incl)
        share = (
            F.col("ss") - F.col("cs")
            + (target - above_excl) / F.col("n") * F.col("s")
        ) / F.col("ss")
        return F.sum(F.when(covered, share).otherwise(F.lit(0.0)))

    return c.agg(
        F.max("nn").cast("bigint").alias("n_customers"),
        F.round(F.lit(1.0) - F.sum(term), ROUND_STAT).alias("gini_binned"),
        F.round(top_share(0.01), ROUND_STAT).alias("top1pct_share"),
        F.round(top_share(0.10), ROUND_STAT).alias("top10pct_share"),
    )


_GINI_SKETCH_SQL = f"""
WITH spend AS (
  SELECT o_custkey, sum(o_totalprice) AS s FROM orders GROUP BY 1),
hist AS (
  SELECT (least(greatest(floor((s - {_GS_LO}) * {_GS_BINS} / ({_GS_HI} - {_GS_LO})), 0),
                {_GS_BINS - 1}))::INT AS bin,
         count(*) AS n, sum(s) AS s
  FROM spend GROUP BY 1),
c AS (
  SELECT bin, n, s,
         sum(n) OVER (ORDER BY bin) AS cn, sum(s) OVER (ORDER BY bin) AS cs,
         sum(n) OVER () AS nn, sum(s) OVER () AS ss
  FROM hist)
SELECT max(nn)::BIGINT AS n_customers,
       round(1.0 - sum((n::DOUBLE / nn) * ((cs - s) / ss + cs / ss)),
             {ROUND_STAT}) AS gini_binned,
       round(sum(CASE WHEN nn - cn < 0.01 * nn AND 0.01 * nn <= nn - cn + n
                 THEN (ss - cs + (0.01 * nn - (nn - cn)) / n * s) / ss
                 ELSE 0.0 END), {ROUND_STAT}) AS top1pct_share,
       round(sum(CASE WHEN nn - cn < 0.10 * nn AND 0.10 * nn <= nn - cn + n
                 THEN (ss - cs + (0.10 * nn - (nn - cn)) / n * s) / ss
                 ELSE 0.0 END), {ROUND_STAT}) AS top10pct_share
FROM c
"""


# ---------------------------------------------------------------------------
# events_cusum_changepoints — mean-shift monitoring over the hourly
# traffic series (Page 1954 one-sided CUSUM; the incident-detection
# primitive a traffic deployment runs on every sensor stream): baseline
# (mu, sigma) fitted on the chronologically first 25% of each type's
# span, then the CUSUM statistic via its closed form — running cumsum of
# exceedances minus the running minimum — two ordered window passes per
# group, no recursion, no UDF (operators.stats.cusum_changepoints).
# ---------------------------------------------------------------------------
def _cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from urban_traffic_data_lake_project_spark.operators.stats import (
        cusum_changepoints,
    )

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).cast("double").alias("n"))
    return cusum_changepoints(
        hourly, "event_type", "h", "n", fit_frac=0.25, k_sigmas=0.5, h_sigmas=5.0
    )


_CUSUM_SQL = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h, count(*)::DOUBLE AS n
  FROM events GROUP BY 1, 2),
span AS (
  SELECT event_type, min(h) AS t0, max(h) AS t1 FROM hourly GROUP BY 1),
tagged AS (
  SELECT hy.event_type, hy.h, hy.n,
         hy.h <= make_timestamp(
             epoch_us(s.t0)
             + CAST(floor((epoch_us(s.t1) - epoch_us(s.t0)) * 0.25) AS BIGINT))
           AS infit
  FROM hourly hy JOIN span s ON s.event_type = hy.event_type),
base AS (
  SELECT event_type, avg(n) AS mu, stddev_pop(n) AS sd
  FROM tagged WHERE infit GROUP BY 1),
run AS (
  SELECT t.event_type, t.h, b.sd,
         sum(t.n - b.mu - 0.5 * b.sd)
           OVER (PARTITION BY t.event_type ORDER BY t.h) AS c
  FROM tagged t JOIN base b ON b.event_type = t.event_type
  WHERE NOT t.infit),
stat AS (
  SELECT event_type, h,
         (c - least(0.0, min(c) OVER (PARTITION BY event_type ORDER BY h)))
           / greatest(sd, 1e-12) AS s
  FROM run)
SELECT event_type, count(*)::BIGINT AS n_scored,
       sum(CASE WHEN s > 5.0 THEN 1 ELSE 0 END)::BIGINT AS n_alarms,
       min(CASE WHEN s > 5.0 THEN h END) AS first_alarm_ts,
       round(max(round(s, 9)), 6) AS max_stat_sigmas
FROM stat GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# profile_join_cardinality — join-size estimation by key-hash sampling:
# run the join restricted to a deterministic 1/64 hash slice of the JOIN
# KEY (the SAME slice on both sides — every surviving key keeps its full
# multiplicity product, so scaling by 64 is unbiased for the total), and
# report the estimate against the exact count. At 100 TB this is the
# planner probe you run INSTEAD of the exact join — the sampled shuffle
# is 64x cheaper; here the exact side is computed too so the error is
# part of the artifact.
# ---------------------------------------------------------------------------
_JCARD_RATE = 64


def _join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from urban_traffic_data_lake_project_spark.functions import stable_hash64

    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    keep_o = stable_hash64(F.col("o_orderkey").cast("string"), salt="jc") % _JCARD_RATE == 0
    keep_l = stable_hash64(F.col("l_orderkey").cast("string"), salt="jc") % _JCARD_RATE == 0
    sampled = (
        o.where(keep_o)
        .join(li.where(keep_l), o["o_orderkey"] == li["l_orderkey"])
        .agg((F.count(F.lit(1)) * _JCARD_RATE).alias("estimated_rows"))
    )
    exact = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .agg(F.count(F.lit(1)).alias("exact_rows"))
    )
    return sampled.crossJoin(F.broadcast(exact)).select(
        "estimated_rows",
        "exact_rows",
        F.round(
            F.abs(F.col("estimated_rows") - F.col("exact_rows"))
            / F.col("exact_rows"),
            ROUND_STAT,
        ).alias("rel_err"),
    )


def _jcard_hash(col: str) -> str:
    return (
        f"(('0x' || substr(md5('jc' || CAST({col} AS VARCHAR)), 1, 15))"
        f"::UBIGINT)::BIGINT"
    )


_JCARD_SQL = f"""
WITH s AS (
  SELECT (count(*) * {_JCARD_RATE})::BIGINT AS estimated_rows
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  WHERE {_jcard_hash('o.o_orderkey')} % {_JCARD_RATE} = 0
    AND {_jcard_hash('l.l_orderkey')} % {_JCARD_RATE} = 0),
e AS (
  SELECT count(*)::BIGINT AS exact_rows
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey)
SELECT estimated_rows, exact_rows,
       round(abs(estimated_rows - exact_rows) / exact_rows::DOUBLE, {ROUND_STAT})
         AS rel_err
FROM s, e
"""


# ---------------------------------------------------------------------------
# table_diff_unkeyed — migration validation without a key: row-multiset
# diff of two relations via grouped row-hash counts. The check a
# platform team runs after rewriting a pipeline: same rows, same
# multiplicities, no key needed. Here: the lineitem scan vs itself
# re-written through a projection reorder + a deliberately perturbed
# variant, so both the equal and differing paths are exercised.
# ---------------------------------------------------------------------------
def _table_diff_unkeyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )
    # B: column order shuffled (must NOT count as a diff) and 1% of rows
    # perturbed (MUST count)
    b = li.select(
        "l_returnflag", "l_quantity", "l_linenumber", "l_orderkey"
    ).withColumn(
        "l_quantity",
        F.when(F.col("l_orderkey") % 100 == 0, F.col("l_quantity") + 1).otherwise(
            F.col("l_quantity")
        ),
    )

    def sig(df: DataFrame) -> DataFrame:
        cols = sorted(df.columns)
        h = F.md5(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in cols]))
        return df.select(h.alias("__h")).groupBy("__h").agg(
            F.count(F.lit(1)).alias("__n")
        )

    a_sig = sig(li).withColumnRenamed("__n", "__na")
    b_sig = sig(b).withColumnRenamed("__n", "__nb")
    j = a_sig.join(b_sig, "__h", "full_outer").select(
        F.coalesce("__na", F.lit(0)).alias("na"),
        F.coalesce("__nb", F.lit(0)).alias("nb"),
    )
    return j.agg(
        F.sum(F.least("na", "nb")).alias("rows_matched"),
        F.sum(F.greatest(F.col("na") - F.col("nb"), F.lit(0))).alias("rows_only_a"),
        F.sum(F.greatest(F.col("nb") - F.col("na"), F.lit(0))).alias("rows_only_b"),
    )


_TABLE_DIFF_SQL = """
WITH a AS (
  SELECT md5(concat_ws(chr(31),
         CAST(l_linenumber AS VARCHAR), CAST(l_orderkey AS VARCHAR),
         CAST(l_quantity AS VARCHAR), CAST(l_returnflag AS VARCHAR))) AS h
  FROM lineitem),
b AS (
  SELECT md5(concat_ws(chr(31),
         CAST(l_linenumber AS VARCHAR), CAST(l_orderkey AS VARCHAR),
         CAST(CASE WHEN l_orderkey % 100 = 0 THEN l_quantity + 1
                   ELSE l_quantity END AS VARCHAR),
         CAST(l_returnflag AS VARCHAR))) AS h
  FROM lineitem),
asig AS (SELECT h, count(*) AS na FROM a GROUP BY h),
bsig AS (SELECT h, count(*) AS nb FROM b GROUP BY h),
j AS (
  SELECT coalesce(na, 0) AS na, coalesce(nb, 0) AS nb
  FROM asig FULL OUTER JOIN bsig USING (h))
SELECT sum(least(na, nb))::BIGINT AS rows_matched,
       sum(greatest(na - nb, 0))::BIGINT AS rows_only_a,
       sum(greatest(nb - na, 0))::BIGINT AS rows_only_b
FROM j
"""


# ---------------------------------------------------------------------------
# events_cooccurrence_lift — market-basket association between event
# types at user granularity: for each type pair, co-occurrence count and
# LIFT (observed co-rate over the independence expectation). One
# distinct projection + a self-join on user + two tiny joins; output is
# type-pairs-sized at any scale.
# ---------------------------------------------------------------------------
def _cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    n_users = ev.agg(F.countDistinct("user_id").alias("__nu"))  # rides the plan
    type_n = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_t"))
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, "user_id")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    na = type_n.select(F.col("event_type").alias("type_a"), F.col("n_t").alias("n_a"))
    nb = type_n.select(F.col("event_type").alias("type_b"), F.col("n_t").alias("n_b"))
    return (
        pairs.join(F.broadcast(na), "type_a")
        .join(F.broadcast(nb), "type_b")
        .crossJoin(F.broadcast(n_users))
        .select(
            "type_a",
            "type_b",
            "n_both",
            F.round(
                F.col("n_both") * F.col("__nu").cast("double")
                / (F.col("n_a") * F.col("n_b")),
                ROUND_STAT,
            ).alias("lift"),
        )
    )


_COOCCUR_SQL = f"""
WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
nu AS (SELECT count(DISTINCT user_id) AS n FROM events),
tn AS (SELECT event_type, count(*) AS n_t FROM ut GROUP BY 1),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_both
  FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2)
SELECT p.type_a, p.type_b, p.n_both,
       round(p.n_both * nu.n::DOUBLE / (ta.n_t * tb.n_t), {ROUND_STAT}) AS lift
FROM pairs p
JOIN tn ta ON ta.event_type = p.type_a
JOIN tn tb ON tb.event_type = p.type_b, nu
"""


# ---------------------------------------------------------------------------
# events_markov_transitions — first-order behavior model: P(next event
# type | current) per ordered user timeline. The session-modeling
# diagnostic (and the generator for synthetic user traffic): one keyed
# window lag + two grouped counts; output is |types|^2 rows.
# ---------------------------------------------------------------------------
def _markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("next_type", F.lead("event_type").over(w))
        .where(F.col("next_type").isNotNull())
    )
    counts = steps.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(tot), ROUND_STAT).alias("p"),
    )


_MARKOV_SQL = f"""
WITH steps AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS to_type
  FROM events),
counts AS (
  SELECT from_type, to_type, count(*) AS n
  FROM steps WHERE to_type IS NOT NULL GROUP BY 1, 2)
SELECT from_type, to_type, n,
       round(n::DOUBLE / sum(n) OVER (PARTITION BY from_type), {ROUND_STAT}) AS p
FROM counts
"""


# ---------------------------------------------------------------------------
# analytics_rfm_segments — recency/frequency/monetary segmentation of
# customers from their orders: per dimension a quartile score over a
# fixed total order, then segment population counts. The classic
# warehouse marketing rollup; output is <= 64 segment rows.
# ---------------------------------------------------------------------------
def _rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum("o_totalprice").alias("monetary"),
    )
    r = Window.orderBy(F.col("last_order").desc(), F.col("o_custkey"))
    f = Window.orderBy(F.col("frequency").desc(), F.col("o_custkey"))
    m = Window.orderBy(F.col("monetary").desc(), F.col("o_custkey"))
    scored = per_cust.select(
        "o_custkey",
        F.ntile(4).over(r).alias("r_score"),
        F.ntile(4).over(f).alias("f_score"),
        F.ntile(4).over(m).alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


_RFM_SQL = """
WITH per_cust AS (
  SELECT o_custkey, max(o_orderdate) AS last_order,
         count(*) AS frequency, sum(o_totalprice) AS monetary
  FROM orders GROUP BY o_custkey),
scored AS (
  SELECT o_custkey,
         ntile(4) OVER (ORDER BY last_order DESC, o_custkey) AS r_score,
         ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
         ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS m_score
  FROM per_cust)
SELECT r_score, f_score, m_score, count(*)::BIGINT AS n_customers
FROM scored GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# analytics_rfm_sketch — the AT-SCALE sibling of analytics_rfm_segments
# (whose three chained global ntile(4)s carry documented global-sort
# exchanges; the plan lint points here). Quartile EDGES per dimension
# come from fixed-edge histograms (bins-only shuffles, integer exact:
# edge bin b_q = min bin with 4·cum ≥ q·4·N), then scoring is a pure
# projection against the three broadcast 1-row edge frames — score
# 4 − Σ(bin > b_q), matching the exact query's DESC ntile convention
# (score 1 = top quartile). Boundary customers inside an edge bin may
# score one off the exact ntile (the honest sketch trade, bounded by
# bin width); the population distribution parity is pinned in
# tests/test_analytics.py. No customer-scale sort anywhere: histograms,
# bounded-frame windows (≤512 bins), three scalar attaches.
# ---------------------------------------------------------------------------
# recency at DAILY resolution (4096 1-day bins): the last-order dates
# clump near the dataset end, and 8-day bins put the whole top quartile
# in one bin at small SFs — an edge bin the threshold scorer cannot
# split. hi=8192: order dates run past day 4096 of the 1990 epoch, and
# clamped values collapse the whole top quartile into the last bin. Frequency keeps width-1 bins (integer counts tie by nature).
_RFM_SK = {"r": (0.0, 8192.0, 8192), "f": (0.0, 64.0, 64), "m": (0.0, 6_000_000.0, 1024)}
_RFM_EPOCH = "1990-01-01"


def _rfm_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    per = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum("o_totalprice").alias("monetary"),
    )

    def bin_expr(c: F.Column, lo: float, hi: float, b: int) -> F.Column:
        return F.least(
            F.greatest(F.floor((c - lo) * b / (hi - lo)), F.lit(0)), F.lit(b - 1)
        ).cast("int")

    binned = per.select(
        "o_custkey",
        bin_expr(
            F.datediff("last_order", F.lit(_RFM_EPOCH).cast("date")).cast("double"),
            *_RFM_SK["r"],
        ).alias("rb"),
        bin_expr(F.col("frequency").cast("double"), *_RFM_SK["f"]).alias("fb"),
        bin_expr(F.col("monetary"), *_RFM_SK["m"]).alias("mb"),
    )

    def edges(bin_col: str, key: str) -> DataFrame:
        h = binned.groupBy(F.col(bin_col).alias("bin")).agg(
            F.count(F.lit(1)).alias("n")
        )
        w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
        c = h.select(
            "bin",
            F.sum("n").over(w).alias("cum"),
            F.sum("n").over(Window.partitionBy()).alias("nn"),
        )
        return c.agg(
            F.min(F.when(F.col("cum") * 4 >= F.col("nn"), F.col("bin"))).alias(f"{key}25"),
            F.min(F.when(F.col("cum") * 2 >= F.col("nn"), F.col("bin"))).alias(f"{key}50"),
            F.min(F.when(F.col("cum") * 4 >= F.col("nn") * 3, F.col("bin"))).alias(f"{key}75"),
        )

    scored = (
        binned.crossJoin(F.broadcast(edges("rb", "r")))
        .crossJoin(F.broadcast(edges("fb", "f")))
        .crossJoin(F.broadcast(edges("mb", "m")))
    )

    def score(bin_col: str, key: str) -> F.Column:
        b = F.col(bin_col)
        return (
            F.lit(4)
            - (b > F.col(f"{key}25")).cast("int")
            - (b > F.col(f"{key}50")).cast("int")
            - (b > F.col(f"{key}75")).cast("int")
        )

    return scored.select(
        score("rb", "r").alias("r_score"),
        score("fb", "f").alias("f_score"),
        score("mb", "m").alias("m_score"),
    ).groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


def _rfm_sk_sql_dim(expr: str, key: str, lo: float, hi: float, b: int) -> str:
    return f"""h_{key} AS (
  SELECT (least(greatest(floor(({expr} - {lo}) * {b} / ({hi} - {lo})), 0), {b - 1}))::INT AS bin,
         count(*) AS n
  FROM per GROUP BY 1),
c_{key} AS (
  SELECT bin, sum(n) OVER (ORDER BY bin) AS cum, sum(n) OVER () AS nn FROM h_{key}),
e_{key} AS (
  SELECT min(CASE WHEN cum * 4 >= nn THEN bin END) AS {key}25,
         min(CASE WHEN cum * 2 >= nn THEN bin END) AS {key}50,
         min(CASE WHEN cum * 4 >= nn * 3 THEN bin END) AS {key}75
  FROM c_{key})"""


_RFM_SKETCH_SQL = f"""
WITH per AS (
  SELECT o_custkey, max(o_orderdate) AS last_order,
         count(*) AS frequency, sum(o_totalprice) AS monetary
  FROM orders GROUP BY 1),
{_rfm_sk_sql_dim(f"datediff('day', DATE '{_RFM_EPOCH}', last_order)::DOUBLE", "r", *_RFM_SK["r"])},
{_rfm_sk_sql_dim("frequency::DOUBLE", "f", *_RFM_SK["f"])},
{_rfm_sk_sql_dim("monetary", "m", *_RFM_SK["m"])},
binned AS (
  SELECT (least(greatest(floor((datediff('day', DATE '{_RFM_EPOCH}', last_order)::DOUBLE - {_RFM_SK["r"][0]}) * {_RFM_SK["r"][2]} / ({_RFM_SK["r"][1]} - {_RFM_SK["r"][0]})), 0), {_RFM_SK["r"][2] - 1}))::INT AS rb,
         (least(greatest(floor((frequency::DOUBLE - {_RFM_SK["f"][0]}) * {_RFM_SK["f"][2]} / ({_RFM_SK["f"][1]} - {_RFM_SK["f"][0]})), 0), {_RFM_SK["f"][2] - 1}))::INT AS fb,
         (least(greatest(floor((monetary - {_RFM_SK["m"][0]}) * {_RFM_SK["m"][2]} / ({_RFM_SK["m"][1]} - {_RFM_SK["m"][0]})), 0), {_RFM_SK["m"][2] - 1}))::INT AS mb
  FROM per)
SELECT (4 - (rb > r25)::INT - (rb > r50)::INT - (rb > r75)::INT) AS r_score,
       (4 - (fb > f25)::INT - (fb > f50)::INT - (fb > f75)::INT) AS f_score,
       (4 - (mb > m25)::INT - (mb > m50)::INT - (mb > m75)::INT) AS m_score,
       count(*)::BIGINT AS n_customers
FROM binned, e_r, e_f, e_m
GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# events_pagerank — PageRank over the event-type transition graph (r10):
# the graph-analytics companion of events_markov_transitions. The
# corpus-scale work is the SAME per-user lead() + groupBy that builds
# the transition counts; the graph itself is TYPE-level (|event types|
# nodes — bounded at any corpus size), so the 20 power iterations run
# on the driver over the collected edge table — the engine's standard
# fit/score split (EM histogram, PCA moments, k-means sample). Dangling
# mass redistributes uniformly. The oracle replays all 20 iterations as
# materialized CTEs over the same transition counts; the contraction
# keeps cross-engine sum-order ulps far below the 6-dp output rounding
# (the join_linkage_em_fit argument).
# ---------------------------------------------------------------------------
_PR_D, _PR_ITERS = 0.85, 20


def _events_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("next_type", F.lead("event_type").over(w))
        .where(F.col("next_type").isNotNull())
    )
    edges = {
        (r["event_type"], r["next_type"]): float(r["n"])
        for r in steps.groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    nodes = sorted(r["event_type"] for r in ev.select("event_type").distinct().collect())
    n = len(nodes)
    out = {u: 0.0 for u in nodes}
    for (u, _), c in edges.items():
        out[u] += c
    p = {v: 1.0 / n for v in nodes}
    for _ in range(_PR_ITERS):
        dang = sum(p[u] for u in nodes if out[u] == 0.0)
        contrib = {v: 0.0 for v in nodes}
        for (u, v), c in sorted(edges.items()):
            contrib[v] += p[u] * c / out[u]
        p = {
            v: (1.0 - _PR_D) / n + _PR_D * (contrib[v] + dang / n)
            for v in nodes
        }
    ranked = sorted(nodes, key=lambda v: (-round(p[v], 9), v))
    return spark.createDataFrame(
        [(v, round(p[v], 6), i + 1) for i, v in enumerate(ranked)],
        "event_type string, pagerank double, rank int",
    )


def _pr_iteration_ctes() -> str:
    ctes = [f"""
r0 AS MATERIALIZED (SELECT node, 1.0 / (SELECT n FROM nn) AS p FROM nodes)"""]
    for k in range(1, _PR_ITERS + 1):
        ctes.append(f"""
r{k} AS MATERIALIZED (
  SELECT nd.node,
         (1.0 - {_PR_D}) / nn.n
         + {_PR_D} * (coalesce(c.s, 0.0) + dg.s / nn.n) AS p
  FROM nodes nd
  CROSS JOIN nn
  CROSS JOIN (SELECT coalesce(sum(p.p), 0.0) AS s FROM r{k - 1} p
              WHERE p.node NOT IN (SELECT from_type FROM outdeg)) dg
  LEFT JOIN (SELECT e.to_type AS node, sum(p.p * e.n / od.o) AS s
             FROM edges e
             JOIN r{k - 1} p ON p.node = e.from_type
             JOIN outdeg od ON od.from_type = e.from_type
             GROUP BY 1) c ON c.node = nd.node)""")
    return ",".join(ctes)


_PAGERANK_SQL = f"""
WITH steps AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS to_type
  FROM events),
edges AS MATERIALIZED (
  SELECT from_type, to_type, count(*)::DOUBLE AS n
  FROM steps WHERE to_type IS NOT NULL GROUP BY 1, 2),
nodes AS MATERIALIZED (SELECT DISTINCT event_type AS node FROM events),
nn AS MATERIALIZED (SELECT count(*)::DOUBLE AS n FROM nodes),
outdeg AS MATERIALIZED (SELECT from_type, sum(n) AS o FROM edges GROUP BY 1),
{_pr_iteration_ctes()}
SELECT node AS event_type, round(p, {ROUND_STAT}) AS pagerank,
       row_number() OVER (ORDER BY round(p, 9) DESC, node)::INT AS rank
FROM r{_PR_ITERS}
"""


# ---------------------------------------------------------------------------
# quality_ks_drift — two-sample Kolmogorov-Smirnov drift test between
# corpus slices (even vs odd order keys as the deterministic stand-ins)
# in its HISTOGRAM form: D = max |cdf_A − cdf_B| evaluated at the 512
# fixed bin edges — the mergeable-sketch KS (a lower bound of the exact
# statistic, tight at this resolution), so no global sort ever touches
# row-scale data; the only window runs over the bounded bin table. The
# classic distribution-shift monitor between corpus snapshots. Output
# pins D, the 5%-level critical value 1.358·sqrt((na+nb)/(na·nb)), and
# the drift verdict.
# ---------------------------------------------------------------------------
_KS_LO, _KS_HI, _KS_BINS = 0.0, 500_000.0, 512


def _ks_binned_orders(df: DataFrame) -> DataFrame:
    """(bin, even-slice flag) projection shared by the batch and
    streaming forms."""
    bin_ = F.least(
        F.greatest(
            F.floor((F.col("o_totalprice") - _KS_LO) * _KS_BINS / (_KS_HI - _KS_LO)),
            F.lit(0),
        ),
        F.lit(_KS_BINS - 1),
    ).cast("int")
    return df.select(bin_.alias("bin"), (F.col("o_orderkey") % 2 == 0).alias("__a"))


def _ks_hist_agg(binned: DataFrame) -> DataFrame:
    """Per-bin slice counts — a plain (streaming-legal) grouped sum."""
    return binned.groupBy("bin").agg(
        F.sum(F.col("__a").cast("bigint")).alias("na"),
        F.sum((~F.col("__a")).cast("bigint")).alias("nb"),
    )


def _ks_from_hist(hist: DataFrame) -> DataFrame:
    """KS statistic + 5% critical value + verdict from the bounded bin
    table (the only window in the plan runs over <= _KS_BINS rows)."""
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.partitionBy()
    c = hist.select(
        F.sum("na").over(w).alias("ca"), F.sum("nb").over(w).alias("cb"),
        F.sum("na").over(tot).alias("ta"), F.sum("nb").over(tot).alias("tb"),
    )
    d = F.max(
        F.abs(
            F.col("ca") / F.col("ta") - F.col("cb") / F.col("tb")
        )
    )
    crit = F.lit(1.358) * F.sqrt(
        (F.max("ta") + F.max("tb")).cast("double") / (F.max("ta") * F.max("tb"))
    )
    return c.agg(
        F.max("ta").cast("bigint").alias("n_a"),
        F.max("tb").cast("bigint").alias("n_b"),
        F.round(d, ROUND_STAT).alias("ks_d"),
        F.round(crit, ROUND_STAT).alias("crit_5pct"),
        (F.round(d, 9) > F.round(crit, 9)).alias("drift"),
    )


def _ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return _ks_from_hist(_ks_hist_agg(_ks_binned_orders(o)))


# ---------------------------------------------------------------------------
# stream_ks_drift — the SAME drift monitor maintained by Structured
# Streaming (r10): the per-bin slice counts are a plain streaming
# groupBy (mergeable histogram state — bounded at <= _KS_BINS rows
# regardless of stream length), drained with AvailableNow; the KS math
# then runs batch-side on the materialized sketch. Shares the batch
# oracle: batch equivalence is the whole point (the
# stream_sketch_quantiles pattern).
# ---------------------------------------------------------------------------
def _stream_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from urban_traffic_data_lake_project_spark.streaming.windows import (
        read_table_stream,
        run_available_now,
    )

    stream = read_table_stream(spark, sf_dir, "orders")
    hist = run_available_now(_ks_hist_agg(_ks_binned_orders(stream)), spark)
    return _ks_from_hist(hist)


_KS_SQL = f"""
WITH binned AS (
  SELECT (least(greatest(floor((o_totalprice - {_KS_LO}) * {_KS_BINS} / ({_KS_HI} - {_KS_LO})), 0),
                {_KS_BINS - 1}))::INT AS bin,
         (o_orderkey % 2 = 0) AS a
  FROM orders),
hist AS (
  SELECT bin, sum(CASE WHEN a THEN 1 ELSE 0 END)::BIGINT AS na,
              sum(CASE WHEN a THEN 0 ELSE 1 END)::BIGINT AS nb
  FROM binned GROUP BY 1),
c AS (
  SELECT sum(na) OVER (ORDER BY bin) AS ca, sum(nb) OVER (ORDER BY bin) AS cb,
         sum(na) OVER () AS ta, sum(nb) OVER () AS tb
  FROM hist)
SELECT max(ta)::BIGINT AS n_a, max(tb)::BIGINT AS n_b,
       round(max(abs(ca::DOUBLE / ta - cb::DOUBLE / tb)), {ROUND_STAT}) AS ks_d,
       round(1.358 * sqrt((max(ta) + max(tb))::DOUBLE / (max(ta) * max(tb))),
             {ROUND_STAT}) AS crit_5pct,
       round(max(abs(ca::DOUBLE / ta - cb::DOUBLE / tb)), 9)
         > round(1.358 * sqrt((max(ta) + max(tb))::DOUBLE / (max(ta) * max(tb))), 9)
         AS drift
FROM c
"""


# ---------------------------------------------------------------------------
# events_attribution — last-touch conversion attribution (r10): each
# purchase is credited to the user's most recent NON-purchase event
# within a 7-day lookback, else 'unattributed' — the marketing-analytics
# rollup every event warehouse serves. One ordered window per user
# carries the (ts, type) struct of the last touch (ignore-nulls last()
# over rows-preceding — no self-join, no range explosion), then one
# grouped count. Deterministic tie order (ts, event_id).
# ---------------------------------------------------------------------------
_ATTR_LOOKBACK_DAYS = 7


def _events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    return attribution_rollup(load_table(spark, sf_dir, "events"))


def attribution_rollup(ev: DataFrame) -> DataFrame:
    """Core of events_attribution over any events-shaped DataFrame
    (event_id, ts, user_id, event_type) — shared with tools/stress.py's
    heavy-user skew case."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(
            F.col("event_type") != "purchase",
            F.struct(F.col("ts").alias("t"), F.col("event_type").alias("ch")),
        ),
        ignorenulls=True,
    ).over(w)
    conv = (
        ev.withColumn("__touch", touch)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.when(
                F.col("__touch").isNotNull()
                & (
                    F.unix_micros("ts") - F.unix_micros(F.col("__touch.t"))
                    <= _ATTR_LOOKBACK_DAYS * 86_400_000_000
                ),
                F.col("__touch.ch"),
            )
            .otherwise(F.lit("unattributed"))
            .alias("channel"),
        )
    )
    counts = conv.groupBy("channel").agg(F.count(F.lit(1)).alias("n_conversions"))
    tot = Window.partitionBy()
    return counts.select(
        "channel",
        "n_conversions",
        F.round(
            F.col("n_conversions") / F.sum("n_conversions").over(tot), ROUND_STAT
        ).alias("share"),
    )


# ---------------------------------------------------------------------------
# events_attribution_multitouch — time-decay MULTI-touch attribution
# (r11): every non-purchase touch within the 7-day lookback of a purchase
# earns credit w = 0.5^(Δt / half_life), normalized to sum 1 per
# conversion; conversions with no touch credit 'unattributed' with 1.0 —
# so total credit == total conversions (the invariant the pytest pins).
# Scale shape: NOT a range join — the conversion side explodes its 8
# candidate day-keys (bounded fan-out) and equi-joins touches on
# (user_id, day), then the exact time window filters; per-conversion
# normalization is one window sum over already-aggregated
# (conversion, channel) rows. A whale user's join cell is bounded by
# per-(user, day) volume, not their total history.
# ---------------------------------------------------------------------------
_MTA_HALF_LIFE_US = 86_400_000_000  # 1-day half-life


def _events_attribution_multitouch(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multitouch_attribution(load_table(spark, sf_dir, "events"))


def multitouch_attribution(ev: DataFrame) -> DataFrame:
    touches = ev.filter(F.col("event_type") != "purchase").select(
        "user_id",
        F.col("ts").alias("t_ts"),
        F.col("event_id").alias("t_id"),
        F.col("event_type").alias("channel"),
        F.to_date("ts").alias("d"),
    )
    convs = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("c_ts"), F.col("event_id").alias("c_id")
    )
    days = convs.withColumn(
        "d",
        F.explode(
            F.sequence(
                F.date_sub(F.to_date("c_ts"), _ATTR_LOOKBACK_DAYS), F.to_date("c_ts")
            )
        ),
    )
    dt = F.unix_micros("c_ts") - F.unix_micros("t_ts")
    before = (F.col("t_ts") < F.col("c_ts")) | (
        (F.col("t_ts") == F.col("c_ts")) & (F.col("t_id") < F.col("c_id"))
    )
    pairs = (
        days.join(touches, ["user_id", "d"])
        .filter(before & (dt <= _ATTR_LOOKBACK_DAYS * 86_400_000_000))
        .select(
            "user_id", "c_id", "channel",
            F.pow(F.lit(0.5), dt / F.lit(float(_MTA_HALF_LIFE_US))).alias("w"),
        )
    )
    per_ch = pairs.groupBy("user_id", "c_id", "channel").agg(F.sum("w").alias("wch"))
    wtot = Window.partitionBy("user_id", "c_id")
    credits = per_ch.select(
        "channel", (F.col("wch") / F.sum("wch").over(wtot)).alias("credit")
    )
    ch_credit = credits.groupBy("channel").agg(F.sum("credit").alias("credit"))
    # conversions with NO in-window touch, as a lazy anti-join (one row,
    # no driver-side count actions — the whole query stays one plan)
    unattr = (
        convs.join(
            per_ch.select("user_id", "c_id").distinct(),
            ["user_id", "c_id"],
            "left_anti",
        )
        .agg(F.count(F.lit(1)).cast("double").alias("credit"))
        .select(F.lit("unattributed").alias("channel"), "credit")
    )
    allc = ch_credit.unionByName(unattr)
    share_w = Window.partitionBy()
    return allc.select(
        "channel",
        F.round("credit", ROUND_SUM).alias("credit"),
        F.round(F.col("credit") / F.sum("credit").over(share_w), ROUND_STAT).alias(
            "share"
        ),
    )


_MTA_SQL = f"""
WITH touches AS (
  SELECT user_id, ts AS t_ts, event_id AS t_id, event_type AS channel,
         ts::DATE AS d
  FROM events WHERE event_type <> 'purchase'),
convs AS (
  SELECT user_id, ts AS c_ts, event_id AS c_id
  FROM events WHERE event_type = 'purchase'),
days AS (
  SELECT user_id, c_ts, c_id, unnest(generate_series(
           c_ts::DATE - {_ATTR_LOOKBACK_DAYS}, c_ts::DATE, INTERVAL 1 DAY))::DATE AS d
  FROM convs),
pairs AS (
  SELECT dy.user_id, dy.c_id, t.channel,
         pow(0.5, (epoch_us(dy.c_ts) - epoch_us(t.t_ts))
                  / {float(_MTA_HALF_LIFE_US)!r}) AS w
  FROM days dy JOIN touches t ON t.user_id = dy.user_id AND t.d = dy.d
  WHERE (t.t_ts < dy.c_ts OR (t.t_ts = dy.c_ts AND t.t_id < dy.c_id))
    AND epoch_us(dy.c_ts) - epoch_us(t.t_ts) <= {_ATTR_LOOKBACK_DAYS} * 86400000000),
per_ch AS (
  SELECT user_id, c_id, channel, sum(w) AS wch
  FROM pairs GROUP BY 1, 2, 3),
credits AS (
  SELECT channel, wch / sum(wch) OVER (PARTITION BY user_id, c_id) AS credit
  FROM per_ch),
ch_credit AS (SELECT channel, sum(credit) AS credit FROM credits GROUP BY 1),
unattr AS (
  SELECT 'unattributed' AS channel,
         ((SELECT count(*) FROM convs)
          - (SELECT count(*) FROM (SELECT DISTINCT user_id, c_id FROM per_ch)))::DOUBLE
           AS credit),
allc AS (SELECT * FROM ch_credit UNION ALL SELECT * FROM unattr)
SELECT channel, round(credit, {ROUND_SUM}) AS credit,
       round(credit / sum(credit) OVER (), {ROUND_STAT}) AS share
FROM allc
"""


_ATTRIBUTION_SQL = f"""
WITH touched AS (
  SELECT event_type, ts,
         last_value(CASE WHEN event_type <> 'purchase'
                         THEN struct_pack(t := ts, ch := event_type) END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
  FROM events),
conv AS (
  SELECT CASE WHEN touch IS NOT NULL
              AND epoch_us(ts) - epoch_us(touch.t) <= {_ATTR_LOOKBACK_DAYS} * 86400000000
              THEN touch.ch ELSE 'unattributed' END AS channel
  FROM touched WHERE event_type = 'purchase'),
counts AS (SELECT channel, count(*)::BIGINT AS n_conversions FROM conv GROUP BY 1)
SELECT channel, n_conversions,
       round(n_conversions::DOUBLE / sum(n_conversions) OVER (), {ROUND_STAT}) AS share
FROM counts
"""


# ---------------------------------------------------------------------------
# events_seasonal_anomalies — seasonal-residual anomaly screen (r10):
# hourly traffic per event type, a (type, dow, hour-of-day) seasonal
# baseline (the events_seasonality profile put to work), then the top-20
# hours by |z| residual — the incident shortlist a traffic dashboard
# opens with. The baseline is LEAVE-ONE-OUT: an hour's own count is
# excluded from its cell's mean/stddev (closed form from the cell's
# (count, sum, sumsq) — no second pass), because a naive z against a
# cell containing the outlier is self-masked with a hard ceiling of
# sqrt(k−1) sigmas no matter how large the spike (total masking at
# small-k cells). Cells with a single observation carry no evidence
# (z = 0). Two map-side-combinable aggregates + a profile join; z pins
# greatest(var, 1e-12) like the CUSUM monitor.
# ---------------------------------------------------------------------------
_ANOM_TOPK = 20


def _seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    return seasonal_anomaly_screen(load_table(spark, sf_dir, "events"))


def seasonal_anomaly_screen(ev: DataFrame) -> DataFrame:
    """Core of events_seasonal_anomalies over any events-shaped DataFrame —
    shared with tools/stress.py."""
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).cast("double").alias("n"))
    keyed = hourly.select(
        "*",
        F.dayofweek("h").alias("__dow"),
        F.hour("h").alias("__hod"),
    )
    prof = keyed.groupBy("event_type", "__dow", "__hod").agg(
        F.count(F.lit(1)).cast("double").alias("__k"),
        F.sum("n").alias("__s"),
        F.sum(F.col("n") * F.col("n")).alias("__q"),
    )
    j = keyed.join(prof, ["event_type", "__dow", "__hod"])
    loo_mu = (F.col("__s") - F.col("n")) / (F.col("__k") - 1.0)
    loo_var = (F.col("__q") - F.col("n") * F.col("n")) / (F.col("__k") - 1.0) - loo_mu * loo_mu
    z = F.when(
        F.col("__k") >= 2.0,
        (F.col("n") - loo_mu) / F.sqrt(F.greatest(loo_var, F.lit(1e-12))),
    ).otherwise(F.lit(0.0))
    scored = j.select(
        "event_type", F.col("h").alias("hour_ts"), F.col("n").cast("bigint").alias("n"),
        F.round(F.when(F.col("__k") >= 2.0, loo_mu).otherwise(F.col("n")), ROUND_STAT).alias("expected"),
        F.round(z, ROUND_STAT).alias("z"),
        F.abs(F.round(z, 9)).alias("__absz"),
    )
    rank_w = Window.orderBy(F.desc("__absz"), F.asc("event_type"), F.asc("hour_ts"))
    return (
        scored.withColumn("rank", F.row_number().over(rank_w))
        .filter(F.col("rank") <= _ANOM_TOPK)
        .drop("__absz")
    )


_SEASONAL_ANOM_SQL = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h, count(*)::DOUBLE AS n
  FROM events GROUP BY 1, 2),
keyed AS (
  SELECT *, dayofweek(h) + 1 AS dow, hour(h) AS hod FROM hourly),
prof AS (
  SELECT event_type, dow, hod,
         count(*)::DOUBLE AS k, sum(n) AS s, sum(n * n) AS q
  FROM keyed GROUP BY 1, 2, 3),
scored AS (
  SELECT ky.event_type, ky.h AS hour_ts, ky.n::BIGINT AS n,
         round(CASE WHEN p.k >= 2 THEN (p.s - ky.n) / (p.k - 1) ELSE ky.n END,
               {ROUND_STAT}) AS expected,
         round(CASE WHEN p.k >= 2
               THEN (ky.n - (p.s - ky.n) / (p.k - 1))
                    / sqrt(greatest((p.q - ky.n * ky.n) / (p.k - 1)
                                    - ((p.s - ky.n) / (p.k - 1))
                                      * ((p.s - ky.n) / (p.k - 1)), 1e-12))
               ELSE 0.0 END, {ROUND_STAT}) AS z,
         abs(round(CASE WHEN p.k >= 2
               THEN (ky.n - (p.s - ky.n) / (p.k - 1))
                    / sqrt(greatest((p.q - ky.n * ky.n) / (p.k - 1)
                                    - ((p.s - ky.n) / (p.k - 1))
                                      * ((p.s - ky.n) / (p.k - 1)), 1e-12))
               ELSE 0.0 END, 9)) AS absz
  FROM keyed ky JOIN prof p
    ON p.event_type = ky.event_type AND p.dow = ky.dow AND p.hod = ky.hod),
ranked AS (
  SELECT event_type, hour_ts, n, expected, z,
         row_number() OVER (ORDER BY absz DESC, event_type, hour_ts)::INT AS rank
  FROM scored)
SELECT * FROM ranked WHERE rank <= {_ANOM_TOPK}
"""


REGISTRY: dict[str, QuerySpec] = {
    "quality_benford": QuerySpec(
        _benford, _BENFORD_SQL,
        "Benford first-digit audit of order amounts with chi-square statistic",
        ("analytics", "diagnostics"),
    ),
    "analytics_gini_concentration": QuerySpec(
        _gini_concentration, _GINI_SQL,
        "Gini coefficient + top-1%/10% revenue shares of per-customer spend",
        ("analytics", "agg", "window"),
    ),
    "analytics_gini_sketch": QuerySpec(
        _gini_sketch, _GINI_SKETCH_SQL,
        "at-scale Gini: binned trapezoidal Lorenz over a mergeable fixed-edge spend histogram",
        ("analytics", "agg", "sketch"),
    ),
    "events_cusum_changepoints": QuerySpec(
        _cusum_changepoints, _CUSUM_SQL,
        "CUSUM mean-shift monitor per event type (closed-form windows, no recursion)",
        ("analytics", "window", "diagnostics"),
    ),
    "events_forecast_backtest": QuerySpec(
        _forecast_backtest, _FORECAST_SQL,
        "seasonal-naive forecast backtest per event type: MAE / sMAPE / bias",
        ("analytics", "agg"),
    ),
    "profile_join_cardinality": QuerySpec(
        _join_cardinality, _JCARD_SQL,
        "join-size estimation by 1/64 key-hash sampling vs the exact count",
        ("analytics", "diagnostics", "join"),
    ),
    "events_markov_transitions": QuerySpec(
        _markov_transitions, _MARKOV_SQL,
        "first-order event-type transition matrix per user timeline",
        ("analytics", "window"),
    ),
    "events_theilsen_trend": QuerySpec(
        _theilsen_trend, _THEILSEN_SQL,
        "Theil-Sen robust daily-traffic trend (median of pairwise slopes over the bounded day grain) vs OLS",
        ("analytics", "robust"),
    ),
    "events_survival_km": QuerySpec(
        _survival_km, _KM_SQL,
        "Kaplan-Meier churn survival curve: product-limit estimator over the duration-grain risk table",
        ("analytics", "window", "survival"),
    ),
    "events_funnel": QuerySpec(
        _events_funnel, _FUNNEL_SQL,
        "ordered view->click->purchase funnel: min-ts sequencing, per-step conversion + exact-microsecond mean latency",
        ("analytics", "join"),
    ),
    "events_attribution_multitouch": QuerySpec(
        _events_attribution_multitouch, _MTA_SQL,
        "time-decay multi-touch attribution: per-conversion-normalized 0.5^(dt/day) credits via a bounded day-bucket join",
        ("analytics", "window", "join"),
    ),
    "events_attribution": QuerySpec(
        _events_attribution, _ATTRIBUTION_SQL,
        "last-touch conversion attribution with a 7-day lookback: conversions + share per channel",
        ("analytics", "window"),
    ),
    "events_seasonal_anomalies": QuerySpec(
        _seasonal_anomalies, _SEASONAL_ANOM_SQL,
        "seasonal-residual anomaly screen: top-20 hours by |z| vs the (type, dow, hour) baseline",
        ("analytics", "diagnostics", "window"),
    ),
    "events_pagerank": QuerySpec(
        _events_pagerank, _PAGERANK_SQL,
        "PageRank over the type-level transition graph; oracle replays all 20 power iterations",
        # driver_fit: building the DataFrame collects the (bounded,
        # |event_type|^2) type-graph and iterates on the driver — plan
        # lint skips it by default (tools/explain_audit.py)
        ("analytics", "graph", "ml", "driver_fit"),
    ),
    "quality_ks_drift": QuerySpec(
        _ks_drift, _KS_SQL,
        "two-sample KS drift test in histogram form: D statistic, 5% critical value, verdict",
        ("analytics", "diagnostics", "sketch"),
    ),
    "stream_ks_drift": QuerySpec(
        _stream_ks_drift, _KS_SQL,
        "the KS drift monitor maintained by a streaming histogram aggregation (AvailableNow == batch)",
        # driver_fit: building the DataFrame drains an AvailableNow
        # streaming query (full lifecycle) — plan lint skips it by default
        ("analytics", "streaming", "sketch", "driver_fit"),
    ),
    "analytics_rfm_segments": QuerySpec(
        _rfm_segments, _RFM_SQL,
        "RFM quartile segmentation of customers with population counts",
        ("analytics", "window", "agg"),
    ),
    "analytics_rfm_sketch": QuerySpec(
        _rfm_sketch, _RFM_SKETCH_SQL,
        "at-scale RFM: histogram-derived quartile edges + broadcast-threshold scoring, no global sort",
        ("analytics", "agg", "sketch"),
    ),
    "events_cooccurrence_lift": QuerySpec(
        _cooccurrence_lift, _COOCCUR_SQL,
        "event-type association: co-occurrence counts and lift per type pair",
        ("analytics", "agg"),
    ),
    "events_seasonality": QuerySpec(
        _seasonality, _SEASONALITY_SQL,
        "day-of-week x hour-of-day seasonal profile vs grand mean",
        ("analytics", "agg"),
    ),
    "table_diff_unkeyed": QuerySpec(
        _table_diff_unkeyed, _TABLE_DIFF_SQL,
        "row-multiset diff via grouped row-hash counts (keyless migration check)",
        ("diagnostics",),
    ),
    "ml_conformal_interval": QuerySpec(
        _conformal_interval_q, _conformal_sql(),
        "split-conformal prediction interval on the Huber fit: hash split, calibration quantile, test coverage",
        ("analytics", "ml"),
    ),
    "ml_huber_regression": QuerySpec(
        _huber_regression_q, _HUBER_SQL,
        "Huber robust regression by IRLS; oracle replays all 6 weighted normal-equation rounds via Cramer CTEs",
        ("analytics", "ml"),
    ),
    "ml_logistic_irls": QuerySpec(
        _logistic_irls_q, _IRLS_SQL,
        "distributed logistic regression (IRLS), oracle replays every round",
        ("analytics", "ml", "agg"),
    ),
    "events_drift_psi": QuerySpec(
        _drift_psi, _PSI_SQL,
        "population stability index per event_type (ref vs current half-month)",
        ("analytics", "diagnostics"),
    ),
    "events_cohort_retention": QuerySpec(
        _cohort_retention, _COHORT_SQL,
        "cohort analysis: per first-day cohort, distinct-active retention by day offset",
        ("analytics", "agg"),
    ),
    "profile_functional_deps": QuerySpec(
        _functional_deps, _FD_SQL,
        "functional-dependency discovery over candidate column pairs",
        ("diagnostics", "agg"),
    ),
    "mc_scenario_expectations": QuerySpec(_mc_expectations, _MC_EXPECTATIONS_SQL, "M2 deterministic scenario core", ("analytics",)),
    "mc_scenarios": QuerySpec(_mc_scenarios, None, "M2 Monte Carlo scenario simulation", ("analytics", "stochastic")),
    "bootstrap_ci": QuerySpec(
        _bootstrap, _bootstrap_sql(),
        "M3 Poisson bootstrap CIs; oracle replays the SplitMix64 counter-RNG weight matrix bit-for-bit",
        ("analytics", "stochastic"),
    ),
    "bootstrap_ci_grouped": QuerySpec(
        _bootstrap_grouped, _bootstrap_grouped_sql(),
        "per-group Poisson bootstrap CIs; same exact counter-RNG weights per doc_id",
        ("analytics", "stochastic"),
    ),
    "fa_loadings": QuerySpec(
        _fa_loadings, _fa_loadings_sql(),
        "M1 factor loadings; oracle replays the 100-iteration EM fit as a recursive CTE with closed-form 3x3 inverses",
        ("analytics", "ml"),
    ),
    "fa_scores_summary": QuerySpec(
        _fa_scores_summary, _fa_scores_sql(),
        "M1 distributed factor scoring summary; oracle replays the EM fit then uses score linearity (mean/var from full-table moments)",
        ("analytics", "ml"),
    ),
}
