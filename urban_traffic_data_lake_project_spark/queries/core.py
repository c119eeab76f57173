"""Core relational surface: scans, filters, projections, joins, grouped and
grand aggregates, top-k, mode, set ops, describe, correlation.

Maps the reference's operator inventory (SURVEY.md §2.2-§2.7) onto the
driver's TPC-H-ish tables:

- J1 left equi-join w/ coarse-key fan-out (reference scripts/merge.py:63-80)
  -> ``core_left_join_fanout`` (orders x lineitem on day key).
- Grand aggregates A1-A12 (clean_traffic.py / monte_carlo.py / notebook)
  -> ``core_grand_aggs`` (incl. A5 mode), ``core_describe``,
  ``core_corr_matrix``.
- Top-k T1/T2 (factor_analysis.py:214-216) -> ``core_topk_abs``,
  ``core_topk_groups``.
- Set ops (absent in reference, free in Spark; SURVEY §2.6) -> ``core_set_ops``.

Scale notes: every query is expressed declaratively so Catalyst pushes
filters/projections into the parquet scan; joins on dimension tables
broadcast (nation/region always; customer under the 64 MB threshold locally,
sort-merge + AQE on a cluster); grouped aggregates get map-side partial
aggregation for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from urban_traffic_data_lake_project_spark.queries.base import ROUND_STAT, ROUND_SUM, QuerySpec
from urban_traffic_data_lake_project_spark.sources import load_table


# ---------------------------------------------------------------------------
# core_pricing_summary — TPC-H Q1-shaped grouped aggregate (A1/A2/A6 grouped)
# ---------------------------------------------------------------------------
def _pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), ROUND_SUM).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), ROUND_SUM).alias("sum_base_price"),
            F.round(F.sum(net), ROUND_SUM).alias("sum_disc_price"),
            F.round(F.sum(net * (1 + F.col("l_tax"))), ROUND_SUM).alias("sum_charge"),
            F.round(F.avg("l_quantity"), ROUND_STAT).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), ROUND_STAT).alias("avg_price"),
            F.round(F.avg("l_discount"), ROUND_STAT).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_PRICING_SQL = f"""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), {ROUND_SUM})                                          AS sum_qty,
       round(sum(l_extendedprice), {ROUND_SUM})                                     AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), {ROUND_SUM})                  AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), {ROUND_SUM})    AS sum_charge,
       round(avg(l_quantity), {ROUND_STAT})                                         AS avg_qty,
       round(avg(l_extendedprice), {ROUND_STAT})                                    AS avg_price,
       round(avg(l_discount), {ROUND_STAT})                                         AS avg_disc,
       count(*)                                                                     AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# core_join_snowflake — multi-way join through the dimension chain
# ---------------------------------------------------------------------------
def _join_snowflake(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    # nation/region are tiny at any scale -> explicit broadcast; customer
    # and orders shuffle on their keys (AQE converts to broadcast when a
    # filtered side turns out small at runtime).
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .filter(F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), ROUND_SUM).alias("revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
    )


_SNOWFLAKE_SQL = f"""
SELECT r_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), {ROUND_SUM}) AS revenue,
       count(DISTINCT o_orderkey)                                  AS n_orders
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
GROUP BY r_name, n_name
"""


# ---------------------------------------------------------------------------
# core_left_join_fanout — the reference's J1: left equi-join on a coarse
# (day-granularity) key, many-to-many fan-out (scripts/merge.py:63-80), then
# aggregated so the check output stays bounded while the join itself runs
# at full fan-out.
# ---------------------------------------------------------------------------
def _left_join_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Aggregate-pushdown-below-join rewrite (semantically identical to
    # joining at full fan-out then aggregating, which Catalyst does NOT
    # derive itself): pre-aggregate the fan-out side per join key, then
    # broadcast-join the tiny per-day aggregate and recombine with weighted
    # sums. The day-key fan-out (~36M intermediate rows at sf0.1, ~0.5T at
    # 100TB) never materializes; the join side scales with key cardinality
    # (#days), not data volume.
    orders = load_table(spark, sf_dir, "orders").withColumn("o_day", F.to_date("o_orderdate"))
    li = load_table(spark, sf_dir, "lineitem").withColumn("l_day", F.to_date("l_shipdate"))
    day_aggs = li.groupBy("l_day").agg(
        F.count(F.lit(1)).alias("d_cnt"),
        F.count("l_quantity").alias("d_cnt_qty"),
        F.sum("l_quantity").alias("d_sum_qty"),
    )
    j = orders.join(F.broadcast(day_aggs), orders.o_day == day_aggs.l_day, "left")
    # an unmatched order contributes 1 output row (all-NULL right side);
    # a matched one contributes d_cnt rows
    w = F.coalesce(F.col("d_cnt"), F.lit(1))
    return j.groupBy("o_orderpriority").agg(
        F.sum(w).alias("n_rows"),
        F.sum(F.coalesce(F.col("d_cnt_qty"), F.lit(0))).alias("n_matched"),
        # 2dp, not ROUND_STAT: these average ~0.5T rows at 100TB scale and
        # engine-vs-oracle summation order already differs at the 6th
        # decimal on 36M rows (observed at sf0.1)
        F.round(
            F.sum(F.col("o_totalprice") * w) / F.sum(w), 2
        ).alias("avg_left_price"),
        F.round(
            F.sum(F.coalesce(F.col("d_sum_qty"), F.lit(0.0)))
            / F.sum(F.coalesce(F.col("d_cnt_qty"), F.lit(0))),
            2,
        ).alias("avg_right_qty"),
    )


_FANOUT_SQL = f"""
SELECT o_orderpriority,
       count(*)                                    AS n_rows,
       count(l_quantity)                           AS n_matched,
       round(avg(o_totalprice), 2)                 AS avg_left_price,
       round(avg(l_quantity), 2)                   AS avg_right_qty
FROM (SELECT o_orderpriority, o_totalprice, CAST(o_orderdate AS DATE) AS o_day FROM orders) o
LEFT JOIN (SELECT l_quantity, CAST(l_shipdate AS DATE) AS l_day FROM lineitem) l
  ON o.o_day = l.l_day
GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# core_grand_aggs — whole-table aggregate bundle (reference A1-A12:
# mean/std/median/percentile/mode-adjacent/count/null-fraction/
# prop-above-threshold/distinct/min/max)
#
# Scale note: the exact price percentiles use the two-phase refinement in
# operators/stats.py rather than Spark's buffering `percentile` — the
# built-in holds every value of a high-cardinality column in one
# aggregation buffer (fatal at 10^12 rows, and already the bottleneck at
# sf0.1). Everything else is one streaming-aggregate pass. The quantity
# median stays exact-native: ~50 distinct values, O(distinct) memory.
# ---------------------------------------------------------------------------
def _grand_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from urban_traffic_data_lake_project_spark.operators.stats import column_profile
    from urban_traffic_data_lake_project_spark.queries.base import overlap_jobs

    li = load_table(spark, sf_dir, "lineitem")
    # NOTE: the countDistinct runs as its OWN pass: mixed with plain aggs
    # it forces an Expand over every column; alone it reads ONE pruned
    # column.
    base = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.avg("l_quantity"), ROUND_STAT).alias("avg_qty"),
        F.round(F.stddev_samp("l_quantity"), ROUND_STAT).alias("std_qty"),
        F.round(F.stddev_pop("l_quantity"), ROUND_STAT).alias("stdpop_qty"),
        F.round(F.median("l_quantity"), ROUND_STAT).alias("med_qty"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.round(F.avg((F.col("l_quantity") > 25).cast("double")), ROUND_STAT).alias("frac_qty_above_25"),
        F.round(F.avg(F.col("l_discount").isNull().cast("double")), ROUND_STAT).alias("null_frac_discount"),
    )
    # The three fit passes below are data-independent — overlap them from a
    # driver thread pool (guide §2.6) instead of running 3 sequential jobs;
    # each job's result (and therefore the query's output) is unchanged.
    base_row, n_parts, mode_row = overlap_jobs(
        lambda: base.first().asDict(),
        lambda: li.select("l_partkey").distinct().count(),
        # A5 mode (deterministic tiebreak: max count, then min value) — its
        # own tiny grouped pass; folding it into `base` would force an Expand.
        lambda: (
            li.groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), "l_returnflag")
            .first()
        ),
    )
    row = base_row
    row["n_parts"] = n_parts
    prof = column_profile(li, ["l_extendedprice"], [0.25, 0.75])
    q25, q75 = prof.columns["l_extendedprice"].quantiles
    out = {
        **row,
        "q25_price": round(q25, ROUND_STAT),
        "q75_price": round(q75, ROUND_STAT),
        "mode_flag": mode_row["l_returnflag"],
        "mode_n": mode_row["n"],
    }
    cols = [
        "n_rows", "avg_qty", "std_qty", "stdpop_qty", "med_qty", "q25_price",
        "q75_price", "min_qty", "max_qty", "n_parts", "frac_qty_above_25",
        "null_frac_discount", "mode_flag", "mode_n",
    ]
    def _typ(c: str) -> str:
        if c in ("n_rows", "n_parts", "mode_n"):
            return "long"
        return "string" if c == "mode_flag" else "double"
    schema = ", ".join(f"{c} {_typ(c)}" for c in cols)
    return spark.createDataFrame([tuple(out[c] for c in cols)], schema)


_GRAND_AGGS_SQL = f"""
SELECT count(*)                                                     AS n_rows,
       round(avg(l_quantity), {ROUND_STAT})                         AS avg_qty,
       round(stddev_samp(l_quantity), {ROUND_STAT})                 AS std_qty,
       round(stddev_pop(l_quantity), {ROUND_STAT})                  AS stdpop_qty,
       round(median(l_quantity), {ROUND_STAT})                      AS med_qty,
       round(quantile_cont(l_extendedprice, 0.25), {ROUND_STAT})    AS q25_price,
       round(quantile_cont(l_extendedprice, 0.75), {ROUND_STAT})    AS q75_price,
       min(l_quantity)                                              AS min_qty,
       max(l_quantity)                                              AS max_qty,
       count(DISTINCT l_partkey)                                    AS n_parts,
       round(avg(CASE WHEN l_quantity > 25 THEN 1.0 ELSE 0.0 END), {ROUND_STAT}) AS frac_qty_above_25,
       round(avg(CASE WHEN l_discount IS NULL THEN 1.0 ELSE 0.0 END), {ROUND_STAT}) AS null_frac_discount,
       (SELECT l_returnflag FROM lineitem GROUP BY l_returnflag
        ORDER BY count(*) DESC, l_returnflag LIMIT 1)                AS mode_flag,
       (SELECT count(*) FROM lineitem GROUP BY l_returnflag
        ORDER BY count(*) DESC, l_returnflag LIMIT 1)                AS mode_n
FROM lineitem
"""


# ---------------------------------------------------------------------------
# core_topk_abs — T1: top-k by absolute value with deterministic tiebreak
# (factor_analysis.py:214-216 nlargest on |loading|). Plans as
# TakeOrderedAndProject: per-partition heap, no global sort.
# ---------------------------------------------------------------------------
def _topk_abs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    dev = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 30000.0
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.round(dev, ROUND_SUM).alias("net_price_dev"),
        )
        .orderBy(F.abs(F.col("net_price_dev")).desc(), "l_orderkey", "l_linenumber")
        .limit(10)
    )


_TOPK_ABS_SQL = f"""
SELECT l_orderkey, l_linenumber,
       round(l_extendedprice * (1 - l_discount) - 30000.0, {ROUND_SUM}) AS net_price_dev
FROM lineitem
ORDER BY abs(round(l_extendedprice * (1 - l_discount) - 30000.0, {ROUND_SUM})) DESC,
         l_orderkey, l_linenumber
LIMIT 10
"""


# ---------------------------------------------------------------------------
# core_topk_groups — top-5 parts by revenue (agg then TakeOrdered)
# ---------------------------------------------------------------------------
def _topk_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_partkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), ROUND_SUM).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "l_partkey")
        .limit(5)
    )


_TOPK_GROUPS_SQL = f"""
SELECT l_partkey,
       round(sum(l_extendedprice * (1 - l_discount)), {ROUND_SUM}) AS revenue
FROM lineitem
GROUP BY l_partkey
ORDER BY revenue DESC, l_partkey
LIMIT 5
"""


# ---------------------------------------------------------------------------
# core_filter_project — predicate + projection; both must reach the parquet
# scan (PushedFilters / ReadSchema — asserted in tests/test_plans.py).
# ---------------------------------------------------------------------------
def _filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("2000-01-01").cast("timestamp"))
        & (F.col("l_discount") > 0.05)
        & (F.col("l_returnflag") == "R")
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), ROUND_SUM).alias("net_price"),
    )


_FILTER_PROJECT_SQL = f"""
SELECT l_orderkey, l_linenumber,
       round(l_extendedprice * (1 - l_discount), {ROUND_SUM}) AS net_price
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
  AND l_discount > 0.05 AND l_returnflag = 'R'
"""


# ---------------------------------------------------------------------------
# core_corr_matrix — A11 full pairwise Pearson correlation matrix (notebook
# cell 13's numeric.corr() heatmap), long form, one aggregation pass via
# operators.stats.corr_matrix.
# ---------------------------------------------------------------------------
_CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def _corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from urban_traffic_data_lake_project_spark.operators.stats import corr_matrix

    li = load_table(spark, sf_dir, "lineitem")
    return corr_matrix(li, _CORR_COLS, round_to=ROUND_STAT)


_CORR_MATRIX_SQL = "\nUNION ALL\n".join(
    f"SELECT '{a}' AS col_a, '{b}' AS col_b, "
    f"round(corr({a}, {b}), {ROUND_STAT}) AS r FROM lineitem"
    for i, a in enumerate(_CORR_COLS)
    for b in _CORR_COLS[i + 1 :]
)


# ---------------------------------------------------------------------------
# core_describe — A10 df.describe()/summary() parity in long form over the
# measure columns, via operators.stats.describe_table (ONE unpivot + ONE
# grouped aggregation pass regardless of column count).
# ---------------------------------------------------------------------------
_DESCRIBE_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def _describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from urban_traffic_data_lake_project_spark.operators.stats import describe_table

    li = load_table(spark, sf_dir, "lineitem")
    return describe_table(li, _DESCRIBE_COLS, round_to=ROUND_STAT)


_DESCRIBE_SQL = f"""
WITH stacked AS (
{chr(10).join(f"  SELECT '{c}' AS column_name, {c} AS value FROM lineitem"
              + (" UNION ALL" if i < len(_DESCRIBE_COLS) - 1 else "")
              for i, c in enumerate(_DESCRIBE_COLS))}
)
SELECT column_name,
       count(value)                                     AS n,
       round(avg(value), {ROUND_STAT})                  AS mean,
       round(stddev_samp(value), {ROUND_STAT})          AS std,
       round(min(value), {ROUND_STAT})                  AS min_value,
       round(quantile_cont(value, 0.25), {ROUND_STAT})  AS q25,
       round(quantile_cont(value, 0.5), {ROUND_STAT})   AS q50,
       round(quantile_cont(value, 0.75), {ROUND_STAT})  AS q75,
       round(max(value), {ROUND_STAT})                  AS max_value
FROM stacked
GROUP BY column_name
"""


# ---------------------------------------------------------------------------
# core_histogram — equal-width binned counts per numeric column (the engine
# counterpart of the notebook dashboard's per-column hist(bins=40) panels,
# reference notebooks/Analysis.ipynb cell 13)
# ---------------------------------------------------------------------------
_HIST_COLS = ("l_quantity", "l_extendedprice", "l_discount")
_HIST_BINS = 40


def _histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from urban_traffic_data_lake_project_spark.operators.stats import histogram

    li = load_table(spark, sf_dir, "lineitem")
    out = histogram(li, _HIST_COLS, bins=_HIST_BINS)
    return out.select(
        "col_name",
        "bin",
        F.round("bin_lo", ROUND_STAT).alias("bin_lo"),
        F.round("bin_hi", ROUND_STAT).alias("bin_hi"),
        "n",
    )


_HISTOGRAM_SQL = f"""
WITH vals AS (
{chr(10).join(f"  SELECT '{c}' AS col_name, {c}::DOUBLE AS v FROM lineitem"
              + (" UNION ALL" if i < len(_HIST_COLS) - 1 else "")
              for i, c in enumerate(_HIST_COLS))}
),
nn AS (SELECT col_name, v FROM vals WHERE v IS NOT NULL),
b AS (SELECT col_name, min(v) AS lo, max(v) AS hi FROM nn GROUP BY col_name),
binned AS (
  SELECT nn.col_name,
         (CASE WHEN hi = lo THEN 0
               ELSE least(floor(((v - lo) * {float(_HIST_BINS)}) / (hi - lo)),
                          {float(_HIST_BINS - 1)}) END)::INT AS bin,
         lo, hi
  FROM nn JOIN b USING (col_name)),
g AS (
  SELECT col_name, bin, count(*) AS n, min(lo) AS lo, min(hi) AS hi
  FROM binned GROUP BY col_name, bin)
SELECT col_name, bin,
       round(lo + bin * ((hi - lo) / {float(_HIST_BINS)}), {ROUND_STAT}) AS bin_lo,
       round(lo + (bin + 1) * ((hi - lo) / {float(_HIST_BINS)}), {ROUND_STAT}) AS bin_hi,
       n
FROM g
"""


# ---------------------------------------------------------------------------
# core_set_ops — union / intersect / except in BOTH set (DISTINCT) and bag
# (ALL, multiplicity-preserving) forms, one query (SURVEY §2.6: absent in
# the reference, exposed as net-new Spark surface)
# ---------------------------------------------------------------------------
def _set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    heavy = li.filter(F.col("l_quantity") > 45).select("l_partkey")
    returned = li.filter(F.col("l_returnflag") == "R").select("l_partkey")
    branches = [
        ("union", heavy.union(returned).distinct()),
        ("intersect", heavy.intersect(returned)),
        # subtract == SQL EXCEPT (set semantics); exceptAll keeps keys
        # whose left multiplicity merely exceeds the right one.
        ("except", heavy.subtract(returned)),
        ("union_all", heavy.unionAll(returned)),
        ("intersect_all", heavy.intersectAll(returned)),
        ("except_all", heavy.exceptAll(returned)),
    ]
    out = None
    for name, df in branches:
        b = df.select(F.lit(name).alias("set_op"), "l_partkey")
        out = b if out is None else out.union(b)
    return out


_SET_OPS_SQL = """
WITH heavy AS (SELECT l_partkey FROM lineitem WHERE l_quantity > 45),
     ret   AS (SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R')
SELECT 'union' AS set_op, l_partkey FROM (SELECT l_partkey FROM heavy UNION SELECT l_partkey FROM ret)
UNION ALL
SELECT 'intersect', l_partkey FROM (SELECT l_partkey FROM heavy INTERSECT SELECT l_partkey FROM ret)
UNION ALL
SELECT 'except', l_partkey FROM (SELECT l_partkey FROM heavy EXCEPT SELECT l_partkey FROM ret)
UNION ALL
SELECT 'union_all', l_partkey FROM (SELECT l_partkey FROM heavy UNION ALL SELECT l_partkey FROM ret)
UNION ALL
SELECT 'intersect_all', l_partkey FROM (SELECT l_partkey FROM heavy INTERSECT ALL SELECT l_partkey FROM ret)
UNION ALL
SELECT 'except_all', l_partkey FROM (SELECT l_partkey FROM heavy EXCEPT ALL SELECT l_partkey FROM ret)
"""


# ---------------------------------------------------------------------------
# agg_regression — regression aggregates per group (expression fast path;
# operators.stats.grouped_ols is the applyInPandas generalization)
# ---------------------------------------------------------------------------
def _regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), ROUND_STAT).alias("slope"),
        F.round(F.regr_intercept("l_extendedprice", "l_quantity"), ROUND_STAT).alias("intercept"),
        F.round(F.regr_r2("l_extendedprice", "l_quantity"), ROUND_STAT).alias("r2"),
        F.regr_count("l_extendedprice", "l_quantity").alias("n"),
    )


_REGRESSION_SQL = f"""
SELECT l_returnflag,
       round(regr_slope(l_extendedprice, l_quantity), {ROUND_STAT}) AS slope,
       round(regr_intercept(l_extendedprice, l_quantity), {ROUND_STAT}) AS intercept,
       round(regr_r2(l_extendedprice, l_quantity), {ROUND_STAT}) AS r2,
       regr_count(l_extendedprice, l_quantity)::BIGINT AS n
FROM lineitem
GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# join_null_safe — null-safe equality (<=> / IS NOT DISTINCT FROM)
# ---------------------------------------------------------------------------
def _null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    # synthesize NULL keys deterministically on both sides
    a = o.select(
        F.when(F.col("o_orderkey") % 11 == 0, None).otherwise(F.col("o_custkey")).alias("k"),
        F.col("o_orderkey").alias("a_id"),
    )
    b = o.select(
        F.when(F.col("o_orderkey") % 13 == 0, None).otherwise(F.col("o_custkey")).alias("k"),
        F.col("o_orderkey").alias("b_id"),
    ).filter(F.col("b_id") % 3 == 0)
    joined = a.join(b, a["k"].eqNullSafe(b["k"]))
    return joined.groupBy(a["k"].alias("k")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("b_id").alias("n_b"),
    )


_NULL_SAFE_SQL = """
WITH a AS (
  SELECT CASE WHEN o_orderkey % 11 = 0 THEN NULL ELSE o_custkey END AS k,
         o_orderkey AS a_id FROM orders),
b AS (
  SELECT CASE WHEN o_orderkey % 13 = 0 THEN NULL ELSE o_custkey END AS k,
         o_orderkey AS b_id FROM orders
  WHERE o_orderkey % 3 = 0)
SELECT a.k, count(*) AS n_pairs, count(DISTINCT b.b_id) AS n_b
FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
GROUP BY a.k
"""


# ---------------------------------------------------------------------------
# agg_grouped_ols — the Arrow applyInPandas grouped-model path under the
# HASH gate (not rows-only): per-group 2-feature OLS via numpy lstsq,
# oracle-solved with Cramer's rule on the normal equations (covariance
# aggregates). 4dp rounding absorbs lstsq-vs-normal-equation float drift.
# ---------------------------------------------------------------------------
def _grouped_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    from urban_traffic_data_lake_project_spark.operators.stats import grouped_ols

    li = load_table(spark, sf_dir, "lineitem")
    out = grouped_ols(li, ["l_returnflag"], "l_extendedprice", ["l_quantity", "l_discount"])
    return out.select(
        "l_returnflag",
        F.round("intercept", 4).alias("intercept"),
        F.round("beta_l_quantity", 4).alias("beta_qty"),
        F.round("beta_l_discount", 4).alias("beta_disc"),
        "n",
    )


_GROUPED_OLS_SQL = """
WITH m AS (
  SELECT l_returnflag,
         count(*) AS n,
         avg(l_quantity) AS mx, avg(l_discount) AS mz, avg(l_extendedprice) AS my,
         covar_pop(l_quantity, l_quantity) AS sxx,
         covar_pop(l_quantity, l_discount) AS sxz,
         covar_pop(l_discount, l_discount) AS szz,
         covar_pop(l_quantity, l_extendedprice) AS sxy,
         covar_pop(l_discount, l_extendedprice) AS szy
  FROM lineitem GROUP BY l_returnflag),
solved AS (
  SELECT l_returnflag, n, mx, mz, my,
         (sxy * szz - szy * sxz) / (sxx * szz - sxz * sxz) AS b1,
         (szy * sxx - sxy * sxz) / (sxx * szz - sxz * sxz) AS b2
  FROM m)
SELECT l_returnflag,
       round(my - b1 * mx - b2 * mz, 4) AS intercept,
       round(b1, 4) AS beta_qty,
       round(b2, 4) AS beta_disc,
       n
FROM solved
"""


# ---------------------------------------------------------------------------
# source_python_datasource — the Spark 4 Python DataSource V2 under the
# gate: a distributed hash-deterministic generator source (each
# InputPartition emits its id-range executor-side) aggregated per
# sensor. Because the generator is md5-derived, the oracle reproduces
# the SOURCE ITSELF from range() + the same hash arithmetic — the
# plumbing and the data are both verified.
# ---------------------------------------------------------------------------
_PYDS_ROWS = 2000


def _python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    from urban_traffic_data_lake_project_spark.sources.pyds import (
        SyntheticTrafficDataSource,
    )

    spark.dataSource.register(SyntheticTrafficDataSource)
    df = (
        spark.read.format("synthetic_traffic")
        .option("rows", _PYDS_ROWS)
        .option("partitions", 8)
        .load()
    )
    return df.groupBy("sensor_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("speed_kmh"), 4).alias("avg_speed"),
        F.sum("vehicle_count").alias("total_vehicles"),
    )


_PYDS_HASH = "(('0x' || substr(md5('{salt}' || i), 1, 15))::UBIGINT)::BIGINT"

_PYDS_SQL = f"""
WITH gen AS (
  SELECT i::BIGINT AS reading_id,
         (i % 50)::INTEGER AS sensor_id,
         ({_PYDS_HASH.format(salt='sp|')} % 1200) / 10.0 AS speed_kmh,
         ({_PYDS_HASH.format(salt='vc|')} % 300)::INTEGER AS vehicle_count
  FROM (SELECT unnest(range(0, {_PYDS_ROWS})) AS i))
SELECT sensor_id, count(*)::BIGINT AS n,
       round(avg(speed_kmh), 4) AS avg_speed,
       sum(vehicle_count)::BIGINT AS total_vehicles
FROM gen GROUP BY sensor_id
"""


# ---------------------------------------------------------------------------
# join_bucketed_colocated — the recurring-join layout under the gate:
# orders and lineitem bucketed on the join key into the warehouse, then
# joined WITHOUT an exchange (bucket co-location replaces the shuffle —
# the plan shows SortMergeJoin with no Exchange below it). The oracle is
# the plain join: layout must never change results.
# ---------------------------------------------------------------------------
_BUCKETED_WRITTEN: set[str] = set()


def bucketed_table_tag(sf_dir: str) -> str:
    """Fingerprint naming the bucketed gate tables: sf_dir + source file
    sizes/mtimes. A process that queries two scale factors must never
    read the other's bucketed tables, and regenerating the parquet at
    the SAME path within a long-lived process must invalidate the layout
    instead of silently serving stale buckets."""
    import hashlib
    import os

    sig = [sf_dir]
    for t in ("orders", "lineitem"):
        p = os.path.join(sf_dir, f"{t}.parquet")
        st = os.stat(p)
        sig.append(f"{t}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5("|".join(sig).encode()).hexdigest()[:8]


def _bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from urban_traffic_data_lake_project_spark.sources.writers import write_bucketed

    tag = bucketed_table_tag(sf_dir)
    t_orders, t_li = f"bq_orders_{tag}", f"bq_lineitem_{tag}"
    if tag not in _BUCKETED_WRITTEN:
        # a previous PROCESS may have left the managed-table location on
        # disk without this session's catalog knowing the table — clear
        # the orphaned directory or saveAsTable refuses the name
        import os
        import shutil

        warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        for t in (t_orders, t_li):
            if not spark.catalog.tableExists(t):
                shutil.rmtree(os.path.join(warehouse, t), ignore_errors=True)
        if not (spark.catalog.tableExists(t_orders) and spark.catalog.tableExists(t_li)):
            orders = load_table(spark, sf_dir, "orders").select(
                "o_orderkey", "o_orderpriority"
            )
            li = load_table(spark, sf_dir, "lineitem").select(
                "l_orderkey", "l_quantity", "l_extendedprice"
            )
            write_bucketed(orders, t_orders, ["o_orderkey"], n_buckets=8)
            write_bucketed(li, t_li, ["l_orderkey"], n_buckets=8)
        _BUCKETED_WRITTEN.add(tag)
    o = spark.table(t_orders)
    l = spark.table(t_li)
    # DECIMAL sums: at sf0.1 the price total (~6.4e9) accumulates enough
    # float-sum noise to flip a 4dp rounding between engines; prices have
    # exact 2-decimal semantics, so sum them exactly
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
    )


_BUCKETED_JOIN_SQL = """
SELECT o.o_orderpriority, count(*)::BIGINT AS n_items,
       sum(l.l_quantity::DECIMAL(18,2))::DOUBLE AS sum_qty,
       sum(l.l_extendedprice::DECIMAL(18,2))::DOUBLE AS sum_price
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
"""


# ---------------------------------------------------------------------------
# core_equidepth_histogram — equal-COUNT binning (ntile) next to the
# equal-width histogram: per decile of l_extendedprice, the boundary
# values and count. Equi-depth bins are the zone-map/range-partition
# planning primitive (equal-width bins starve under skew). Total order
# fixed by (value, orderkey, linenumber) so ties place identically in
# both engines. The global ntile sort is the EXACT form (fine to ~10^8
# rows); at 10^12 the same boundaries come from the mergeable quantile
# sketch (sketch_hist_quantiles) or repartitionByRange's sampling —
# this query is the exactness reference those approximate.
# ---------------------------------------------------------------------------
def _equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    w = Window.orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
    binned = li.withColumn("decile", F.ntile(10).over(w))
    return binned.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("l_extendedprice"), 4).alias("lo"),
        F.round(F.max("l_extendedprice"), 4).alias("hi"),
    )


_EQUIDEPTH_SQL = """
WITH binned AS (
  SELECT l_extendedprice,
         ntile(10) OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber)
           AS decile
  FROM lineitem)
SELECT decile, count(*)::BIGINT AS n,
       round(min(l_extendedprice), 4) AS lo,
       round(max(l_extendedprice), 4) AS hi
FROM binned GROUP BY decile
"""


REGISTRY: dict[str, QuerySpec] = {
    "core_equidepth_histogram": QuerySpec(
        _equidepth_histogram, _EQUIDEPTH_SQL,
        "equi-depth decile histogram (range-partition planning primitive)",
        ("agg", "diagnostics"),
    ),
    "join_bucketed_colocated": QuerySpec(
        _bucketed_join, _BUCKETED_JOIN_SQL,
        "bucketed co-located join (no exchange) == plain join",
        ("join", "layout"),
    ),
    "source_python_datasource": QuerySpec(
        _python_datasource, _PYDS_SQL,
        "Spark 4 Python DataSource V2: distributed deterministic generator source",
        ("scan", "source"),
    ),
    "agg_regression": QuerySpec(_regression, _REGRESSION_SQL, "per-group regression aggregates", ("agg", "defer")),
    "join_null_safe": QuerySpec(_null_safe_join, _NULL_SAFE_SQL, "null-safe equality join", ("join", "defer")),
    "core_pricing_summary": QuerySpec(_pricing_summary, _PRICING_SQL, "TPC-H Q1-shaped grouped aggregate", ("agg", "scan", "defer")),
    "core_join_snowflake": QuerySpec(_join_snowflake, _SNOWFLAKE_SQL, "5-way join via broadcast dims", ("join", "defer")),
    "core_left_join_fanout": QuerySpec(_left_join_fanout, _FANOUT_SQL, "J1 coarse-key left join fan-out", ("join", "defer")),
    "core_grand_aggs": QuerySpec(_grand_aggs, _GRAND_AGGS_SQL, "A1-A12 grand aggregate bundle incl. A5 mode", ("agg", "defer")),
    "core_topk_abs": QuerySpec(_topk_abs, _TOPK_ABS_SQL, "T1 top-k by |value|", ("sort", "defer")),
    "core_topk_groups": QuerySpec(_topk_groups, _TOPK_GROUPS_SQL, "top-5 groups by aggregate", ("sort", "agg", "defer")),
    "core_filter_project": QuerySpec(_filter_project, _FILTER_PROJECT_SQL, "pushdown filter + projection", ("scan", "defer")),
    "core_corr_matrix": QuerySpec(_corr_matrix, _CORR_MATRIX_SQL, "A11 full pairwise correlation matrix", ("agg", "defer")),
    "core_describe": QuerySpec(_describe, _DESCRIBE_SQL, "A10 describe() long-form", ("agg", "defer")),
    "core_set_ops": QuerySpec(_set_ops, _SET_OPS_SQL, "union/intersect/except, DISTINCT + ALL", ("set", "defer")),
    "agg_grouped_ols": QuerySpec(
        _grouped_ols, _GROUPED_OLS_SQL,
        "applyInPandas multi-feature OLS vs Cramer-solve oracle", ("agg", "ml"),
    ),
    "core_histogram": QuerySpec(
        _histogram, _HISTOGRAM_SQL,
        "equal-width 40-bin histogram counts per numeric column (notebook dashboards)",
        ("agg",),
    ),
}
