"""Cleaning-kernel queries (reference silver layer, SURVEY.md §2.2).

The driver's testdata is clean, so each query first synthesizes the
reference's dirtiness deterministically (dup rows, NULL keys, 3 timestamp
layouts + garbage, mixed-type strings, outliers) from the orders/lineitem
tables — with the *identical* synthesis expressed in the oracle SQL — then
runs the real library operators from ``operators.cleaning``.

``clean_full_kernel`` composes the whole reference pipeline
(clean_traffic.py:57-131: dedup -> multi-format timestamp parse/drop ->
mode-fill -> null-fraction drop -> IQR clip -> median fill) end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from urban_traffic_data_lake_project_spark.operators import cleaning as C
from urban_traffic_data_lake_project_spark.queries.base import ROUND_SUM, QuerySpec
from urban_traffic_data_lake_project_spark.sources import load_table

# The three dirty layouts (generate_traffic_data.py:17-24) as
# (spark pattern, duckdb strptime pattern) pairs.
_TS_LAYOUTS = (
    ("yyyy-MM-dd HH:mm", "%Y-%m-%d %H:%M"),
    ("dd/MM/yyyy hha", "%d/%m/%Y %I%p"),
    ("yyyy-MM-dd'T'HH:mm'Z'", "%Y-%m-%dT%H:%MZ"),
)

_DUCK_PARSE = (
    "coalesce("
    + ", ".join(f"try_strptime(ts_str, '{d}')" for _, d in _TS_LAYOUTS)
    + ")"
)


def _dirty_ts_expr():
    """o_orderdate formatted into layout (o_orderkey % 4); %4==3 -> garbage."""
    m = F.col("o_orderkey") % 4
    e = F.when(m == 0, F.date_format("o_orderdate", _TS_LAYOUTS[0][0]))
    e = e.when(m == 1, F.date_format("o_orderdate", _TS_LAYOUTS[1][0]))
    e = e.when(m == 2, F.date_format("o_orderdate", _TS_LAYOUTS[2][0]))
    return e.otherwise(F.lit("not-a-date"))


_DIRTY_TS_SQL = """
CASE o_orderkey % 4
  WHEN 0 THEN strftime(o_orderdate, '%Y-%m-%d %H:%M')
  WHEN 1 THEN strftime(o_orderdate, '%d/%m/%Y %I%p')
  WHEN 2 THEN strftime(o_orderdate, '%Y-%m-%dT%H:%MZ')
  ELSE 'not-a-date'
END
"""


# ---------------------------------------------------------------------------
# clean_timestamp_multiformat — R2/R4: 3-layout parse, garbage -> NULL -> drop
# ---------------------------------------------------------------------------
def _timestamp_multiformat(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", _dirty_ts_expr().alias("ts_str")
    )
    return C.parse_timestamps(o.withColumn("ts", F.col("ts_str")), "ts").select(
        "o_orderkey", "ts_str", "ts"
    )


_TS_MULTIFORMAT_SQL = f"""
WITH dirty AS (SELECT o_orderkey, {_DIRTY_TS_SQL} AS ts_str FROM orders)
SELECT o_orderkey, ts_str, {_DUCK_PARSE} AS ts
FROM dirty
WHERE {_DUCK_PARSE} IS NOT NULL
"""


# ---------------------------------------------------------------------------
# clean_dedup_keyed — R1 deterministic keep-first dedup
# ---------------------------------------------------------------------------
def _dedup_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    # tiebreak must totally order the projected columns: the testdata
    # injects duplicate (orderkey, linenumber) pairs with differing
    # quantities, so linenumber alone leaves the survivor ambiguous.
    return C.dedup_by_key(li, keys=["l_orderkey"], tiebreak=["l_linenumber", "l_quantity"])


_DEDUP_SQL = """
SELECT l_orderkey, l_linenumber, l_quantity
FROM (
  SELECT l_orderkey, l_linenumber, l_quantity,
         row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity) AS rn
  FROM lineitem
)
WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# clean_numeric_coercion — R6: mixed-type string column -> double, garbage NULL
# (mirrors the weather visibility_m mixed column, generate_weather_data.py:141)
# ---------------------------------------------------------------------------
def _numeric_coercion(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    mixed = (
        F.when(F.col("o_orderkey") % 5 == 0, F.lit("Unknown"))
        .when(F.col("o_orderkey") % 5 == 1, F.lit("xxx"))
        .otherwise(F.col("o_totalprice").cast("string"))
    )
    dirty = o.select("o_orderkey", mixed.alias("mixed_str"))
    return C.coerce_numeric(
        dirty.withColumn("coerced", F.col("mixed_str")), ["coerced"]
    ).select("o_orderkey", F.round("coerced", ROUND_SUM).alias("coerced"))


_COERCION_SQL = f"""
WITH dirty AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 5 = 0 THEN 'Unknown'
              WHEN o_orderkey % 5 = 1 THEN 'xxx'
              ELSE CAST(o_totalprice AS VARCHAR) END AS mixed_str
  FROM orders)
SELECT o_orderkey, round(TRY_CAST(mixed_str AS DOUBLE), {ROUND_SUM}) AS coerced
FROM dirty
"""


# ---------------------------------------------------------------------------
# clean_mode_fill — R7: NULL categoricals -> deterministic column mode
# ---------------------------------------------------------------------------
def _mode_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    dirty = o.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, None)
        .otherwise(F.col("o_orderpriority"))
        .alias("cat"),
    )
    return C.mode_fill(dirty, ["cat"])


_MODE_FILL_SQL = """
WITH dirty AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderpriority END AS cat
  FROM orders),
m AS (
  SELECT cat AS mode_cat FROM dirty WHERE cat IS NOT NULL
  GROUP BY cat ORDER BY count(*) DESC, cat LIMIT 1)
SELECT o_orderkey, coalesce(cat, (SELECT mode_cat FROM m)) AS cat FROM dirty
"""


# ---------------------------------------------------------------------------
# clean_median_fill — R8: NULL numerics -> exact interpolated median
# ---------------------------------------------------------------------------
def _median_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    dirty = li.select(
        "l_orderkey",
        "l_linenumber",
        F.when((F.col("l_orderkey") + F.col("l_linenumber")) % 11 == 0, None)
        .otherwise(F.col("l_quantity"))
        .alias("qty"),
    )
    return C.median_fill(dirty, ["qty"]).select(
        "l_orderkey", "l_linenumber", F.round("qty", ROUND_SUM).alias("qty")
    )


_MEDIAN_FILL_SQL = f"""
WITH dirty AS (
  SELECT l_orderkey, l_linenumber,
         CASE WHEN (l_orderkey + l_linenumber) % 11 = 0 THEN NULL
              ELSE l_quantity END AS qty
  FROM lineitem)
SELECT l_orderkey, l_linenumber,
       round(coalesce(qty, (SELECT median(qty) FROM dirty)), {ROUND_SUM}) AS qty
FROM dirty
"""


# ---------------------------------------------------------------------------
# clean_iqr_clip — R9: clip to [Q1 - 1.5*IQR, Q3 + 1.5*IQR]
# ---------------------------------------------------------------------------
def _iqr_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", F.col("l_extendedprice").alias("price")
    )
    return C.iqr_clip(li, ["price"]).select(
        "l_orderkey", "l_linenumber", F.round("price", ROUND_SUM).alias("price")
    )


_IQR_CLIP_SQL = f"""
WITH b AS (
  SELECT quantile_cont(l_extendedprice, 0.25) AS q1,
         quantile_cont(l_extendedprice, 0.75) AS q3
  FROM lineitem)
SELECT l_orderkey, l_linenumber,
       round(CASE WHEN l_extendedprice < q1 - 1.5 * (q3 - q1) THEN q1 - 1.5 * (q3 - q1)
                  WHEN l_extendedprice > q3 + 1.5 * (q3 - q1) THEN q3 + 1.5 * (q3 - q1)
                  ELSE l_extendedprice END, {ROUND_SUM}) AS price
FROM lineitem, b
"""


# ---------------------------------------------------------------------------
# clean_null_fraction_drop — R5: columns >50% NULL get their NULL rows dropped
# (col_a 60% NULL -> rows dropped; col_b 10% NULL -> untouched)
# ---------------------------------------------------------------------------
def _null_fraction_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    dirty = o.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 5 < 3, None).otherwise(F.col("o_totalprice")).alias("col_a"),
        F.when(F.col("o_orderkey") % 10 == 0, None).otherwise(F.col("o_totalprice")).alias("col_b"),
    )
    return C.null_fraction_drop(dirty, ["col_a", "col_b"], threshold=0.5)


_NULL_FRAC_SQL = """
WITH dirty AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 5 < 3 THEN NULL ELSE o_totalprice END AS col_a,
         CASE WHEN o_orderkey % 10 = 0 THEN NULL ELSE o_totalprice END AS col_b
  FROM orders),
nf AS (
  SELECT avg(CASE WHEN col_a IS NULL THEN 1.0 ELSE 0.0 END) AS frac_a,
         avg(CASE WHEN col_b IS NULL THEN 1.0 ELSE 0.0 END) AS frac_b
  FROM dirty)
SELECT o_orderkey, col_a, col_b
FROM dirty, nf
WHERE (nf.frac_a <= 0.5 OR col_a IS NOT NULL)
  AND (nf.frac_b <= 0.5 OR col_b IS NOT NULL)
"""


# ---------------------------------------------------------------------------
# clean_variance_filter — R13: keep columns with stddev > 0.01
# ---------------------------------------------------------------------------
def _variance_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").withColumn("const_col", F.lit(1.0))
    cols = ["l_quantity", "l_discount", "l_tax", "const_col"]
    keep = C.variance_filter(li, cols, min_std=0.01)
    return spark.createDataFrame([(c,) for c in sorted(keep)], "kept_column string")


_VARIANCE_SQL = """
WITH s AS (
  SELECT stddev_samp(l_quantity) AS l_quantity,
         stddev_samp(l_discount) AS l_discount,
         stddev_samp(l_tax) AS l_tax,
         stddev_samp(1.0) AS const_col
  FROM lineitem)
SELECT kept_column FROM (
  SELECT 'l_quantity' AS kept_column, l_quantity AS sd FROM s
  UNION ALL SELECT 'l_discount', l_discount FROM s
  UNION ALL SELECT 'l_tax', l_tax FROM s
  UNION ALL SELECT 'const_col', const_col FROM s)
WHERE sd > 0.01
"""


# ---------------------------------------------------------------------------
# clean_full_kernel — the whole reference silver pipeline end-to-end:
# dup/NULL-key injection -> dedup -> 3-layout ts parse + drop -> mode-fill ->
# null-fraction drop -> IQR clip -> median fill (clean_traffic.py:57-131)
# ---------------------------------------------------------------------------
def _full_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from urban_traffic_data_lake_project_spark.sources import spread_to_parallelism

    # the dirty-synthesis projection (three date_format renders per row)
    # is CPU-dense: spread a single-split scan before it (no-op at
    # healthy split counts) instead of rendering on one core
    o = spread_to_parallelism(load_table(spark, sf_dir, "orders"))
    base = o.select(
        F.col("o_orderkey").alias("src_row"),
        F.when(F.col("o_orderkey") % 89 == 1, None).otherwise(F.col("o_orderkey")).alias("k"),
        _dirty_ts_expr().alias("ts_str"),
        F.when(F.col("o_orderkey") % 7 == 0, None).otherwise(F.col("o_orderpriority")).alias("cat"),
        F.when(F.col("o_orderkey") % 13 == 0, F.col("o_totalprice") * 100)
        .when(F.col("o_orderkey") % 17 == 0, None)
        .otherwise(F.col("o_totalprice"))
        .alias("measure"),
    )
    # dup injection in ONE scan (r12 opt): explode a 1- or 2-element array
    # per row instead of unionAll(base, base.filter(...)), which scanned
    # orders (and evaluated the dirty-synthesis projection) twice
    dirty = base.select(
        base["*"],
        F.explode(
            F.when(F.col("src_row") % 97 == 0, F.array(F.lit(0), F.lit(1)))
            .otherwise(F.array(F.lit(0)))
        ).alias("__dup"),
    ).drop("__dup")

    # The three-layout try_to_timestamp parse downstream of the dedup
    # window is the kernel's heaviest per-row work, and AQE coalesces the
    # small window exchange to ~1 MB partitions (a few tasks) before it.
    # In the small regime (input at or below defaultParallelism splits),
    # pre-partition EXPLICITLY by the window key: the window reuses this
    # exchange (same hashpartitioning — no second shuffle), and AQE never
    # coalesces an explicit repartition(N, key), so the parse keeps
    # defaultParallelism tasks. At scale the input has more splits than
    # cores and this branch never fires — AQE stays in charge.
    sc = spark.sparkContext
    if dirty.rdd.getNumPartitions() <= sc.defaultParallelism:
        dirty = dirty.repartition(sc.defaultParallelism, F.col("k"))
    out = C.dedup_by_key(dirty, keys=["k"], tiebreak=["src_row"])
    out = out.withColumn("ts", F.col("ts_str"))
    # persist the post-parse frame: both fit jobs and the consumer read it
    # — without this the dedup window + multi-format parse re-execute per pass
    out = C.fit_clean(C.parse_timestamps(out, "ts").persist(), ["cat"], ["measure"], ())
    return out.select("k", "ts", "cat", F.round("measure", ROUND_SUM).alias("measure"))


_FULL_KERNEL_SQL = f"""
WITH base AS (
  SELECT o_orderkey AS src_row,
         CASE WHEN o_orderkey % 89 = 1 THEN NULL ELSE o_orderkey END AS k,
         {_DIRTY_TS_SQL} AS ts_str,
         CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderpriority END AS cat,
         CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice * 100
              WHEN o_orderkey % 17 = 0 THEN NULL
              ELSE o_totalprice END AS measure
  FROM orders),
dirty AS (SELECT * FROM base UNION ALL SELECT * FROM base WHERE src_row % 97 = 0),
dedup AS (
  SELECT src_row, k, ts_str, cat, measure FROM (
    SELECT *, row_number() OVER (PARTITION BY k ORDER BY src_row) AS rn FROM dirty)
  WHERE rn = 1),
valid AS (
  SELECT k, {_DUCK_PARSE} AS ts, cat, measure FROM dedup
  WHERE {_DUCK_PARSE} IS NOT NULL),
m AS (
  SELECT cat AS mode_cat FROM valid WHERE cat IS NOT NULL
  GROUP BY cat ORDER BY count(*) DESC, cat LIMIT 1),
filled AS (
  SELECT k, ts, coalesce(cat, (SELECT mode_cat FROM m)) AS cat, measure FROM valid),
nf AS (SELECT avg(CASE WHEN measure IS NULL THEN 1.0 ELSE 0.0 END) AS frac FROM filled),
after_nf AS (
  SELECT f.k, f.ts, f.cat, f.measure FROM filled f, nf
  WHERE nf.frac <= 0.5 OR f.measure IS NOT NULL),
b AS (
  SELECT quantile_cont(measure, 0.25) AS q1, quantile_cont(measure, 0.75) AS q3
  FROM after_nf),
clipped AS (
  SELECT k, ts, cat,
         CASE WHEN measure < q1 - 1.5 * (q3 - q1) THEN q1 - 1.5 * (q3 - q1)
              WHEN measure > q3 + 1.5 * (q3 - q1) THEN q3 + 1.5 * (q3 - q1)
              ELSE measure END AS measure
  FROM after_nf, b)
SELECT k, ts, cat,
       round(coalesce(measure, (SELECT median(measure) FROM clipped)), {ROUND_SUM}) AS measure
FROM clipped
"""


REGISTRY: dict[str, QuerySpec] = {
    "clean_timestamp_multiformat": QuerySpec(_timestamp_multiformat, _TS_MULTIFORMAT_SQL, "R2/R4 multi-layout parse + drop", ("cleaning", "defer")),
    "clean_dedup_keyed": QuerySpec(_dedup_keyed, _DEDUP_SQL, "R1 deterministic keep-first dedup", ("cleaning", "defer")),
    "clean_numeric_coercion": QuerySpec(_numeric_coercion, _COERCION_SQL, "R6 mixed-type coercion", ("cleaning", "defer")),
    "clean_mode_fill": QuerySpec(_mode_fill, _MODE_FILL_SQL, "R7 mode fill", ("cleaning", "defer")),
    "clean_median_fill": QuerySpec(_median_fill, _MEDIAN_FILL_SQL, "R8 median fill", ("cleaning", "defer")),
    "clean_iqr_clip": QuerySpec(_iqr_clip, _IQR_CLIP_SQL, "R9 IQR clip", ("cleaning", "defer")),
    "clean_null_fraction_drop": QuerySpec(_null_fraction_drop, _NULL_FRAC_SQL, "R5 conditional null-row drop", ("cleaning", "defer")),
    "clean_variance_filter": QuerySpec(_variance_filter, _VARIANCE_SQL, "R13 low-variance column pruning", ("cleaning", "defer")),
    "clean_full_kernel": QuerySpec(_full_kernel, _FULL_KERNEL_SQL, "full silver cleaning pipeline", ("cleaning", "defer")),
}
