"""Lakehouse operations queries — the table-management / data-ops surface
a production deployment of the reference's medallion lake runs daily:
declarative data-quality expectations, SCD-2 dimension history, and
incremental (mergeable-partial) aggregate maintenance.

Net-new vs the reference (whose quality checks are implicit in pandas
cleaning and whose gold tables are full recomputes); all three are
SQL-expressible and carry full DuckDB oracles.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from urban_traffic_data_lake_project_spark.queries.base import ROUND_STAT, ROUND_SUM, QuerySpec
from urban_traffic_data_lake_project_spark.sources import load_table


# ---------------------------------------------------------------------------
# quality_expectations — dbt-test / Great-Expectations-style declarative
# checks as ONE engine query: referential integrity (anti-join orphan
# counts), key uniqueness, null budgets, and domain-range assertions,
# each as a (name, n_checked, n_violations, pass) row.
#
# Scale shape: each FK check is a broadcast/shuffle anti-join COUNT (no
# row materialization); uniqueness and range checks are single aggregate
# passes; the union is of 1-row aggregates. At 100 TB every check stays
# an aggregation — nothing collects violating rows (a production run
# would add a `LIMIT`ed sample sink per failed expectation).
# ---------------------------------------------------------------------------
def _quality_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")

    fk_orders = orders.join(
        cust.select("c_custkey"), orders["o_custkey"] == cust["c_custkey"], "left_anti"
    ).agg(F.count(F.lit(1)).alias("v"))
    fk_li = li.join(
        orders.select("o_orderkey"), li["l_orderkey"] == orders["o_orderkey"], "left_anti"
    ).agg(F.count(F.lit(1)).alias("v"))
    uniq = orders.agg(
        (F.count(F.lit(1)) - F.count_distinct(F.col("o_orderkey"))).alias("v"),
        F.count(F.lit(1)).alias("n"),
    )
    nulls = cust.agg(
        F.sum(F.col("c_acctbal").isNull().cast("long")).alias("v"),
        F.count(F.lit(1)).alias("n"),
    )
    rng = li.agg(
        F.sum(((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)).cast("long")).alias("v"),
        F.count(F.lit(1)).alias("n"),
    )
    disc = li.agg(
        F.sum(((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)).cast("long")).alias("v"),
        F.count(F.lit(1)).alias("n"),
    )
    n_orders = orders.agg(F.count(F.lit(1)).alias("n"))
    n_li = li.agg(F.count(F.lit(1)).alias("n"))

    # FK checks pair a 1-row count with a 1-row orphan count; everything
    # stays one lazy union of aggregates — nothing executes per check.
    e1 = (
        n_orders.crossJoin(fk_orders)
        .select(
            F.lit("fk_orders_custkey").alias("expectation"),
            F.col("n").alias("n_checked"),
            F.col("v").alias("n_violations"),
            (F.col("v") == 0).cast("int").alias("pass"),
        )
    )
    e2 = (
        n_li.crossJoin(fk_li)
        .select(
            F.lit("fk_lineitem_orderkey").alias("expectation"),
            F.col("n").alias("n_checked"),
            F.col("v").alias("n_violations"),
            (F.col("v") == 0).cast("int").alias("pass"),
        )
    )

    def from_agg(name: str, agg: DataFrame) -> DataFrame:
        return agg.select(
            F.lit(name).alias("expectation"),
            F.col("n").alias("n_checked"),
            F.col("v").alias("n_violations"),
            (F.col("v") == 0).cast("int").alias("pass"),
        )

    out = (
        e1.unionByName(e2)
        .unionByName(from_agg("unique_o_orderkey", uniq))
        .unionByName(from_agg("not_null_c_acctbal", nulls))
        .unionByName(from_agg("range_l_quantity_1_50", rng))
        .unionByName(from_agg("range_l_discount_0_01", disc))
    )
    return out


# Env-hardened oracle (round 5): the r4 driver row was hash-red with rows
# and schema green — a cell value differed only in the driver env. For a
# 6-row integer table that means dtype drift, not logic: DuckDB
# sum(<int>) returns HUGEINT, and a UNION column mixing BIGINT count()
# rows with HUGEINT sum() rows is HUGEINT throughout — which pandas
# converts to float64 ("0.0" vs Spark's long "0" under any normalizer
# that keeps float repr). Every sum is now ::BIGINT so the n_violations
# column is int64 end-to-end; the range literal is an exact DOUBLE cast
# so no decimal-vs-double parse difference across DuckDB versions is
# load-bearing either.
_QUALITY_SQL = """
SELECT 'fk_orders_custkey' AS expectation,
       (SELECT count(*) FROM orders) AS n_checked,
       (SELECT count(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS n_violations,
       CASE WHEN (SELECT count(*) FROM orders o
                  WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) = 0
            THEN 1 ELSE 0 END AS pass
UNION ALL
SELECT 'fk_lineitem_orderkey',
       (SELECT count(*) FROM lineitem),
       (SELECT count(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
       CASE WHEN (SELECT count(*) FROM lineitem l
                  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) = 0
            THEN 1 ELSE 0 END
UNION ALL
SELECT 'unique_o_orderkey', count(*), count(*) - count(DISTINCT o_orderkey),
       CASE WHEN count(*) - count(DISTINCT o_orderkey) = 0 THEN 1 ELSE 0 END
FROM orders
UNION ALL
SELECT 'not_null_c_acctbal', count(*),
       (sum(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END))::BIGINT,
       CASE WHEN sum(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) = 0 THEN 1 ELSE 0 END
FROM customer
UNION ALL
SELECT 'range_l_quantity_1_50', count(*),
       (sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END))::BIGINT,
       CASE WHEN sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) = 0
            THEN 1 ELSE 0 END
FROM lineitem
UNION ALL
SELECT 'range_l_discount_0_01', count(*),
       (sum(CASE WHEN l_discount < CAST(0 AS DOUBLE)
                   OR l_discount > CAST(0.1 AS DOUBLE) THEN 1 ELSE 0 END))::BIGINT,
       CASE WHEN sum(CASE WHEN l_discount < CAST(0 AS DOUBLE)
                      OR l_discount > CAST(0.1 AS DOUBLE) THEN 1 ELSE 0 END) = 0
            THEN 1 ELSE 0 END
FROM lineitem
"""


# ---------------------------------------------------------------------------
# scd2_user_history — slowly-changing-dimension type 2 built from the
# event stream: each user event opens a version valid until the next one
# (valid_to = lead(ts), NULL = current). The warehouse-dimension op the
# reference's lake has no analogue for. One window over (user, ts) —
# no self-join.
# ---------------------------------------------------------------------------
def _scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.row_number().over(w).alias("version"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.lead("ts").over(w).isNull().cast("int").alias("is_current"),
        F.round("value", ROUND_SUM).alias("value"),
    )


_SCD2_SQL = """
SELECT user_id, event_id,
       row_number() OVER w AS version,
       ts AS valid_from,
       lead(ts) OVER w AS valid_to,
       CASE WHEN lead(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_current,
       round(value, 2) AS value
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


# ---------------------------------------------------------------------------
# agg_incremental_maintenance — incremental materialized-aggregate
# maintenance: the standing gold aggregate is kept as MERGEABLE PARTIALS
# (sum, count), a delta batch contributes its own partials, and the
# refreshed aggregate is partial-merge only — the delta-sized cost that
# replaces a full-table rescan at 100 TB. avg is derived from the merged
# partials (never averaged averages). The oracle computes the full-table
# aggregate directly: merge == recompute, exactly.
# ---------------------------------------------------------------------------
def _incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") % 10 != 0)   # standing table
    delta = orders.filter(F.col("o_orderkey") % 10 == 0)  # arriving batch

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.sum("o_totalprice").alias("__s"), F.count(F.lit(1)).alias("__n")
        )

    merged = (
        partials(base)
        .unionByName(partials(delta))
        .groupBy("o_orderpriority")
        .agg(F.sum("__s").alias("__s"), F.sum("__n").alias("__n"))
    )
    return merged.select(
        "o_orderpriority",
        F.col("__n").alias("n_orders"),
        F.round("__s", ROUND_SUM).alias("total_price"),
        F.round(F.col("__s") / F.col("__n"), ROUND_STAT).alias("avg_price"),
    )


_INCREMENTAL_SQL = f"""
SELECT o_orderpriority,
       count(*) AS n_orders,
       round(sum(o_totalprice), {ROUND_SUM}) AS total_price,
       round(sum(o_totalprice) / count(*), {ROUND_STAT}) AS avg_price
FROM orders GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# lakehouse_merge_upsert — MERGE INTO semantics relationally: a per-user
# profile snapshot built from the first 20 days of events receives the
# last-10-day delta batch through operators.merge.merge_upsert — matched
# keys UPDATE by combining both sides (counts add, sums add, last_ts
# takes the max), delta-only keys INSERT, untouched keys KEEP — with a
# merge_action audit column. One full-outer join on the key, the plan
# Delta/Iceberg MERGE INTO compiles to.
# ---------------------------------------------------------------------------
_MERGE_CUTOFF = "2024-01-21"


def _merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from urban_traffic_data_lake_project_spark.operators.merge import merge_upsert

    e = load_table(spark, sf_dir, "events")

    def profile(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
            F.max("ts").alias("last_ts"),
        )

    target = profile(e.filter(F.col("ts") < F.lit(_MERGE_CUTOFF).cast("timestamp")))
    source = profile(e.filter(F.col("ts") >= F.lit(_MERGE_CUTOFF).cast("timestamp")))
    merged = merge_upsert(
        target,
        source,
        ["user_id"],
        combine={
            "n_events": lambda t, s: t + s,
            "sum_value": lambda t, s: t + s,
            "last_ts": lambda t, s: F.greatest(t, s),
        },
    )
    return merged.select(
        "user_id",
        "n_events",
        F.round("sum_value", ROUND_SUM).alias("sum_value"),
        "last_ts",
        "merge_action",
    )


_MERGE_UPSERT_SQL = f"""
WITH t AS (
  SELECT user_id, count(*) AS n, sum(value) AS s, max(ts) AS m
  FROM events WHERE ts < TIMESTAMP '{_MERGE_CUTOFF}' GROUP BY user_id),
d AS (
  SELECT user_id, count(*) AS n, sum(value) AS s, max(ts) AS m
  FROM events WHERE ts >= TIMESTAMP '{_MERGE_CUTOFF}' GROUP BY user_id)
SELECT coalesce(t.user_id, d.user_id) AS user_id,
       CASE WHEN t.user_id IS NOT NULL AND d.user_id IS NOT NULL THEN t.n + d.n
            ELSE coalesce(d.n, t.n) END AS n_events,
       round(CASE WHEN t.user_id IS NOT NULL AND d.user_id IS NOT NULL THEN t.s + d.s
                  ELSE coalesce(d.s, t.s) END, {ROUND_SUM}) AS sum_value,
       CASE WHEN t.user_id IS NOT NULL AND d.user_id IS NOT NULL THEN greatest(t.m, d.m)
            ELSE coalesce(d.m, t.m) END AS last_ts,
       CASE WHEN t.user_id IS NOT NULL AND d.user_id IS NOT NULL THEN 'update'
            WHEN d.user_id IS NOT NULL THEN 'insert'
            ELSE 'keep' END AS merge_action
FROM t FULL OUTER JOIN d ON t.user_id = d.user_id
"""


# ---------------------------------------------------------------------------
# lakehouse_time_travel — VERSION AS OF over the raw-parquet versioned
# table: three chronological upsert epochs (10-day event slices, keep-
# latest-profile-per-user), then every historical version is read back
# and summarized. A user's profile at version v is their profile from
# the LAST epoch <= v in which they appeared — exactly what the oracle
# replays with a batch-rank window. Proves versions stay queryable after
# the pointer advances (the audit/debug/reproducibility read path).
# ---------------------------------------------------------------------------
_TT_CUTS = ("2024-01-11", "2024-01-21")


# one versioned-table build per (process, sf_dir): lakehouse_time_travel
# and lakehouse_cdc_diff read the same three epochs, and a bench or
# correctness sweep invokes each several times — without the cache every
# call would mkdtemp a new directory and replay the upserts, leaking temp
# dirs for the life of the machine. atexit removes whatever was built.
_VERSIONED_DIRS: dict[str, str] = {}


def _cleanup_versioned_dirs() -> None:
    import shutil

    for d in _VERSIONED_DIRS.values():
        shutil.rmtree(d, ignore_errors=True)
    _VERSIONED_DIRS.clear()


def _build_versioned_profiles(spark: SparkSession, sf_dir: str) -> str:
    """Apply the three 10-day event-slice epochs through the upsert sink
    into a per-(process, sf_dir) temp table dir; returns the dir
    (versions 0..2)."""
    import atexit
    import tempfile

    from urban_traffic_data_lake_project_spark.streaming.sinks import (
        foreach_batch_upsert,
    )

    import os

    # key includes the source fingerprint so regenerated parquet at the
    # same path invalidates the build (same rule as the bucketed gate
    # tables in queries/core.py)
    st = os.stat(os.path.join(sf_dir, "events.parquet"))
    cache_key = f"{sf_dir}|{st.st_size}|{st.st_mtime_ns}"
    cached = _VERSIONED_DIRS.get(cache_key)
    if cached is not None:
        return cached
    if not _VERSIONED_DIRS:
        atexit.register(_cleanup_versioned_dirs)

    e = load_table(spark, sf_dir, "events")
    c1 = F.lit(_TT_CUTS[0]).cast("timestamp")
    c2 = F.lit(_TT_CUTS[1]).cast("timestamp")
    slices = [
        e.filter(F.col("ts") < c1),
        e.filter((F.col("ts") >= c1) & (F.col("ts") < c2)),
        e.filter(F.col("ts") >= c2),
    ]
    table_dir = tempfile.mkdtemp(prefix="spark_graft_timetravel_")
    sink = foreach_batch_upsert(table_dir, ["user_id"], "last_ts")
    for bid, sl in enumerate(slices):
        profile = sl.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
            F.max("ts").alias("last_ts"),
        )
        sink(profile, bid)
    _VERSIONED_DIRS[cache_key] = table_dir
    return table_dir


def _time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from urban_traffic_data_lake_project_spark.streaming.sinks import (
        list_versions,
        read_version,
    )

    table_dir = _build_versioned_profiles(spark, sf_dir)
    summaries = [
        read_version(spark, table_dir, v).agg(
            F.lit(v).cast("bigint").alias("version"),
            F.count(F.lit(1)).alias("n_users"),
            F.sum("n_events").alias("tot_events"),
            F.round(F.sum("sum_value"), ROUND_SUM).alias("tot_value"),
        )
        for v in list_versions(table_dir)
    ]
    out = summaries[0]
    for m in summaries[1:]:
        out = out.unionByName(m)
    return out


_TIME_TRAVEL_SQL = f"""
WITH p AS (
  SELECT user_id,
         CASE WHEN ts < TIMESTAMP '{_TT_CUTS[0]}' THEN 0
              WHEN ts < TIMESTAMP '{_TT_CUTS[1]}' THEN 1
              ELSE 2 END AS b,
         count(*) AS n_events, sum(value) AS sum_value
  FROM events GROUP BY 1, 2),
vs AS (SELECT unnest(range(0, 3)) AS version),
latest AS (
  SELECT v.version, p.user_id, p.n_events, p.sum_value,
         row_number() OVER (PARTITION BY v.version, p.user_id
                            ORDER BY p.b DESC) AS rn
  FROM vs v JOIN p ON p.b <= v.version)
SELECT version, count(*)::BIGINT AS n_users,
       sum(n_events)::BIGINT AS tot_events,
       round(sum(sum_value), {ROUND_SUM}) AS tot_value
FROM latest WHERE rn = 1
GROUP BY version
"""


# ---------------------------------------------------------------------------
# lakehouse_cdc_diff — change data capture between committed versions:
# per step, how many keys were inserted vs updated (upserts never
# delete; the delete path is unit-tested on synthetic frames). The
# downstream-sync read pattern: consumers pull version deltas instead of
# re-scanning the table.
# ---------------------------------------------------------------------------
def _cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from urban_traffic_data_lake_project_spark.streaming.sinks import version_diff

    table_dir = _build_versioned_profiles(spark, sf_dir)
    parts = []
    for v_from, v_to in ((0, 1), (1, 2)):
        parts.append(
            version_diff(spark, table_dir, v_from, v_to, ["user_id"])
            .groupBy("change_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.lit(f"v{v_from}->v{v_to}").alias("step"), "change_type", "n")
        )
    return parts[0].unionByName(parts[1])


_CDC_DIFF_SQL = f"""
WITH p AS (
  SELECT user_id,
         CASE WHEN ts < TIMESTAMP '{_TT_CUTS[0]}' THEN 0
              WHEN ts < TIMESTAMP '{_TT_CUTS[1]}' THEN 1
              ELSE 2 END AS b,
         count(*) AS n_events, sum(value) AS sum_value, max(ts) AS last_ts
  FROM events GROUP BY 1, 2),
vs AS (SELECT unnest(range(0, 3)) AS version),
states AS (
  SELECT version, user_id, n_events, sum_value, last_ts
  FROM (SELECT v.version, p.user_id, p.n_events, p.sum_value, p.last_ts,
               row_number() OVER (PARTITION BY v.version, p.user_id
                                  ORDER BY p.b DESC) AS rn
        FROM vs v JOIN p ON p.b <= v.version)
  WHERE rn = 1),
d AS (
  SELECT 'v0->v1' AS step,
         CASE WHEN o.user_id IS NULL THEN 'insert'
              WHEN n.user_id IS NULL THEN 'delete'
              WHEN o.n_events IS DISTINCT FROM n.n_events
                OR o.sum_value IS DISTINCT FROM n.sum_value
                OR o.last_ts IS DISTINCT FROM n.last_ts THEN 'update'
              ELSE 'none' END AS change_type
  FROM (SELECT * FROM states WHERE version = 0) o
  FULL JOIN (SELECT * FROM states WHERE version = 1) n ON o.user_id = n.user_id
  UNION ALL
  SELECT 'v1->v2' AS step,
         CASE WHEN o.user_id IS NULL THEN 'insert'
              WHEN n.user_id IS NULL THEN 'delete'
              WHEN o.n_events IS DISTINCT FROM n.n_events
                OR o.sum_value IS DISTINCT FROM n.sum_value
                OR o.last_ts IS DISTINCT FROM n.last_ts THEN 'update'
              ELSE 'none' END AS change_type
  FROM (SELECT * FROM states WHERE version = 1) o
  FULL JOIN (SELECT * FROM states WHERE version = 2) n ON o.user_id = n.user_id)
SELECT step, change_type, count(*)::BIGINT AS n
FROM d WHERE change_type <> 'none'
GROUP BY step, change_type
"""


# ---------------------------------------------------------------------------
# privacy_l_diversity — the audit k-anonymity alone cannot do: a group can
# be k-large yet reveal everyone's sensitive value if the group is
# homogeneous. Per quasi-identifier group (nation, market segment) over
# the sensitive attribute (account-balance band), report group size,
# distinct-l, Shannon entropy of the sensitive distribution, and both
# distinct-l and entropy-l pass flags (entropy l-diversity per
# Machanavajjhala et al. 2006: H(group) >= ln(l)).
#
# Scale shape: two chained aggregations (quasi+band counts, then a
# per-quasi rollup) — both map-side-combinable shuffles keyed on the
# quasi columns; no joins, no row materialization. At 100 TB this is
# the same two-exchange plan.
# ---------------------------------------------------------------------------
_LDIV_L = 3
_LDIV_BAND = 2000.0  # acctbal band width — the sensitive attribute


def _l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    banded = cust.select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / F.lit(_LDIV_BAND)).cast("int").alias("__band"),
    )
    per_band = banded.groupBy("c_nationkey", "c_mktsegment", "__band").agg(
        F.count(F.lit(1)).alias("__c")
    )
    c = F.col("__c").cast("double")
    per_group = per_band.groupBy("c_nationkey", "c_mktsegment").agg(
        F.sum("__c").alias("n_rows"),
        F.count(F.lit(1)).alias("distinct_sensitive"),
        F.sum(c * F.log(c)).alias("__clnc"),
    )
    n = F.col("n_rows").cast("double")
    entropy = F.log(n) - F.col("__clnc") / n
    return per_group.select(
        "c_nationkey",
        "c_mktsegment",
        "n_rows",
        "distinct_sensitive",
        (F.round(entropy, ROUND_STAT) + F.lit(0.0)).alias("entropy"),
        (F.col("distinct_sensitive") >= _LDIV_L).alias("distinct_l_ok"),
        (entropy >= math.log(_LDIV_L) - 1e-9).alias("entropy_l_ok"),
    )


_LDIV_SQL = f"""
WITH banded AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(floor(c_acctbal / {_LDIV_BAND}) AS INT) AS band
  FROM customer),
per_band AS (
  SELECT c_nationkey, c_mktsegment, band, count(*) AS c
  FROM banded GROUP BY 1, 2, 3),
per_group AS (
  SELECT c_nationkey, c_mktsegment,
         sum(c)::BIGINT AS n_rows,
         count(*)::BIGINT AS distinct_sensitive,
         sum(c::DOUBLE * ln(c::DOUBLE)) AS clnc
  FROM per_band GROUP BY 1, 2)
SELECT c_nationkey, c_mktsegment, n_rows, distinct_sensitive,
       round(ln(n_rows::DOUBLE) - clnc / n_rows, {ROUND_STAT}) + 0.0 AS entropy,
       distinct_sensitive >= {_LDIV_L} AS distinct_l_ok,
       (ln(n_rows::DOUBLE) - clnc / n_rows) >= ln({_LDIV_L}) - 1e-9 AS entropy_l_ok
FROM per_group
"""


# ---------------------------------------------------------------------------
# lakehouse_skipping_stats — the data-skipping effectiveness advisor: how
# many "files" a range predicate can prune from the zone maps (per-file
# min/max, what parquet footers / Delta-Iceberg manifests store), compared
# across two physical layouts of the SAME rows — ingestion order
# (orderkey-range files: shipdate correlates loosely, zone maps are wide)
# vs shipdate-clustered files (what a ZORDER/OPTIMIZE maintenance job
# produces: tight zones, most files prune). The read-amplification column
# is the number the maintenance job is judged by.
#
# Scale shape: the file tag is arithmetic on each row (no shuffle); zone
# maps are one map-side-combinable groupBy per layout over ~file-count
# groups; the verdict is an aggregation over file-count rows. Bounds are
# a bounded driver collect (3 scalars), the same fit/score split as
# layout.column_bounds. At 100 TB: two scans, two tiny shuffles.
# ---------------------------------------------------------------------------
_SKIP_FILES = 32           # simulated file count per layout
_SKIP_SEL_START_PCT = 45   # predicate window start, % into the day span
_SKIP_SEL_DAYS = 30        # predicate window width (days)


def _skipping_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.datediff("l_shipdate", F.lit("1970-01-01").cast("date")).alias("__day"),
    )
    b = li.agg(
        F.max("l_orderkey").alias("mx"),
        F.min("__day").alias("d0"),
        F.max("__day").alias("d1"),
    ).first()
    mx, d0, d1 = int(b["mx"]), int(b["d0"]), int(b["d1"])
    span = d1 - d0 + 1
    lo = d0 + (span * _SKIP_SEL_START_PCT) // 100
    hi = lo + _SKIP_SEL_DAYS - 1
    rows_matched = li.filter(F.col("__day").between(lo, hi)).count()

    # integer range-bucket file ids — exact arithmetic, no float edge
    layouts = {
        "ingest_orderkey": F.expr(f"CAST(l_orderkey * {_SKIP_FILES} DIV {mx + 1} AS INT)"),
        "clustered_shipdate": F.expr(
            f"CAST((__day - {d0}) * {_SKIP_FILES} DIV {span} AS INT)"
        ),
    }
    per_layout = []
    for name, file_id in layouts.items():
        zones = li.groupBy(file_id.alias("__file")).agg(
            F.min("__day").alias("__mn"),
            F.max("__day").alias("__mx"),
            F.count(F.lit(1)).alias("__c"),
        )
        scanned = ~((F.col("__mx") < lo) | (F.col("__mn") > hi))
        per_layout.append(
            zones.agg(
                F.lit(name).alias("layout"),
                F.count(F.lit(1)).alias("n_files"),
                F.sum(scanned.cast("bigint")).alias("files_scanned"),
                F.sum(F.when(scanned, F.col("__c")).otherwise(F.lit(0))).alias(
                    "rows_scanned"
                ),
            )
        )
    out = per_layout[0].unionByName(per_layout[1])
    return out.select(
        "layout",
        "n_files",
        "files_scanned",
        F.round(
            F.lit(1.0) - F.col("files_scanned") / F.col("n_files"), ROUND_STAT
        ).alias("skip_ratio"),
        "rows_scanned",
        F.lit(rows_matched).alias("rows_matched"),
        F.round(F.col("rows_scanned") / F.lit(float(rows_matched)), ROUND_STAT).alias(
            "read_amplification"
        ),
    )


_SKIPPING_SQL = f"""
WITH li AS (
  SELECT l_orderkey,
         date_diff('day', DATE '1970-01-01', l_shipdate) AS day
  FROM lineitem),
b AS (
  SELECT max(l_orderkey) AS mx, min(day) AS d0, max(day) AS d1,
         max(day) - min(day) + 1 AS span
  FROM li),
sel AS (
  SELECT d0 + (span * {_SKIP_SEL_START_PCT}) // 100 AS lo,
         d0 + (span * {_SKIP_SEL_START_PCT}) // 100 + {_SKIP_SEL_DAYS} - 1 AS hi
  FROM b),
m AS (SELECT count(*)::BIGINT AS rows_matched FROM li, sel
      WHERE day BETWEEN lo AND hi),
tagged AS (
  SELECT day,
         CAST((l_orderkey * {_SKIP_FILES}) // (mx + 1) AS INT) AS f_ing,
         CAST(((day - d0) * {_SKIP_FILES}) // span AS INT) AS f_clu
  FROM li, b),
z AS (
  SELECT 'ingest_orderkey' AS layout, f_ing AS file_id,
         min(day) AS mn, max(day) AS mx2, count(*) AS c
  FROM tagged GROUP BY 2
  UNION ALL
  SELECT 'clustered_shipdate' AS layout, f_clu AS file_id,
         min(day) AS mn, max(day) AS mx2, count(*) AS c
  FROM tagged GROUP BY 2),
agg AS (
  SELECT layout,
         count(*)::BIGINT AS n_files,
         sum(CASE WHEN NOT (mx2 < lo OR mn > hi) THEN 1 ELSE 0 END)::BIGINT
           AS files_scanned,
         sum(CASE WHEN NOT (mx2 < lo OR mn > hi) THEN c ELSE 0 END)::BIGINT
           AS rows_scanned
  FROM z, sel GROUP BY layout)
SELECT layout, n_files, files_scanned,
       round(1.0 - files_scanned / n_files::DOUBLE, {ROUND_STAT}) AS skip_ratio,
       rows_scanned, rows_matched,
       round(rows_scanned / rows_matched::DOUBLE, {ROUND_STAT})
         AS read_amplification
FROM agg, m
"""


# ---------------------------------------------------------------------------
# lakehouse_compaction_plan — the OPTIMIZE planning step: given the
# small-file inventory a streaming/CDC ingest leaves behind (simulated
# here as orderkey-range slivers), assign input files to output groups by
# cumulative size against a target file size, preserving key order so the
# rewrite keeps the clustering. Output: one row per planned output file
# with its input-file span, rows, and fill ratio — the artifact a
# maintenance service would hand to the rewrite job.
#
# Scale shape: the cumulative-sum window runs over the FILE INVENTORY
# (metadata — thousands of rows when the table is petabytes), not data;
# the single-partition window is therefore bounded by design, and the
# per-file stats aggregation underneath is the same map-side-combinable
# groupBy as the zone-map queries.
# ---------------------------------------------------------------------------
_COMPACT_SLIVER = 64   # input sliver: orderkeys per "file" (many small files)
_COMPACT_TARGET = 8192  # target rows per compacted output file


def _compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    files = li.groupBy(
        F.expr(f"l_orderkey DIV {_COMPACT_SLIVER}").alias("file_id")
    ).agg(F.count(F.lit(1)).alias("n_rows"))
    w = Window.orderBy("file_id").rowsBetween(Window.unboundedPreceding, -1)
    # integer division end-to-end — no float cast/round edge cross-engine
    planned = files.select(
        "file_id",
        "n_rows",
        F.coalesce(F.sum("n_rows").over(w), F.lit(0)).alias("__cum"),
    ).select(
        "file_id",
        "n_rows",
        F.expr(f"__cum DIV {_COMPACT_TARGET}").alias("out_file"),
    )
    return planned.groupBy("out_file").agg(
        F.count(F.lit(1)).alias("n_input_files"),
        F.sum("n_rows").alias("n_rows"),
        F.min("file_id").alias("first_input"),
        F.max("file_id").alias("last_input"),
        F.round(F.sum("n_rows") / F.lit(float(_COMPACT_TARGET)), ROUND_STAT).alias(
            "fill_ratio"
        ),
    )


_COMPACTION_SQL = f"""
WITH files AS (
  SELECT l_orderkey // {_COMPACT_SLIVER} AS file_id,
         count(*) AS n_rows
  FROM lineitem GROUP BY 1),
planned AS (
  SELECT file_id, n_rows,
         -- ::BIGINT: the window sum is HUGEINT, which pandas would
         -- surface as float64 (the r4 driver-red drift)
         (coalesce(sum(n_rows) OVER (ORDER BY file_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              // {_COMPACT_TARGET})::BIGINT AS out_file
  FROM files)
SELECT out_file, count(*)::BIGINT AS n_input_files, sum(n_rows)::BIGINT AS n_rows,
       min(file_id) AS first_input, max(file_id) AS last_input,
       round(sum(n_rows) / {float(_COMPACT_TARGET)}, {ROUND_STAT}) AS fill_ratio
FROM planned GROUP BY out_file
"""


# ---------------------------------------------------------------------------
# privacy_k_anonymity — suppression to a k-anonymity floor over the
# customer quasi-identifiers (nation, market segment): after NULLing the
# quasi-columns of rows in groups smaller than k, every remaining
# combination appears >= k times. Summary row proves the invariant.
# ---------------------------------------------------------------------------
_KANON_K = 8
_KANON_QUASI = ("c_nationkey", "c_mktsegment")


def _k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from urban_traffic_data_lake_project_spark.operators.cleaning import k_anonymize

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", *_KANON_QUASI
    )
    anon = k_anonymize(cust, list(_KANON_QUASI), k=_KANON_K)
    counts = anon.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("suppressed").cast("bigint")).alias("n_suppressed"),
    )
    before = (
        cust.groupBy(*_KANON_QUASI)
        .agg(F.count(F.lit(1)).alias("__n"))
        .agg(F.count(F.lit(1)).alias("n_groups_before"))
    )
    after = (
        anon.where(~F.col("suppressed"))
        .groupBy(*_KANON_QUASI)
        .agg(F.count(F.lit(1)).alias("__n"))
        .agg(
            F.count(F.lit(1)).alias("n_groups_after"),
            F.coalesce(F.min("__n"), F.lit(0)).alias("min_group_after"),
        )
    )
    return counts.crossJoin(before).crossJoin(after)


_KANON_SQL = f"""
WITH g AS (
  SELECT c_nationkey, c_mktsegment, count(*) AS n
  FROM customer GROUP BY 1, 2)
SELECT (SELECT count(*) FROM customer)::BIGINT AS n_rows,
       (SELECT coalesce(sum(CASE WHEN n < {_KANON_K} THEN n ELSE 0 END), 0)
        FROM g)::BIGINT AS n_suppressed,
       (SELECT count(*) FROM g)::BIGINT AS n_groups_before,
       (SELECT count(*) FROM g WHERE n >= {_KANON_K})::BIGINT AS n_groups_after,
       (SELECT coalesce(min(n), 0) FROM g WHERE n >= {_KANON_K})::BIGINT
         AS min_group_after
"""


# ---------------------------------------------------------------------------
# privacy_dp_counts — differentially-private release of group counts
# (r11): Laplace(1/eps) noise added to each event-type count via inverse
# CDF over a seeded-hash uniform (the bootstrap/scalar_random machinery),
# so the oracle replays the noise stream bit-for-bit. HONESTY NOTE: a
# deterministic per-key seed makes the mechanism replayable for TESTING —
# the noise is Laplace-distributed across keys, but a production DP
# release must draw fresh entropy per release (a fixed seed leaks via
# repeat queries); the operator exists to pin the mechanism's arithmetic
# and sensitivity bookkeeping, not as a privacy guarantee by itself.
# ---------------------------------------------------------------------------
_DP_EPS = 1.0
_DP_POW60 = float(1 << 60)


def _dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from urban_traffic_data_lake_project_spark.functions.core import stable_hash64

    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("__n"))
    u = stable_hash64(F.col("event_type"), salt="dp|").cast("double") / F.lit(
        _DP_POW60
    )
    # Laplace inverse CDF at scale b = sensitivity/eps = 1/eps (count
    # queries have L1 sensitivity 1): -b * sign(u-1/2) * ln(1 - 2|u-1/2|)
    lap = (
        -F.lit(1.0 / _DP_EPS)
        * F.signum(u - F.lit(0.5))
        * F.log(F.lit(1.0) - 2.0 * F.abs(u - F.lit(0.5)))
    )
    return counts.select(
        "event_type",
        F.round(F.col("__n") + lap, 4).alias("noisy_count"),
        F.lit(_DP_EPS).alias("epsilon"),
    )


_DP_COUNTS_SQL = f"""
WITH counts AS (
  SELECT event_type, count(*)::DOUBLE AS n FROM events GROUP BY 1),
noised AS (
  SELECT event_type, n,
         ('0x' || substr(md5('dp|' || event_type), 1, 15))::UBIGINT::DOUBLE
           / {_DP_POW60!r} AS u
  FROM counts)
SELECT event_type,
       round(n + (-{1.0 / _DP_EPS!r} * sign(u - 0.5)
                  * ln(1.0 - 2.0 * abs(u - 0.5))), 4) AS noisy_count,
       {_DP_EPS!r} AS epsilon
FROM noised
"""


# ---------------------------------------------------------------------------
# lakehouse_zorder_codes — multi-dimensional clustering codes (the
# Delta/Iceberg ZORDER BY maintenance job): Morton-interleave of the
# min-max-scaled (l_partkey, l_suppkey) pair, summarized per top-8-bit
# z-bucket. The code is the EXACT arithmetic a clustered rewrite sorts
# by — deterministic (no sampling), so the oracle replays it
# bit-for-bit.
# ---------------------------------------------------------------------------
_Z_BITS = 16


def _zorder_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from urban_traffic_data_lake_project_spark.operators.layout import (
        column_bounds,
        with_morton_code,
    )

    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    bounds = column_bounds(li, ["l_partkey", "l_suppkey"])
    coded = with_morton_code(li, "l_partkey", "l_suppkey", bounds, bits=_Z_BITS)
    return (
        coded.groupBy(
            F.shiftright("morton", 2 * _Z_BITS - 8).alias("zbucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("morton").alias("morton_lo"),
            F.max("morton").alias("morton_hi"),
        )
    )


def _zorder_scale_sql(col: str, lo: str, hi: str) -> str:
    top = (1 << _Z_BITS) - 1
    return (
        f"least(CAST({top} AS BIGINT), greatest(CAST(0 AS BIGINT), "
        f"CAST(floor((({col} - {lo}) / ({hi} - {lo})) * {top}) AS BIGINT)))"
    )


def _zorder_interleave_sql(za: str, zb: str) -> str:
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((({za} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({zb} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


_ZORDER_SQL = f"""
WITH b AS (
  SELECT min(l_partkey) AS alo, max(l_partkey) AS ahi,
         min(l_suppkey) AS blo, max(l_suppkey) AS bhi
  FROM lineitem),
scaled AS (
  SELECT {_zorder_scale_sql('l_partkey', 'b.alo', 'b.ahi')} AS za,
         {_zorder_scale_sql('l_suppkey', 'b.blo', 'b.bhi')} AS zb
  FROM lineitem, b),
coded AS (
  SELECT ({_zorder_interleave_sql('za', 'zb')})::BIGINT AS morton FROM scaled)
SELECT (morton >> {2 * _Z_BITS - 8})::BIGINT AS zbucket,
       count(*)::BIGINT AS n_rows,
       min(morton)::BIGINT AS morton_lo,
       max(morton)::BIGINT AS morton_hi
FROM coded GROUP BY 1
"""


# ---------------------------------------------------------------------------
# lakehouse_hilbert_codes — Hilbert-curve clustering codes (the
# higher-locality sibling of lakehouse_zorder_codes: consecutive codes
# are always grid NEIGHBORS, so a clustered write packs each file into a
# compact 2-D region instead of Morton's power-of-two jump pattern —
# the reason Delta liquid clustering / Iceberg moved past ZORDER). Same
# deterministic scale step, then the standard xy2d rotation unrolled one
# bit-level per projection; the oracle replays every level bit-for-bit
# via MATERIALIZED per-level CTEs (each level references the previous
# ONCE — materialization also stops column-expression inlining from
# duplicating the 6-reference state columns into a 6^bits blowup).
# ---------------------------------------------------------------------------
def _hilbert_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from urban_traffic_data_lake_project_spark.operators.layout import (
        column_bounds,
        with_hilbert_code,
    )

    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    bounds = column_bounds(li, ["l_partkey", "l_suppkey"])
    coded = with_hilbert_code(li, "l_partkey", "l_suppkey", bounds, bits=_Z_BITS)
    return coded.groupBy(
        F.shiftright("hilbert", 2 * _Z_BITS - 8).alias("hbucket")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("hilbert").alias("hilbert_lo"),
        F.max("hilbert").alias("hilbert_hi"),
    )


def _hilbert_levels_sql(bits: int) -> tuple[str, str]:
    n = 1 << bits
    ctes = []
    prev = "l_init"
    for k, level in enumerate(range(bits - 1, -1, -1)):
        s = 1 << level
        rx = f"((hx >> {level}) & 1)"
        ry = f"((hy >> {level}) & 1)"
        step = f"((3 * {rx} + {ry} - 2 * {rx} * {ry}) * {s * s})"
        new_x = f"CASE WHEN {ry} = 1 THEN hx WHEN {rx} = 1 THEN {n - 1} - hy ELSE hy END"
        new_y = f"CASE WHEN {ry} = 1 THEN hy WHEN {rx} = 1 THEN {n - 1} - hx ELSE hx END"
        ctes.append(
            f"l{k} AS MATERIALIZED (SELECT (hd + {step})::BIGINT AS hd, "
            f"({new_x})::BIGINT AS hx, ({new_y})::BIGINT AS hy FROM {prev})"
        )
        prev = f"l{k}"
    return ",\n".join(ctes), prev


_HILBERT_LEVELS, _HILBERT_LAST = _hilbert_levels_sql(_Z_BITS)

_HILBERT_SQL = f"""
WITH b AS (
  SELECT min(l_partkey) AS alo, max(l_partkey) AS ahi,
         min(l_suppkey) AS blo, max(l_suppkey) AS bhi
  FROM lineitem),
l_init AS MATERIALIZED (
  SELECT {_zorder_scale_sql('l_partkey', 'b.alo', 'b.ahi')} AS hx,
         {_zorder_scale_sql('l_suppkey', 'b.blo', 'b.bhi')} AS hy,
         0::BIGINT AS hd
  FROM lineitem, b),
{_HILBERT_LEVELS}
SELECT (hd >> {2 * _Z_BITS - 8})::BIGINT AS hbucket,
       count(*)::BIGINT AS n_rows,
       min(hd)::BIGINT AS hilbert_lo,
       max(hd)::BIGINT AS hilbert_hi
FROM {_HILBERT_LAST} GROUP BY 1
"""


REGISTRY: dict[str, QuerySpec] = {
    "lakehouse_zorder_codes": QuerySpec(
        _zorder_codes, _ZORDER_SQL,
        "Z-order (Morton) clustering codes for 2-D data skipping, per z-bucket",
        ("lakehouse",),
    ),
    "lakehouse_hilbert_codes": QuerySpec(
        _hilbert_codes, _HILBERT_SQL,
        "Hilbert-curve clustering codes (higher-locality ZORDER sibling), per h-bucket",
        ("lakehouse",),
    ),
    "privacy_dp_counts": QuerySpec(
        _dp_counts, _DP_COUNTS_SQL,
        "Laplace-mechanism DP group counts with seeded-hash replayable noise (testing posture documented)",
        ("lakehouse", "privacy"),
    ),
    "privacy_k_anonymity": QuerySpec(
        _k_anonymity, _KANON_SQL,
        "k-anonymity suppression over quasi-identifiers with invariant summary",
        ("lakehouse", "diagnostics", "cleaning"),
    ),
    "privacy_l_diversity": QuerySpec(
        _l_diversity, _LDIV_SQL,
        "entropy l-diversity audit per quasi-identifier group (distinct + entropy flags)",
        ("lakehouse", "diagnostics"),
    ),
    "lakehouse_skipping_stats": QuerySpec(
        _skipping_stats, _SKIPPING_SQL,
        "zone-map data-skipping effectiveness: ingest vs clustered layout read amplification",
        ("lakehouse", "diagnostics"),
    ),
    "lakehouse_compaction_plan": QuerySpec(
        _compaction_plan, _COMPACTION_SQL,
        "OPTIMIZE planning: key-ordered bin-packing of small files to a target size",
        ("lakehouse",),
    ),
    "lakehouse_cdc_diff": QuerySpec(
        _cdc_diff, _CDC_DIFF_SQL,
        "CDC between table versions: insert/update counts per epoch step",
        ("lakehouse",),
    ),
    "lakehouse_time_travel": QuerySpec(
        _time_travel, _TIME_TRAVEL_SQL,
        "VERSION AS OF reads over the versioned upsert table (3 epochs)",
        ("lakehouse",),
    ),
    "lakehouse_merge_upsert": QuerySpec(
        _merge_upsert, _MERGE_UPSERT_SQL,
        "MERGE INTO semantics: full-outer upsert with combine rules + audit column",
        ("lakehouse", "join", "defer"),
    ),
    "quality_expectations": QuerySpec(
        _quality_expectations, _QUALITY_SQL,
        "declarative data-quality checks: FK orphans, uniqueness, nulls, ranges",
        ("lakehouse", "diagnostics", "defer"),
    ),
    "scd2_user_history": QuerySpec(
        _scd2_history, _SCD2_SQL,
        "SCD-2 dimension history: versioned validity intervals per user",
        ("lakehouse", "window", "defer"),
    ),
    "agg_incremental_maintenance": QuerySpec(
        _incremental_agg, _INCREMENTAL_SQL,
        "incremental aggregate maintenance: partial-merge == full recompute",
        ("lakehouse", "agg", "defer"),
    ),
}
