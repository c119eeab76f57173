"""Window functions, event-time windows, sessionization, as-of join, JSON
scalar functions, and the reference's merge stage — over ``events`` /
``orders`` / ``lineitem``.

Window-function support is net-new surface (SURVEY.md §2.10: absent in the
reference); the merge queries map the reference's merge stage (J1/R10/R11/
R14, scripts/merge.py:49-98). Event-time windows double as batch-equivalence
oracles for the Structured Streaming module (streaming/windows.py runs the
same logical plans with readStream + AvailableNow).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from urban_traffic_data_lake_project_spark.operators import merge as M
from urban_traffic_data_lake_project_spark.queries.base import ROUND_STAT, ROUND_SUM, QuerySpec
from urban_traffic_data_lake_project_spark.sources import load_table


# ---------------------------------------------------------------------------
# win_rank_lag — ranking + lag + running sum per customer order history
# ---------------------------------------------------------------------------
def _win_rank_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).alias("order_seq"),
        F.round(F.lag("o_totalprice", 1).over(w), ROUND_SUM).alias("prev_price"),
        F.round(
            F.sum("o_totalprice").over(w.rowsBetween(Window.unboundedPreceding, 0)),
            ROUND_SUM,
        ).alias("running_total"),
        F.round(
            F.avg("o_totalprice").over(w.rowsBetween(-2, 0)), ROUND_STAT
        ).alias("moving_avg_3"),
    )


_WIN_RANK_LAG_SQL = f"""
SELECT o_custkey, o_orderkey,
       row_number() OVER w AS order_seq,
       round(lag(o_totalprice, 1) OVER w, {ROUND_SUM}) AS prev_price,
       round(sum(o_totalprice) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), {ROUND_SUM}) AS running_total,
       round(avg(o_totalprice) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), {ROUND_STAT}) AS moving_avg_3
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


# ---------------------------------------------------------------------------
# batch tumbling-window aggregate — the batch form of the streaming tumbling
# query (F.window works in batch). Not separately registered: the gate runs
# the REAL streaming job (stream_tumbling_available_now) against the same
# oracle SQL; this builder backs the batch/streaming equivalence test.
# ---------------------------------------------------------------------------
def batch_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), ROUND_SUM).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


_WIN_TUMBLING_SQL = f"""
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events,
       round(sum(value), {ROUND_SUM}) AS sum_value
FROM events
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# win_sliding_events — 1h windows sliding every 30min (each event lands in 2)
# ---------------------------------------------------------------------------
def _win_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


# each event belongs to the two 1h/30m windows covering it
_WIN_SLIDING_SQL = """
WITH slots AS (
  SELECT ts, unnest([
    CAST(to_timestamp(floor(epoch(ts) / 1800) * 1800 - 1800) AS TIMESTAMP),
    CAST(to_timestamp(floor(epoch(ts) / 1800) * 1800) AS TIMESTAMP)
  ]) AS window_start
  FROM events)
SELECT window_start, count(*) AS n_events
FROM slots
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# win_session_events — session windows (10-min gap) per user.
# Spark: native session_window; oracle: lag/cumsum session reconstruction.
# ---------------------------------------------------------------------------
def _win_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
        )
    )


_WIN_SESSION_SQL = """
WITH ordered AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
  FROM events),
marked AS (
  SELECT user_id, ts,
         CASE WHEN prev_ts IS NULL OR ts - prev_ts > INTERVAL 10 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM ordered),
sessions AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM marked)
SELECT user_id, min(ts) AS session_start, count(*) AS n_events
FROM sessions
GROUP BY user_id, session_id
"""


# ---------------------------------------------------------------------------
# merge_asof_join — backward as-of join: each 'click' event gets the most
# recent 'view' timestamp of the same user (union-and-window formulation)
# ---------------------------------------------------------------------------
def _asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    views = e.filter(F.col("event_type") == "view").select("user_id", "ts")
    out = M.asof_join(
        clicks, views, by=["user_id"], left_on="ts", right_on="ts", right_cols=["ts"]
    )
    return out.select("event_id", "user_id", "ts", F.col("ts_asof").alias("last_view_ts"))


_ASOF_SQL = """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
views AS (SELECT user_id, ts FROM events WHERE event_type = 'view')
SELECT c.event_id, c.user_id, c.ts,
       (SELECT max(v.ts) FROM views v
        WHERE v.user_id = c.user_id AND v.ts <= c.ts) AS last_view_ts
FROM clicks c
"""


# ---------------------------------------------------------------------------
# merge_suffix_day_join — the reference merge stage shape (J1/R10/R11/R14):
# two event streams joined on (user, day) with pandas-style suffixes on
# colliding columns, aggregated to keep the check output bounded
# ---------------------------------------------------------------------------
def _suffix_day_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    purchases = e.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    joined = M.day_key_merge(
        clicks, purchases, left_ts="ts", right_ts="ts",
        extra_keys=["user_id"], how="left", lsuffix="_click", rsuffix="_purchase",
    )
    return joined.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("value_purchase").alias("n_matched"),
        F.round(F.avg("value_click"), ROUND_STAT).alias("avg_click_value"),
        F.round(F.avg("value_purchase"), ROUND_STAT).alias("avg_purchase_value"),
    )


_SUFFIX_DAY_SQL = f"""
WITH clicks AS (
  SELECT user_id, CAST(ts AS DATE) AS day, value FROM events WHERE event_type = 'click'),
purchases AS (
  SELECT user_id, CAST(ts AS DATE) AS day, value FROM events WHERE event_type = 'purchase')
SELECT c.user_id,
       count(*) AS n_rows,
       count(p.value) AS n_matched,
       round(avg(c.value), {ROUND_STAT}) AS avg_click_value,
       round(avg(p.value), {ROUND_STAT}) AS avg_purchase_value
FROM clicks c LEFT JOIN purchases p ON c.user_id = p.user_id AND c.day = p.day
GROUP BY c.user_id
"""


# ---------------------------------------------------------------------------
# merge_range_join — interval join (each click paired with same-user views
# within ±10 min) via the binned equi-join pattern (operators.merge.
# range_join_binned) — never a per-key cartesian. Aggregated per user to
# keep the check output bounded; the join itself runs at full pair fan-out.
# ---------------------------------------------------------------------------
def _range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "ts")
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("view_ts"), "value"
    )
    j = M.range_join_binned(clicks, views, ["user_id"], "ts", "view_ts", 600)
    return j.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.avg("value"), ROUND_STAT).alias("avg_view_value"),
    )


_RANGE_JOIN_SQL = f"""
WITH clicks AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
views AS (SELECT user_id, ts AS view_ts, value FROM events WHERE event_type = 'view')
SELECT c.user_id, count(*) AS n_pairs,
       round(avg(v.value), {ROUND_STAT}) AS avg_view_value
FROM clicks c JOIN views v
  ON c.user_id = v.user_id
 AND abs(date_diff('microsecond', v.view_ts, c.ts)) <= 600000000
GROUP BY c.user_id
"""


# ---------------------------------------------------------------------------
# stream_interval_join — a REAL stream-stream join job (both sides
# readStream with watermarks, event-time interval condition, AvailableNow)
# hash-checked against the batch theta-join oracle. Together with
# stream_tumbling_available_now this puts both stateful streaming shapes —
# windowed aggregation AND dual-stream join state — under the gate.
# ---------------------------------------------------------------------------
def _stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from urban_traffic_data_lake_project_spark.streaming import windows as sw

    stream = sw.read_events_stream(spark, sf_dir)
    clicks = stream.filter(F.col("event_type") == "click")
    views = stream.filter(F.col("event_type") == "view")
    return sw.run_available_now(
        sw.stream_stream_interval_join(clicks, views, "user_id", 600), spark
    )


_STREAM_INTERVAL_JOIN_SQL = """
WITH clicks AS (
  SELECT user_id, ts AS l_ts, event_id AS l_id FROM events WHERE event_type = 'click'),
views AS (
  SELECT user_id, ts AS r_ts, event_id AS r_id, value AS r_value
  FROM events WHERE event_type = 'view')
SELECT c.user_id, c.l_id, v.r_id, c.l_ts, v.r_ts, v.r_value
FROM clicks c JOIN views v
  ON c.user_id = v.user_id
 AND abs(date_diff('microsecond', v.r_ts, c.l_ts)) <= 600000000
"""


# ---------------------------------------------------------------------------
# stream_interval_join_outer — the LEFT OUTER stream-stream join: clicks
# with no view within ±600s emit once the watermark passes their horizon.
# A finite replay can only flush those rows if the watermark advances past
# the last real event, so the input is the sentinel-flushed stream
# (read_events_stream_flushed); sentinels are dropped by user_id >= 0.
# Oracle: the batch LEFT JOIN with the same interval condition.
# ---------------------------------------------------------------------------
def _stream_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from urban_traffic_data_lake_project_spark.streaming import windows as sw

    stream = sw.read_events_stream_flushed(spark, sf_dir)
    clicks = stream.filter(F.col("event_type") == "click")
    views = stream.filter(F.col("event_type") == "view")
    out = sw.run_available_now(
        sw.stream_stream_interval_join(clicks, views, "user_id", 600, how="left_outer"),
        spark,
    )
    return out.filter(F.col("user_id") >= 0)


_STREAM_INTERVAL_OUTER_SQL = """
WITH clicks AS (
  SELECT user_id, ts AS l_ts, event_id AS l_id FROM events WHERE event_type = 'click'),
views AS (
  SELECT user_id, ts AS r_ts, event_id AS r_id, value AS r_value
  FROM events WHERE event_type = 'view')
SELECT c.user_id, c.l_id, v.r_id, c.l_ts, v.r_ts, v.r_value
FROM clicks c LEFT JOIN views v
  ON c.user_id = v.user_id
 AND abs(date_diff('microsecond', v.r_ts, c.l_ts)) <= 600000000
"""


# ---------------------------------------------------------------------------
# join_salted_skew — the salted join under the gate on an engineered hot
# key (~30% of lineitem collapses onto one key): salting must produce
# IDENTICAL results to the plain join (the oracle IS the plain join), while
# spreading the hot key over salt_buckets reducers.
# ---------------------------------------------------------------------------
def _salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "skew_key",
        F.when(F.col("l_orderkey") % 10 < 3, F.lit(0)).otherwise(F.col("l_suppkey")),
    )
    dim = (
        li.groupBy("skew_key")
        .agg(F.count(F.lit(1)).alias("key_rows"))
    )
    joined = M.salted_join(li.select("skew_key", "l_quantity"), dim, ["skew_key"])
    return joined.groupBy("skew_key").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), ROUND_SUM).alias("sum_qty"),
        F.min("key_rows").alias("key_rows"),
    )


_SALTED_SKEW_SQL = f"""
WITH keyed AS (
  SELECT CASE WHEN l_orderkey % 10 < 3 THEN 0 ELSE l_suppkey END AS skew_key,
         l_quantity
  FROM lineitem),
dim AS (SELECT skew_key, count(*) AS key_rows FROM keyed GROUP BY skew_key)
SELECT k.skew_key, count(*) AS n,
       round(sum(k.l_quantity), {ROUND_SUM}) AS sum_qty,
       min(d.key_rows) AS key_rows
FROM keyed k JOIN dim d ON k.skew_key = d.skew_key
GROUP BY k.skew_key
"""


# ---------------------------------------------------------------------------
# stream_stateful_user_stats — the applyInPandasWithState custom stateful
# operator under the gate: per-user running (count, sum, last-seen) via
# user-managed GroupState, executed AvailableNow; the cumulative end state
# equals a batch grouped aggregate, which is the oracle.
# ---------------------------------------------------------------------------
def _stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    from urban_traffic_data_lake_project_spark.streaming import stateful as st
    from urban_traffic_data_lake_project_spark.streaming import windows as sw

    stream = sw.read_events_stream(spark, sf_dir)
    out = sw.run_available_now(st.running_user_stats(stream), spark, mode="update")
    return out.select(
        "user_id", "n_events", F.round("sum_value", ROUND_SUM).alias("sum_value"), "last_ts"
    )


_STREAM_STATEFUL_SQL = f"""
SELECT user_id, count(*) AS n_events,
       round(sum(value), {ROUND_SUM}) AS sum_value,
       max(ts) AS last_ts
FROM events GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# stream_bounded_recent_stats — a BOUNDED per-user replay buffer: stats
# over each user's 5 most recent events (by ts, event_id), the
# count-bounded frame neither windowed aggregation (time-bounded) nor
# plain running state (unbounded) expresses. Runs on
# applyInPandasWithState (streaming/stateful.py::bounded_recent_stats),
# which keeps the buffer in GroupState; the state-v2 API
# (transformWithStateInPandas) needs google.protobuf, which the project
# does not depend on. Oracle: row_number over (ts DESC, event_id DESC)
# <= 5 per user.
# ---------------------------------------------------------------------------
_RECENT_KEEP = 5


def _stream_bounded_recent(spark: SparkSession, sf_dir: str) -> DataFrame:
    from urban_traffic_data_lake_project_spark.streaming import stateful as st
    from urban_traffic_data_lake_project_spark.streaming import windows as sw

    stream = sw.read_events_stream(spark, sf_dir)
    out = sw.run_available_now(
        st.bounded_recent_stats(stream, keep=_RECENT_KEEP), spark, mode="update"
    )
    return out.select(
        "user_id",
        "n_recent",
        F.round("avg_recent_value", ROUND_STAT).alias("avg_recent_value"),
        "last_ts",
        "span_us",
    )


_STREAM_BOUNDED_RECENT_SQL = f"""
WITH r AS (
  SELECT user_id, ts, value, event_id,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events)
SELECT user_id, count(*) AS n_recent,
       round(avg(value), {ROUND_STAT}) AS avg_recent_value,
       max(ts) AS last_ts,
       date_diff('microsecond', min(ts), max(ts)) AS span_us
FROM r WHERE rn <= {_RECENT_KEEP}
GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# json_extract_events — JSON scalar functions on events.props
# ---------------------------------------------------------------------------
def _json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_value"),
        F.from_json("props", "k INT").getField("k").alias("k_parsed"),
    ).withColumn("k_bucket", F.col("k_value") % 10)


_JSON_SQL = """
SELECT event_id,
       CAST(props->>'$.k' AS INT) AS k_value,
       CAST(props->>'$.k' AS INT) AS k_parsed,
       CAST(props->>'$.k' AS INT) % 10 AS k_bucket
FROM events
"""


# ---------------------------------------------------------------------------
# win_rollup_cube — ROLLUP and CUBE grouping sets in one query (free
# Catalyst surface, SURVEY §2.4); each runs as a single Expand + shuffle.
# ---------------------------------------------------------------------------
def _rollup_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), ROUND_SUM).alias("sum_qty"),
        F.round(F.avg("l_discount"), ROUND_STAT).alias("avg_disc"),
    ]
    r = (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(*aggs)
        .select(F.lit("rollup").alias("grouping_mode"), "*")
    )
    c = (
        li.cube("l_returnflag", "l_linestatus")
        .agg(*aggs)
        .select(F.lit("cube").alias("grouping_mode"), "*")
    )
    return r.unionByName(c)


_ROLLUP_CUBE_SQL = f"""
SELECT 'rollup' AS grouping_mode, l_returnflag, l_linestatus, count(*) AS n,
       round(sum(l_quantity), {ROUND_SUM}) AS sum_qty,
       round(avg(l_discount), {ROUND_STAT}) AS avg_disc
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
UNION ALL
SELECT 'cube', l_returnflag, l_linestatus, count(*) AS n,
       round(sum(l_quantity), {ROUND_SUM}) AS sum_qty,
       round(avg(l_discount), {ROUND_STAT}) AS avg_disc
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


# ---------------------------------------------------------------------------
# stream_tumbling_available_now — a REAL Structured Streaming job (readStream
# -> watermark -> tumbling window agg -> AvailableNow -> memory sink),
# oracle-checked against the same SQL as the batch form. Batch/streaming
# equivalence is the engine's streaming correctness contract.
# ---------------------------------------------------------------------------
def _stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from urban_traffic_data_lake_project_spark.streaming import windows as sw

    stream = sw.read_events_stream(spark, sf_dir)
    return sw.run_available_now(sw.tumbling_counts(stream), spark)


# ---------------------------------------------------------------------------
# stream_session_window — REAL streaming session windows: session_window()
# merges gap-close events statefully as batches arrive (sessions can span
# trigger boundaries), watermark bounds the open-session state. Oracle: the
# same lag/cumsum session reconstruction SQL as the batch form
# (win_session_events) — batch/streaming equivalence is the contract.
# ---------------------------------------------------------------------------
def _stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    from urban_traffic_data_lake_project_spark.streaming import windows as sw

    stream = sw.read_events_stream(spark, sf_dir)
    return sw.run_available_now(sw.session_counts(stream), spark)


# ---------------------------------------------------------------------------
# stream_sliding_window — REAL streaming sliding-window counts (1h windows
# every 30min; each event lands in two). Same oracle SQL as the batch form
# (win_sliding_events).
# ---------------------------------------------------------------------------
def _stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from urban_traffic_data_lake_project_spark.streaming import windows as sw

    stream = sw.read_events_stream(spark, sf_dir)
    return sw.run_available_now(sw.sliding_counts(stream), spark)


# ---------------------------------------------------------------------------
# stream_dedup_redelivery — stateful exactly-once dedup under re-delivery:
# the stream unioned with itself models an at-least-once source delivering
# every event twice; watermarked dropDuplicates must emit each exactly
# once, so the result equals the plain batch table (the oracle).
# ---------------------------------------------------------------------------
def _stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from urban_traffic_data_lake_project_spark.streaming import windows as sw

    stream = sw.read_events_stream(spark, sf_dir)
    doubled = stream.union(sw.read_events_stream(spark, sf_dir))
    deduped = sw.streaming_dedup(doubled, ["event_id"])
    out = sw.run_available_now(deduped, spark, mode="append")
    return out.select(
        "event_id", "user_id", "event_type", F.round("value", ROUND_STAT).alias("value")
    )


_STREAM_DEDUP_SQL = f"""
SELECT event_id, user_id, event_type, round(value, {ROUND_STAT}) AS value
FROM events
"""


# ---------------------------------------------------------------------------
# stream_dedup_within_watermark — exactly-once dedup with bounded state
# and NO timestamp in the key (dropDuplicatesWithinWatermark): the shape
# for at-least-once sources whose re-deliveries carry fresh timestamps.
# Same twice-delivered input and batch oracle as stream_dedup_redelivery.
# ---------------------------------------------------------------------------
def _stream_dedup_within_wm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from urban_traffic_data_lake_project_spark.streaming import windows as sw

    stream = sw.read_events_stream(spark, sf_dir)
    doubled = stream.union(sw.read_events_stream(spark, sf_dir))
    deduped = sw.streaming_dedup_within_watermark(doubled, ["event_id"])
    out = sw.run_available_now(deduped, spark, mode="append")
    return out.select(
        "event_id", "user_id", "event_type", F.round("value", ROUND_STAT).alias("value")
    )


_STREAM_DEDUP_WM_SQL = f"""
SELECT event_id, user_id, event_type, round(value, {ROUND_STAT}) AS value
FROM events
"""


# ---------------------------------------------------------------------------
# variant_extract_events — Spark 4 VariantType over events.props: the
# open-schema path for semi-structured columns. parse_json builds the
# binary variant once; variant_get extracts typed fields WITHOUT a
# schema declaration — at 100 TB this replaces per-query regex/JSON
# string re-parsing with a decoded binary that predicate pushdown and
# shredding can exploit as the format matures.
# ---------------------------------------------------------------------------
def _variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", F.parse_json(F.col("props")).alias("__v")
    ).withColumn("k", F.expr("variant_get(__v, '$.k', 'int')"))
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("k").isNotNull()).cast("bigint")).alias("n_with_k"),
        F.round(F.avg("k"), ROUND_STAT).alias("avg_k"),
        F.max("k").alias("max_k"),
    )


_VARIANT_SQL = f"""
WITH v AS (
  SELECT event_type, json_extract(props, '$.k')::INTEGER AS k FROM events)
SELECT event_type, count(*)::BIGINT AS n,
       sum(CASE WHEN k IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_with_k,
       round(avg(k), {ROUND_STAT}) AS avg_k,
       max(k) AS max_k
FROM v GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# join_semi_anti — left-semi / left-anti joins (EXISTS / NOT EXISTS)
# ---------------------------------------------------------------------------
def _semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100_000)
    with_big = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi").select(
        F.lit("has_big_order").alias("bucket"), "c_custkey"
    )
    without = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        F.lit("no_big_order").alias("bucket"), "c_custkey"
    )
    return with_big.unionByName(without)


_SEMI_ANTI_SQL = """
SELECT 'has_big_order' AS bucket, c_custkey FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
UNION ALL
SELECT 'no_big_order', c_custkey FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
"""


# ---------------------------------------------------------------------------
# agg_pivot — pivot (wide conditional aggregation)
# ---------------------------------------------------------------------------
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def _pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").withColumn("yr", F.year("o_orderdate"))
    wide = (
        o.groupBy("yr")
        .pivot("o_orderpriority", list(_PRIORITIES))
        .agg(F.round(F.sum("o_totalprice"), 2))
    )
    renames = {p: f"p{p[0]}_total" for p in _PRIORITIES}
    for old, new in renames.items():
        wide = wide.withColumnRenamed(old, new)
    return wide.na.fill(0.0, list(renames.values()))


_PIVOT_SQL = """
SELECT year(o_orderdate) AS yr,
       coalesce(round(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice END), 2), 0.0) AS p1_total,
       coalesce(round(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN o_totalprice END), 2), 0.0) AS p2_total,
       coalesce(round(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN o_totalprice END), 2), 0.0) AS p3_total,
       coalesce(round(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN o_totalprice END), 2), 0.0) AS p4_total,
       coalesce(round(sum(CASE WHEN o_orderpriority = '5-LOW' THEN o_totalprice END), 2), 0.0) AS p5_total
FROM orders
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# agg_group_percentiles — per-group exact percentiles (low-cardinality
# values -> native grouped percentile is the right plan here; the
# refinement operator covers the high-cardinality grand case)
# ---------------------------------------------------------------------------
def _group_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", 0.5), ROUND_STAT).alias("p50_qty"),
        F.round(F.percentile("l_quantity", 0.9), ROUND_STAT).alias("p90_qty"),
        F.round(F.percentile("l_discount", 0.95), ROUND_STAT).alias("p95_disc"),
    )


_GROUP_PERCENTILES_SQL = f"""
SELECT l_returnflag,
       round(quantile_cont(l_quantity, 0.5), {ROUND_STAT}) AS p50_qty,
       round(quantile_cont(l_quantity, 0.9), {ROUND_STAT}) AS p90_qty,
       round(quantile_cont(l_discount, 0.95), {ROUND_STAT}) AS p95_disc
FROM lineitem
GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# win_distribution — ntile / percent_rank / cume_dist ranking windows
# ---------------------------------------------------------------------------
def _win_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), ROUND_STAT).alias("pct_rank"),
        F.round(F.cume_dist().over(w), ROUND_STAT).alias("cume"),
    )


_WIN_DISTRIBUTION_SQL = f"""
SELECT c_custkey, c_mktsegment,
       ntile(4) OVER w AS quartile,
       round(percent_rank() OVER w, {ROUND_STAT}) AS pct_rank,
       round(cume_dist() OVER w, {ROUND_STAT}) AS cume
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
"""


# ---------------------------------------------------------------------------
# win_ewma — exponentially weighted moving average of each user's event
# values (the time-series smoothing the notebook-era reference would do in
# pandas `ewm`): a bounded 20-row frame with alpha = 0.5 so every weight
# is an exact power of two — numerator/denominator are then
# bit-identical across engines (general pow() is not guaranteed
# correctly-rounded; halving is). The frame list is collected per row and
# folded newest-first in BOTH engines, so summation order matches too.
# ---------------------------------------------------------------------------
_EWMA_K = 20


def _win_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_EWMA_K - 1), 0)
    )
    arr = F.reverse(F.collect_list("value").over(w))
    n = F.size(arr)
    weighted = F.zip_with(
        arr,
        F.sequence(F.lit(0), n - 1),
        lambda v, i: v * F.pow(F.lit(0.5), i.cast("double")),
    )
    num = F.aggregate(weighted, F.lit(0.0), lambda acc, x: acc + x)
    den = F.lit(2.0) * (F.lit(1.0) - F.pow(F.lit(0.5), n.cast("double")))
    return ev.select(
        "user_id",
        "event_id",
        F.col("value"),
        n.alias("frame_len"),
        F.round(num / den, ROUND_STAT).alias("ewma"),
    )


_WIN_EWMA_SQL = f"""
WITH framed AS (
  SELECT user_id, event_id, value,
         list_reverse(list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                        ROWS BETWEEN {_EWMA_K - 1} PRECEDING AND CURRENT ROW)) AS l
  FROM events)
SELECT user_id, event_id, value,
       len(l) AS frame_len,
       round(list_sum(list_transform(range(1, len(l) + 1), i -> l[i] * pow(0.5, i - 1)))
             / (2.0 * (1.0 - pow(0.5, len(l)))), {ROUND_STAT}) AS ewma
FROM framed
"""


# ---------------------------------------------------------------------------
# win_funnel_steps — conversion funnel over the event stream: first view,
# first click within 7 days OF THAT VIEW, first purchase within 7 days of
# that click, per user, with exact microsecond step latencies. The
# streaming-era analytics consumption query the reference's notebook
# could not express.
# ---------------------------------------------------------------------------
_FUNNEL_HORIZON = "INTERVAL 7 DAYS"


def _win_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("ts") > F.col("t_view"))
            & (F.col("ts") <= F.col("t_view") + F.expr(_FUNNEL_HORIZON))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts") > F.col("t_click"))
            & (F.col("ts") <= F.col("t_click") + F.expr(_FUNNEL_HORIZON))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            F.col("t_click").isNotNull().cast("int").alias("clicked"),
            F.col("t_purchase").isNotNull().cast("int").alias("purchased"),
            (F.unix_micros("t_click") - F.unix_micros("t_view")).alias("us_to_click"),
            (F.unix_micros("t_purchase") - F.unix_micros("t_view")).alias("us_to_purchase"),
        )
    )


_FUNNEL_SQL = """
WITH v AS (
  SELECT user_id, min(ts) AS t_view FROM events WHERE event_type = 'view' GROUP BY user_id),
c AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN v ON v.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t_view AND e.ts <= v.t_view + INTERVAL 7 DAY
  GROUP BY e.user_id),
p AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM events e JOIN c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t_click AND e.ts <= c.t_click + INTERVAL 7 DAY
  GROUP BY e.user_id)
SELECT v.user_id,
       CASE WHEN c.t_click IS NOT NULL THEN 1 ELSE 0 END AS clicked,
       CASE WHEN p.t_purchase IS NOT NULL THEN 1 ELSE 0 END AS purchased,
       epoch_us(c.t_click) - epoch_us(v.t_view) AS us_to_click,
       epoch_us(p.t_purchase) - epoch_us(v.t_view) AS us_to_purchase
FROM v LEFT JOIN c ON c.user_id = v.user_id LEFT JOIN p ON p.user_id = v.user_id
"""


# ---------------------------------------------------------------------------
# stream_static_enrich — the stream-static join pattern: the event stream
# enriched against a STATIC dimension (per-user lifetime aggregates from
# orders-as-customer-profile; here, the user's event-type vocabulary
# size) via a broadcastable batch side, then a streaming per-key count.
# Static side re-resolves per micro-batch in production (picking up dim
# updates); with AvailableNow it is the same oracle as the batch join.
# ---------------------------------------------------------------------------
def _stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from urban_traffic_data_lake_project_spark.streaming.windows import (
        read_events_stream,
        run_available_now,
    )

    dim = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.countDistinct("event_type").alias("n_types"))
    )
    stream = read_events_stream(spark, sf_dir)
    enriched = stream.join(F.broadcast(dim), "user_id")
    agg = enriched.groupBy("user_id", "n_types").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), ROUND_SUM).alias("total_value"),
    )
    return run_available_now(agg, spark).select(
        "user_id", "n_types", "n_events", "total_value"
    )


_STREAM_STATIC_SQL = """
WITH dim AS (
  SELECT user_id, count(DISTINCT event_type) AS n_types FROM events GROUP BY user_id)
SELECT e.user_id, d.n_types,
       count(*) AS n_events,
       round(sum(e.value), 2) AS total_value
FROM events e JOIN dim d ON d.user_id = e.user_id
GROUP BY e.user_id, d.n_types
"""


# ---------------------------------------------------------------------------
# events_anomaly_zscore — per-user anomaly flags: an event is anomalous
# when its value deviates from ITS USER's mean by more than 2 population
# standard deviations. Stats come from one grouped aggregate joined back
# (never a per-row window over the full history), the production shape
# for scoring against profile tables.
# ---------------------------------------------------------------------------
def _anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("user_id").agg(
        F.avg("value").alias("__mu"),
        F.stddev_pop("value").alias("__sd"),
        F.count(F.lit(1)).alias("n_user_events"),
    )
    z = (F.col("value") - F.col("__mu")) / F.col("__sd")
    return (
        ev.join(stats, "user_id")
        .filter(F.col("__sd") > 0)
        .select(
            "event_id",
            "user_id",
            F.round("value", ROUND_SUM).alias("value"),
            "n_user_events",
            F.round(z, ROUND_STAT).alias("zscore"),
            (F.abs(z) > 2).cast("int").alias("is_anomaly"),
        )
    )


_ANOMALY_SQL = f"""
WITH stats AS (
  SELECT user_id, avg(value) AS mu, stddev_pop(value) AS sd,
         count(*) AS n_user_events
  FROM events GROUP BY user_id)
SELECT e.event_id, e.user_id, round(e.value, 2) AS value,
       s.n_user_events,
       round((e.value - s.mu) / s.sd, {ROUND_STAT}) AS zscore,
       CASE WHEN abs((e.value - s.mu) / s.sd) > 2 THEN 1 ELSE 0 END AS is_anomaly
FROM events e JOIN stats s ON s.user_id = e.user_id
WHERE s.sd > 0
"""


# ---------------------------------------------------------------------------
# merge_asof_directions — the full pandas-merge_asof direction family on
# one fixture: for every click event, the backward / forward / nearest
# 'view' value for that user. The oracle resolves each direction with
# correlated ORDER BY ... LIMIT 1 subqueries and replays the
# ties-resolve-backward rule on exact-microsecond gaps.
# ---------------------------------------------------------------------------
def _asof_directions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    views = ev.filter(F.col("event_type") == "view").select("user_id", "ts", "value")
    out = clicks
    for direction in ("backward", "forward", "nearest"):
        j = M.asof_join(
            out, views, ["user_id"], "ts", "ts", ["value"],
            suffix=f"_{direction}", direction=direction,
        )
        out = j
    return out.select(
        "event_id",
        "user_id",
        F.round("value_backward", ROUND_SUM).alias("back_val"),
        F.round("value_forward", ROUND_SUM).alias("fwd_val"),
        F.round("value_nearest", ROUND_SUM).alias("near_val"),
    )


_ASOF_DIRECTIONS_SQL = """
WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
x AS (
  SELECT c.event_id, c.user_id,
         (SELECT v.value FROM events v WHERE v.event_type = 'view'
          AND v.user_id = c.user_id AND v.ts <= c.ts
          ORDER BY v.ts DESC LIMIT 1) AS back_val,
         (SELECT v.ts FROM events v WHERE v.event_type = 'view'
          AND v.user_id = c.user_id AND v.ts <= c.ts
          ORDER BY v.ts DESC LIMIT 1) AS back_ts,
         (SELECT v.value FROM events v WHERE v.event_type = 'view'
          AND v.user_id = c.user_id AND v.ts >= c.ts
          ORDER BY v.ts ASC LIMIT 1) AS fwd_val,
         (SELECT v.ts FROM events v WHERE v.event_type = 'view'
          AND v.user_id = c.user_id AND v.ts >= c.ts
          ORDER BY v.ts ASC LIMIT 1) AS fwd_ts,
         c.ts
  FROM c)
SELECT event_id, user_id,
       round(back_val, 2) AS back_val,
       round(fwd_val, 2) AS fwd_val,
       round(CASE WHEN fwd_ts IS NULL THEN back_val
                  WHEN back_ts IS NULL THEN fwd_val
                  WHEN (ts - back_ts) <= (fwd_ts - ts) THEN back_val
                  ELSE fwd_val END, 2) AS near_val
FROM x
"""


# ---------------------------------------------------------------------------
# win_time_range_rolling — trailing 1-hour per-user rolling aggregate as a
# true time-RANGE window frame (value-defined, peers included), NOT a
# row-count frame: every event sees the count/sum of its user's events in
# the preceding hour. Spark needs numeric RANGE ordering, so the frame
# orders by epoch MICROSECONDS (full timestamp resolution — epoch seconds
# would truncate and shift the frame boundary for sub-second-apart
# events, visible once the data is dense enough); DuckDB uses the native
# INTERVAL RANGE frame at the same resolution. Both define the frame by
# VALUE, so tie order never changes the result.
# ---------------------------------------------------------------------------
def _win_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3600 * 1_000_000, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("n_last_hour"),
        F.round(F.sum("value").over(w), ROUND_SUM).alias("sum_last_hour"),
    )


_WIN_TIME_RANGE_SQL = f"""
SELECT event_id, user_id, ts,
       count(*) OVER w AS n_last_hour,
       round(sum(value) OVER w, {ROUND_SUM}) AS sum_last_hour
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
"""


# ---------------------------------------------------------------------------
# merge_interval_overlap — interval-vs-interval overlap join (the shape a
# point range join cannot express): per-user view SESSIONS (10-min gap,
# variable length) overlapped with per-click INCIDENT windows (ts ± 2 h)
# via operators.merge.interval_overlap_join — binned equi-join, never a
# per-key nested loop. Output carries the exact overlap in microseconds
# (integer on both engines, no float rounding in the hash).
# ---------------------------------------------------------------------------
def _interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    sessions = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id", F.session_window("ts", "10 minutes").alias("__w"))
        .agg(
            F.min("ts").alias("s_start"),
            F.max("ts").alias("s_end"),
            F.count(F.lit(1)).alias("n_views"),
        )
        .drop("__w")
    )
    incidents = e.filter(F.col("event_type") == "click").select(
        "event_id",
        "user_id",
        (F.col("ts") - F.expr("INTERVAL 2 HOURS")).alias("c_start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("c_end"),
    )
    j = M.interval_overlap_join(
        sessions, incidents, ["user_id"],
        "s_start", "s_end", "c_start", "c_end", bin_seconds=3600,
    )
    overlap_us = F.unix_micros(F.least("s_end", "c_end")) - F.unix_micros(
        F.greatest("s_start", "c_start")
    )
    return j.select(
        "user_id", "event_id", "s_start", "n_views",
        overlap_us.alias("overlap_us"),
    )


_INTERVAL_OVERLAP_SQL = """
WITH v AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
  FROM events WHERE event_type = 'view'),
marked AS (
  SELECT user_id, ts,
         CASE WHEN prev_ts IS NULL OR ts - prev_ts > INTERVAL 10 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM v),
numbered AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM marked),
sessions AS (
  SELECT user_id, min(ts) AS s_start, max(ts) AS s_end, count(*) AS n_views
  FROM numbered GROUP BY user_id, sid),
incidents AS (
  SELECT event_id, user_id,
         ts - INTERVAL 2 HOUR AS c_start,
         ts + INTERVAL 2 HOUR AS c_end
  FROM events WHERE event_type = 'click')
SELECT s.user_id, i.event_id, s.s_start, s.n_views,
       date_diff('microsecond',
                 greatest(s.s_start, i.c_start),
                 least(s.s_end, i.c_end)) AS overlap_us
FROM sessions s JOIN incidents i
  ON s.user_id = i.user_id
 AND s.s_start <= i.c_end AND i.c_start <= s.s_end
"""


# ---------------------------------------------------------------------------
# join_fuzzy_blocked — record linkage on dirty keys: part names corrupted
# deterministically (4th character dropped) are matched back to the clean
# name catalog by Levenshtein distance <= 1, with q-gram blocking
# (operators.merge.fuzzy_join_blocked) generating candidates instead of a
# cartesian filter. Best match per dirty row resolves (distance, name)
# ascending. All part names are 7-12 chars, above the 3-gram/1-edit
# completeness bound, so blocking loses nothing.
# ---------------------------------------------------------------------------
def _fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    dirty = p.select(
        "p_partkey",
        F.concat(
            F.col("p_name").substr(1, 3), F.col("p_name").substr(F.lit(5), F.length("p_name"))
        ).alias("dirty_name"),
    )
    clean = p.select("p_name").distinct()
    pairs = M.fuzzy_join_blocked(dirty, clean, "dirty_name", "p_name", max_dist=1)
    best = pairs.groupBy("p_partkey", "dirty_name").agg(
        F.min(F.struct(F.col("dist"), F.col("p_name"))).alias("__b")
    )
    return best.select(
        "p_partkey",
        "dirty_name",
        F.col("__b.p_name").alias("match_name"),
        F.col("__b.dist").alias("dist"),
    )


_FUZZY_JOIN_SQL = """
WITH dirty AS (
  SELECT p_partkey, substr(p_name, 1, 3) || substr(p_name, 5) AS dirty_name
  FROM part),
clean AS (SELECT DISTINCT p_name FROM part),
dg AS (
  SELECT p_partkey, dirty_name, g
  FROM dirty, LATERAL unnest(list_distinct(list_transform(
         range(1, len(dirty_name) - 1), i -> substr(dirty_name, i, 3)))) t(g)),
cg AS (
  SELECT p_name, g
  FROM clean, LATERAL unnest(list_distinct(list_transform(
         range(1, len(p_name) - 1), i -> substr(p_name, i, 3)))) t(g)),
cand AS (
  SELECT DISTINCT dg.p_partkey, dg.dirty_name, cg.p_name
  FROM dg JOIN cg USING (g)),
m AS (
  SELECT p_partkey, dirty_name, p_name, levenshtein(dirty_name, p_name) AS d
  FROM cand),
best AS (
  SELECT p_partkey, dirty_name, min({'d': d, 'name': p_name}) AS b
  FROM m WHERE d <= 1 GROUP BY p_partkey, dirty_name)
SELECT p_partkey, dirty_name, b.name AS match_name, b.d AS dist FROM best
"""


# ---------------------------------------------------------------------------
# win_resample_ffill — time-series regularization: each user's irregular
# events resampled to an hourly grid from their first (hour-truncated) to
# last event, forward-filling the most recent observation (the as-of
# operator over a generated grid — the gap-fill shape feature pipelines
# need before windowed models). Observations are deduped to one row per
# (user, ts) by max event_id first, so the fill is deterministic.
# ---------------------------------------------------------------------------
def _resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    obs = e.groupBy("user_id", "ts").agg(F.max_by("value", "event_id").alias("value"))
    bounds = e.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("__mn"), F.max("ts").alias("__mx")
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence(F.col("__mn"), F.col("__mx"), F.expr("INTERVAL 1 HOUR"))
        ).alias("grid_ts"),
    )
    filled = M.asof_join(
        grid, obs, ["user_id"], "grid_ts", "ts", ["value", "ts"]
    )
    stale = (
        F.unix_micros("grid_ts") - F.unix_micros("ts_asof") > 3_600_000_000
    ).cast("int")
    return filled.select(
        "user_id",
        "grid_ts",
        F.round("value_asof", ROUND_SUM).alias("last_value"),
        F.col("ts_asof").alias("last_obs_ts"),
        stale.alias("is_stale"),
    )


_RESAMPLE_SQL = f"""
WITH obs AS (
  SELECT user_id, ts, arg_max(value, event_id) AS value
  FROM events GROUP BY user_id, ts),
b AS (
  SELECT user_id, date_trunc('hour', min(ts)) AS mn, max(ts) AS mx
  FROM events GROUP BY user_id),
grid AS (
  SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS grid_ts
  FROM b),
filled AS (
  SELECT g.user_id, g.grid_ts,
         (SELECT o.value FROM obs o WHERE o.user_id = g.user_id
          AND o.ts <= g.grid_ts ORDER BY o.ts DESC LIMIT 1) AS last_value,
         (SELECT o.ts FROM obs o WHERE o.user_id = g.user_id
          AND o.ts <= g.grid_ts ORDER BY o.ts DESC LIMIT 1) AS last_obs_ts
  FROM grid g)
SELECT user_id, grid_ts, round(last_value, {ROUND_SUM}) AS last_value, last_obs_ts,
       (date_diff('microsecond', last_obs_ts, grid_ts) > 3600000000)::INT AS is_stale
FROM filled
"""


# ---------------------------------------------------------------------------
# join_record_linkage — Fellegi–Sunter probabilistic record linkage
# (Fellegi & Sunter 1969; the probabilistic big sibling of
# join_fuzzy_blocked's rule-based resolve): a deterministically dirtied
# registry (one name digit dropped, balance perturbed, ~9% of segments
# blanked) is linked back to the clean registry. Per candidate pair the
# three field comparisons (name edit-distance<=1, balance band, segment)
# each contribute their log2(m/u) agreement weight or log2((1-m)/(1-u))
# disagreement weight; the summed score classifies link / possible /
# non_link at fixed thresholds, and the best candidate per dirty record
# resolves by (score desc, key asc).
#
# Scale shape: blocking on (nation, last name char) — both preserved by
# the corruption — makes candidate generation ONE equi-join with
# ~n/(nations*10) rows per block (never all-pairs); scoring is a
# projection; the best-match resolve is one map-side-combinable
# min-struct groupBy. m/u parameters are fixed spec constants (a
# production fit would EM them — that estimator is driver-side over the
# same bounded agreement histogram).
# ---------------------------------------------------------------------------
_FS_PARAMS = {"name": (0.95, 0.002), "bal": (0.9, 0.01), "seg": (0.9, 0.2)}
_FS_W = {
    k: (round(math.log2(m / u), 6), round(math.log2((1 - m) / (1 - u)), 6))
    for k, (m, u) in _FS_PARAMS.items()
}
_FS_LINK, _FS_POSSIBLE = 8.0, 0.0  # score thresholds


_LINKAGE_BLOCK_MAX_W, _LINKAGE_BLOCK_TARGET = 4, 32.0


def _linkage_candidates(
    spark: SparkSession, sf_dir: str, width: int | None = None
) -> DataFrame:
    """Blocked candidate pairs with the three field-agreement flags —
    shared by the scorer (join_record_linkage) and the parameter fit
    (join_linkage_em_fit). ``width=None`` (the scorer's default since
    r10, verdict item 5) auto-sizes the suffix-block width with
    ``choose_block_width`` — one occupancy aggregation over the clean
    registry picks the narrowest width whose expected candidates per
    probe stay under {_LINKAGE_BLOCK_TARGET}; the hand-picked 1-char key
    grew quadratically past ~15k rows/nation. Widths up to 4 are safe
    under the corruption model: the dropped digit sits at position 13 of
    an 18-char name, so the trailing 5 chars are corruption-invariant
    and block recall is unchanged at any chosen width."""
    from urban_traffic_data_lake_project_spark.operators.merge import (
        choose_block_width,
    )

    cust = load_table(spark, sf_dir, "customer")
    if width is None:
        width = choose_block_width(
            cust,
            "c_name",
            ["c_nationkey"],
            max_width=_LINKAGE_BLOCK_MAX_W,
            target_pairs_per_row=_LINKAGE_BLOCK_TARGET,
        )
    dirty = cust.select(
        F.col("c_custkey").alias("d_key"),
        "c_nationkey",
        F.concat(
            F.col("c_name").substr(1, 12),
            F.col("c_name").substr(F.lit(14), F.length("c_name")),
        ).alias("d_name"),
        (F.col("c_acctbal") + (F.col("c_custkey") % 7 - 3)).alias("d_bal"),
        F.when(F.col("c_custkey") % 11 == 0, F.lit("UNKNOWN"))
        .otherwise(F.col("c_mktsegment"))
        .alias("d_seg"),
    ).withColumn("__blk", F.expr(f"right(d_name, {width})"))
    clean = cust.select(
        "c_custkey", "c_nationkey", "c_name", "c_acctbal", "c_mktsegment"
    ).withColumn("__blk", F.expr(f"right(c_name, {width})"))
    cand = dirty.join(clean, ["c_nationkey", "__blk"])
    agree = {
        # thresholded levenshtein (banded DP, O(len) per pair instead of
        # O(len^2)): returns the distance when <= 1, else -1 — so >= 0
        # IS "distance <= 1". The oracle's plain levenshtein(a,b) <= 1
        # computes the same predicate.
        "name": F.levenshtein("d_name", "c_name", 1) >= 0,
        "bal": F.floor(F.col("d_bal") / 100) == F.floor(F.col("c_acctbal") / 100),
        "seg": F.col("d_seg") == F.col("c_mktsegment"),
    }
    return cand.select(
        "d_key",
        F.col("c_custkey").alias("__ck"),
        agree["name"].alias("__na"),
        agree["bal"].alias("__ba"),
        agree["seg"].alias("__sa"),
    )


def _record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    score = F.round(
        sum(
            F.when(F.col(flag), F.lit(_FS_W[k][0])).otherwise(F.lit(_FS_W[k][1]))
            for k, flag in (("name", "__na"), ("bal", "__ba"), ("seg", "__sa"))
        ),
        6,
    )
    scored = _linkage_candidates(spark, sf_dir).select(
        "d_key", score.alias("__score"), "__ck", "__na", "__ba", "__sa"
    )
    best = scored.groupBy("d_key").agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.max(
            F.struct(
                F.col("__score"),
                (-F.col("__ck")).alias("__nk"),
                F.col("__ck"),
                "__na",
                "__ba",
                "__sa",
            )
        ).alias("__b"),
    )
    b = F.col("__b")
    return best.select(
        F.col("d_key").alias("dirty_custkey"),
        b["__ck"].alias("matched_custkey"),
        "n_candidates",
        b["__na"].alias("name_agree"),
        b["__ba"].alias("bal_agree"),
        b["__sa"].alias("seg_agree"),
        b["__score"].alias("score"),
        F.when(b["__score"] >= _FS_LINK, F.lit("link"))
        .when(b["__score"] >= _FS_POSSIBLE, F.lit("possible"))
        .otherwise(F.lit("non_link"))
        .alias("decision"),
        (b["__ck"] == F.col("d_key")).alias("correct"),
    )


# ---------------------------------------------------------------------------
# join_linkage_em_fit — the parameter estimation join_record_linkage's
# docstring promises: fit the Fellegi-Sunter m/u probabilities by EM over
# the agreement-pattern histogram (Winkler's unsupervised fit — no labeled
# pairs needed). The distributed work is ONE groupBy over the blocked
# candidate pairs producing <= 2^3 pattern counts; the EM runs on the
# driver over that bounded histogram (the fit/score split, same as
# pca_fit), and the fitted weights are what a production deployment would
# feed back into the scorer in place of _FS_W's spec constants.
#
# The oracle replays the SAME 20 EM iterations as 20 unrolled SQL CTEs
# over the same histogram — a fully strict-checked iterative ML fit (the
# per-iteration arithmetic is identically ordered; the only cross-engine
# freedom is the 8-term aggregation order, which the EM contraction keeps
# below the 6-dp rounding edge).
# ---------------------------------------------------------------------------
_EM_ITERS = 20
_EM_INIT_P, _EM_INIT_M, _EM_INIT_U = 0.1, 0.9, 0.1
_EM_EPS = 1e-9
_EM_FIELDS = (("name", "__na"), ("bal", "__ba"), ("seg", "__sa"))


def _linkage_em_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    hist = (
        # explicit width=1: the EM fit's 20-iteration oracle replay is
        # pinned to the 1-char block's histogram; the fit needs the
        # DENSEST candidate histogram it can afford (u estimates come
        # from the non-match mass), so the fit-time block is a
        # small-sample choice, not a scale path — the SCORER
        # (join_record_linkage) auto-sizes its block for scale
        _linkage_candidates(spark, sf_dir, width=1)
        .groupBy("__na", "__ba", "__sa")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    pats = sorted(
        (bool(r["__na"]), bool(r["__ba"]), bool(r["__sa"]), float(r["c"]))
        for r in hist
    )
    p, m, u = _EM_INIT_P, [_EM_INIT_M] * 3, [_EM_INIT_U] * 3
    for _ in range(_EM_ITERS):
        tot_c = agg_w = agg_u = 0.0
        agg_wf, agg_uf = [0.0] * 3, [0.0] * 3
        for na, ba, sa, c in pats:
            g = (na, ba, sa)
            pm, pu = p, 1.0 - p
            for i, gi in enumerate(g):
                pm = pm * (m[i] if gi else 1.0 - m[i])
                pu = pu * (u[i] if gi else 1.0 - u[i])
            w = pm / (pm + pu)
            tot_c += c
            agg_w += c * w
            agg_u += c * (1.0 - w)
            for i, gi in enumerate(g):
                if gi:
                    agg_wf[i] += c * w
                    agg_uf[i] += c * (1.0 - w)
        # clamp into the open interval (standard EM smoothing): a field
        # the separation makes perfect would otherwise drive u (or 1-m)
        # to exact 0 and the log-weights to infinity
        clamp = lambda x: min(max(x, _EM_EPS), 1.0 - _EM_EPS)  # noqa: E731
        p = clamp(agg_w / tot_c)
        m = [clamp(agg_wf[i] / agg_w) for i in range(3)]
        u = [clamp(agg_uf[i] / agg_u) for i in range(3)]
    rows = [
        (
            name,
            round(m[i], 6),
            round(u[i], 6),
            round(math.log2(m[i] / u[i]), 6),
            round(math.log2((1.0 - m[i]) / (1.0 - u[i])), 6),
            round(p, 6),
        )
        for i, (name, _) in enumerate(_EM_FIELDS)
    ]
    return spark.createDataFrame(
        rows,
        "field string, m double, u double, w_agree double, "
        "w_disagree double, prevalence double",
    )


def _em_iteration_ctes() -> str:
    ctes = [
        f"it0 AS (SELECT {_EM_INIT_P}::DOUBLE AS p,"
        + ", ".join(f"{_EM_INIT_M}::DOUBLE AS m{i}" for i in (1, 2, 3))
        + ", "
        + ", ".join(f"{_EM_INIT_U}::DOUBLE AS u{i}" for i in (1, 2, 3))
        + ")"
    ]
    flags = ("na", "ba", "sa")
    for k in range(1, _EM_ITERS + 1):
        pm = " * ".join(
            f"(CASE WHEN g.{f} THEN prev.m{i+1} ELSE 1 - prev.m{i+1} END)"
            for i, f in enumerate(flags)
        )
        pu = " * ".join(
            f"(CASE WHEN g.{f} THEN prev.u{i+1} ELSE 1 - prev.u{i+1} END)"
            for i, f in enumerate(flags)
        )
        def _cl(expr: str) -> str:
            return f"greatest(least({expr}, 1 - {_EM_EPS}), {_EM_EPS})"

        ms = ", ".join(
            _cl(f"sum(CASE WHEN {f} THEN c * w ELSE 0 END) / sum(c * w)")
            + f" AS m{i+1}"
            for i, f in enumerate(flags)
        )
        us = ", ".join(
            _cl(f"sum(CASE WHEN {f} THEN c * (1 - w) ELSE 0 END) / sum(c * (1 - w))")
            + f" AS u{i+1}"
            for i, f in enumerate(flags)
        )
        ctes.append(
            f"""it{k} AS (
  SELECT {_cl("sum(c * w) / sum(c)")} AS p, {ms}, {us}
  FROM (SELECT c, na, ba, sa, pm / (pm + pu) AS w
        FROM (SELECT g.c, g.na, g.ba, g.sa,
                     prev.p * {pm} AS pm,
                     (1 - prev.p) * {pu} AS pu
              FROM hist g CROSS JOIN it{k-1} prev)))"""
        )
    return ",\n".join(ctes)


_LINKAGE_EM_SQL = f"""
WITH dirty AS (
  SELECT c_custkey AS d_key, c_nationkey,
         substr(c_name, 1, 12) || substr(c_name, 14) AS d_name,
         c_acctbal + (c_custkey % 7 - 3) AS d_bal,
         CASE WHEN c_custkey % 11 = 0 THEN 'UNKNOWN' ELSE c_mktsegment END AS d_seg
  FROM customer),
cand AS (
  SELECT (levenshtein(d.d_name, c.c_name) <= 1) AS na,
         (floor(d.d_bal / 100) = floor(c.c_acctbal / 100)) AS ba,
         (d.d_seg = c.c_mktsegment) AS sa
  FROM dirty d JOIN customer c
    ON d.c_nationkey = c.c_nationkey
   AND right(d.d_name, 1) = right(c.c_name, 1)),
hist AS (SELECT na, ba, sa, count(*) AS c FROM cand GROUP BY 1, 2, 3),
{_em_iteration_ctes()}
SELECT f.field,
       round(CASE f.i WHEN 1 THEN m1 WHEN 2 THEN m2 ELSE m3 END, 6) AS m,
       round(CASE f.i WHEN 1 THEN u1 WHEN 2 THEN u2 ELSE u3 END, 6) AS u,
       round(log2((CASE f.i WHEN 1 THEN m1 WHEN 2 THEN m2 ELSE m3 END)
                / (CASE f.i WHEN 1 THEN u1 WHEN 2 THEN u2 ELSE u3 END)), 6)
         AS w_agree,
       round(log2((1 - CASE f.i WHEN 1 THEN m1 WHEN 2 THEN m2 ELSE m3 END)
                / (1 - CASE f.i WHEN 1 THEN u1 WHEN 2 THEN u2 ELSE u3 END)), 6)
         AS w_disagree,
       round(p, 6) AS prevalence
FROM (VALUES ('name', 1), ('bal', 2), ('seg', 3)) f(field, i)
CROSS JOIN it{_EM_ITERS}
"""


_RECORD_LINKAGE_SQL = f"""
WITH widths AS (SELECT unnest(range(1, {_LINKAGE_BLOCK_MAX_W} + 1))::INT AS w),
occ AS (
  SELECT w.w, c_nationkey, right(c_name, w.w) AS blk, count(*) AS c
  FROM customer, widths w GROUP BY 1, 2, 3),
prof AS (SELECT w, sum(c) AS n, sum(c * c) AS sq FROM occ GROUP BY w),
-- the choose_block_width replay: narrowest width whose occupancy mass
-- sum(c^2) keeps expected candidates/probe <= target, else max width
chosen AS (
  SELECT coalesce(min(CASE WHEN sq <= {_LINKAGE_BLOCK_TARGET} * n THEN w END),
                  {_LINKAGE_BLOCK_MAX_W}) AS w
  FROM prof),
dirty AS (
  SELECT c_custkey AS d_key, c_nationkey,
         substr(c_name, 1, 12) || substr(c_name, 14) AS d_name,
         c_acctbal + (c_custkey % 7 - 3) AS d_bal,
         CASE WHEN c_custkey % 11 = 0 THEN 'UNKNOWN' ELSE c_mktsegment END AS d_seg
  FROM customer),
cand AS (
  SELECT d.d_key, c.c_custkey,
         (levenshtein(d.d_name, c.c_name) <= 1) AS na,
         (floor(d.d_bal / 100) = floor(c.c_acctbal / 100)) AS ba,
         (d.d_seg = c.c_mktsegment) AS sa
  FROM dirty d JOIN customer c
    ON d.c_nationkey = c.c_nationkey
   AND right(d.d_name, (SELECT w FROM chosen))
       = right(c.c_name, (SELECT w FROM chosen))),
scored AS (
  SELECT d_key, c_custkey, na, ba, sa,
         round(  CASE WHEN na THEN {_FS_W["name"][0]} ELSE {_FS_W["name"][1]} END
               + CASE WHEN ba THEN {_FS_W["bal"][0]} ELSE {_FS_W["bal"][1]} END
               + CASE WHEN sa THEN {_FS_W["seg"][0]} ELSE {_FS_W["seg"][1]} END, 6)
           AS score
  FROM cand),
best AS (
  SELECT d_key, count(*)::BIGINT AS n_candidates,
         max({{'score': score, 'nk': -c_custkey, 'ck': c_custkey,
              'na': na, 'ba': ba, 'sa': sa}}) AS b
  FROM scored GROUP BY d_key)
SELECT d_key AS dirty_custkey, b.ck AS matched_custkey, n_candidates,
       b.na AS name_agree, b.ba AS bal_agree, b.sa AS seg_agree,
       b.score AS score,
       CASE WHEN b.score >= {_FS_LINK} THEN 'link'
            WHEN b.score >= {_FS_POSSIBLE} THEN 'possible'
            ELSE 'non_link' END AS decision,
       b.ck = d_key AS correct
FROM best
"""


REGISTRY: dict[str, QuerySpec] = {
    "join_record_linkage": QuerySpec(
        _record_linkage, _RECORD_LINKAGE_SQL,
        "Fellegi-Sunter probabilistic record linkage: blocked candidates, m/u log-weights, link/possible/non-link",
        ("join", "dedup"),
    ),
    "join_linkage_em_fit": QuerySpec(
        _linkage_em_fit, _LINKAGE_EM_SQL,
        "EM-fitted Fellegi-Sunter m/u parameters from the agreement-pattern histogram",
        ("join", "ml"),
    ),
    "join_fuzzy_blocked": QuerySpec(
        _fuzzy_join, _FUZZY_JOIN_SQL,
        "Levenshtein record linkage with q-gram blocking, best-match resolve",
        ("join", "dedup", "defer"),
    ),
    "win_resample_ffill": QuerySpec(
        _resample_ffill, _RESAMPLE_SQL,
        "hourly grid resample with forward-fill (as-of over generated grid)",
        ("window", "join", "defer"),
    ),
    "win_time_range_rolling": QuerySpec(
        _win_time_range, _WIN_TIME_RANGE_SQL,
        "trailing 1h per-user rolling aggregate, value-defined RANGE frame",
        ("window", "defer"),
    ),
    "merge_interval_overlap": QuerySpec(
        _interval_overlap, _INTERVAL_OVERLAP_SQL,
        "interval-vs-interval overlap join (sessions x incident windows), binned",
        ("join", "window", "defer"),
    ),
    "merge_asof_directions": QuerySpec(
        _asof_directions, _ASOF_DIRECTIONS_SQL,
        "as-of join, all three directions (backward/forward/nearest)",
        ("join", "defer"),
    ),
    "stream_static_enrich": QuerySpec(
        _stream_static_enrich, _STREAM_STATIC_SQL,
        "stream-static broadcast enrichment + streaming per-key agg", ("streaming", "join", "defer"),
    ),
    "events_anomaly_zscore": QuerySpec(
        _anomaly_zscore, _ANOMALY_SQL,
        "per-user z-score anomaly flags from grouped profile stats", ("agg", "diagnostics", "defer"),
    ),
    "win_ewma": QuerySpec(
        _win_ewma, _WIN_EWMA_SQL,
        "EWMA smoothing, bounded frame, power-of-two weights", ("window", "defer"),
    ),
    "win_funnel_steps": QuerySpec(
        _win_funnel, _FUNNEL_SQL,
        "view->click->purchase funnel with exact step latencies", ("window", "join", "defer"),
    ),
    "agg_group_percentiles": QuerySpec(_group_percentiles, _GROUP_PERCENTILES_SQL, "per-group exact percentiles", ("agg",)),
    "win_distribution": QuerySpec(_win_distribution, _WIN_DISTRIBUTION_SQL, "ntile/percent_rank/cume_dist", ("window",)),
    "stream_tumbling_available_now": QuerySpec(
        _stream_tumbling, _WIN_TUMBLING_SQL,
        "real streaming job (AvailableNow) vs batch oracle", ("streaming",),
    ),
    "stream_session_window": QuerySpec(
        _stream_session, _WIN_SESSION_SQL,
        "streaming session windows (stateful gap-merge) vs batch oracle",
        ("streaming", "stateful"),
    ),
    "stream_sliding_window": QuerySpec(
        _stream_sliding, _WIN_SLIDING_SQL,
        "streaming sliding windows (1h/30m) vs batch oracle", ("streaming",),
    ),
    "win_rollup_cube": QuerySpec(_rollup_cube, _ROLLUP_CUBE_SQL, "ROLLUP + CUBE grouping sets", ("agg", "defer")),
    "join_semi_anti": QuerySpec(_semi_anti, _SEMI_ANTI_SQL, "left-semi/left-anti joins", ("join", "defer")),
    "agg_pivot": QuerySpec(_pivot, _PIVOT_SQL, "pivot to wide conditional aggregates", ("agg", "defer")),
    "win_rank_lag": QuerySpec(_win_rank_lag, _WIN_RANK_LAG_SQL, "row_number/lag/running agg windows", ("window", "defer")),
    "win_sliding_events": QuerySpec(_win_sliding, _WIN_SLIDING_SQL, "sliding window (1h / 30m)", ("window", "streaming-equiv")),
    "win_session_events": QuerySpec(_win_session, _WIN_SESSION_SQL, "session windows, 10-min gap", ("window", "streaming-equiv")),
    "merge_asof_join": QuerySpec(_asof, _ASOF_SQL, "backward as-of join (union+window)", ("join",)),
    "merge_range_join": QuerySpec(_range_join, _RANGE_JOIN_SQL, "interval join via binned equi-join", ("join",)),
    "stream_interval_join": QuerySpec(
        _stream_interval_join, _STREAM_INTERVAL_JOIN_SQL,
        "real stream-stream interval join vs batch oracle", ("streaming", "join"),
    ),
    "join_salted_skew": QuerySpec(
        _salted_skew_join, _SALTED_SKEW_SQL,
        "salted join on an engineered hot key == plain join", ("join",),
    ),
    "stream_stateful_user_stats": QuerySpec(
        _stream_stateful, _STREAM_STATEFUL_SQL,
        "applyInPandasWithState running stats vs batch oracle",
        ("streaming", "stateful"),
    ),
    "stream_bounded_recent_stats": QuerySpec(
        _stream_bounded_recent, _STREAM_BOUNDED_RECENT_SQL,
        "bounded per-user replay buffer (last-5 stats) in group state",
        ("streaming", "stateful", "defer"),
    ),
    "merge_suffix_day_join": QuerySpec(_suffix_day_join, _SUFFIX_DAY_SQL, "reference merge: day key + suffixes", ("join", "defer")),
    "stream_dedup_redelivery": QuerySpec(
        _stream_dedup, _STREAM_DEDUP_SQL,
        "stateful exactly-once dedup of a twice-delivered stream",
        ("streaming", "defer"),
    ),
    "stream_interval_join_outer": QuerySpec(
        _stream_interval_join_outer, _STREAM_INTERVAL_OUTER_SQL,
        "left-outer stream-stream interval join (watermark-flushed finite replay)",
        ("streaming", "join"),
    ),
    "stream_dedup_within_watermark": QuerySpec(
        _stream_dedup_within_wm, _STREAM_DEDUP_WM_SQL,
        "dropDuplicatesWithinWatermark exactly-once dedup, bounded state",
        ("streaming",),
    ),
    "json_extract_events": QuerySpec(_json_extract, _JSON_SQL, "JSON scalar extraction", ("scalar", "defer")),
    "variant_extract_events": QuerySpec(
        _variant_extract, _VARIANT_SQL,
        "Spark 4 VariantType: parse_json + typed variant_get aggregation",
        ("scalar", "semi-structured"),
    ),
}
