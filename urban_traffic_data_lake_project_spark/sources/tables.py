"""Parquet table loading for the driver's testdata star schema.

Scans are plain ``spark.read.parquet`` — Catalyst pushes filters and prunes
columns into the vectorized parquet reader, so callers should express
projections/filters on the returned DataFrame and let pushdown do the work
(verified in tests via ``PushedFilters`` / ``ReadSchema`` in the plan).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TESTDATA_TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Event-time columns whose on-disk representation has varied across
# testdata generations: parquet TIMESTAMP(NANOS) read as long
# (spark.sql.legacy.parquet.nanosAsLong), or TIMESTAMP(MICROS) without
# isAdjustedToUTC read as TIMESTAMP_NTZ. Both are normalized to session-tz
# TIMESTAMP so downstream event-time ops (withWatermark, unix_micros) work
# regardless of which generation produced the files.
_EVENT_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def normalize_event_ts(df: DataFrame, *cols: str) -> DataFrame:
    """Coerce event-time columns to plain TIMESTAMP by dtype:

    - ``bigint``        : epoch-nanos (nanosAsLong) → ``timestamp_micros(ns
      div 1000)``. Integer division, NOT /1000.0: epoch-nanos (~1.7e18)
      exceed double's 53-bit mantissa, a float division would corrupt them.
    - ``timestamp_ntz`` : wall-clock with no zone → cast to TIMESTAMP under
      the pinned UTC session zone (identical instants; ``withWatermark`` /
      ``unix_micros`` require TIMESTAMP, not NTZ).
    - ``timestamp``     : already right, untouched.
    """
    dtypes = dict(df.dtypes)
    for c in cols:
        if c not in dtypes:
            continue
        if dtypes[c] == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
        elif dtypes[c] == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def spread_to_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition up to the cluster's default parallelism when
    the input has fewer partitions — no-op otherwise (never coalesces).

    CPU-bound operators (text profiling, shingling/MinHash, chunking,
    Arrow bootstrap) otherwise convoy on the parquet split count: a corpus
    that compresses under ``maxPartitionBytes`` arrives as ONE partition
    and serializes the whole stage on one core. The shuffle this inserts
    is one pass over the (small-by-definition) under-partitioned input —
    at healthy scale the branch never triggers."""
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target)
    return df


def estimate_bytes(df: DataFrame) -> int | None:
    """The optimizer's size estimate of ``df``'s plan in bytes, or ``None``
    when the plan cannot be estimated. Each caller picks its own branch for
    ``None``."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


# Optimizer-estimated size above which a frame read by several passes is
# persisted (``persist_for_reuse_if_large``, ``logistic_irls``): below it,
# re-deriving the subtree measured faster than caching it.
_PERSIST_BYTES = 1 << 30


def persist_for_reuse_if_large(df: DataFrame, probe_df: DataFrame | None = None) -> DataFrame:
    """Scale-conditional persist for a frame consumed by MULTIPLE passes
    (r12 verdict item 7): below the optimizer-estimated byte threshold the
    input is returned untouched — at bench scale re-deriving a small
    subtree measured FASTER than memory-store materialization + cached-
    block scheduling (r12: docsim persist 4.0-5.2 s vs 2.8-3.6 s
    unpersisted; the logistic_irls r5 lesson) — while above it each extra
    pass re-scans a corpus-scale input, which always loses to one
    MEMORY_AND_DISK materialization.

    The persisted frame is intentionally NOT unpersisted here: the
    consuming action belongs to the caller (the returned plan is lazy).
    The leak is bounded — Spark's ContextCleaner unpersists cached plans
    whose RDDs become unreachable after the caller drops the frame, and
    MEMORY_AND_DISK blocks are evictable under pressure.

    ``probe_df``: estimate over THIS (usually upstream, structurally
    simpler) frame instead of ``df`` — the probe runs the optimizer on
    the probed plan driver-side, which for a join-bearing ``df`` costs a
    visible fraction of a bench-scale run (measured ~+6% on
    text_docsim_topk probing the banded-postings join directly)."""
    est = estimate_bytes(probe_df if probe_df is not None else df)
    if est is not None and est > _PERSIST_BYTES:
        from pyspark import StorageLevel

        return df.persist(StorageLevel.MEMORY_AND_DISK)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table; path layout is ``{sf_dir}/{name}.parquet``.

    Self-sufficient against foreign sessions: the driver harness builds its
    own SparkSession without this engine's defaults, so the two confs that
    change RESULTS (nanos handling, timestamp session zone) are pinned here
    at read time (both runtime-settable)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name in _EVENT_TS_COLS:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    return normalize_event_ts(df, *_EVENT_TS_COLS.get(name, ()))


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TESTDATA_TABLES)}
