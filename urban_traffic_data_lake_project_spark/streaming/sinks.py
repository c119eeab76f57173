"""A streaming sink with end-to-end exactly-once semantics on plain
parquet (no Delta in this container — see SCALING.md's documented
exclusion), and the versioned table it writes.

``foreach_batch_upsert`` is a MERGE-style keyed upsert implemented as
read-current -> union -> keep-latest-per-key -> write-new-version ->
atomically advance a version pointer. The Delta-MERGE equivalent on raw
parquet; versions make retries safe (a retried batch rebuilds the same
next version from the same inputs), and every committed version stays
readable (``read_version``, ``version_diff``) until vacuumed.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


_POINTER = "_VERSION"


def current_version(table_dir: str) -> int:
    ptr = os.path.join(table_dir, _POINTER)
    if not os.path.exists(ptr):
        return -1
    with open(ptr) as f:
        return json.load(f)["version"]


def read_versioned(spark, table_dir: str) -> DataFrame | None:
    v = current_version(table_dir)
    if v < 0:
        return None
    return spark.read.parquet(os.path.join(table_dir, f"v={v}"))


def list_versions(table_dir: str) -> list[int]:
    """All committed versions of a versioned table, ascending. Only
    versions at or below the pointer count — a crashed writer may leave
    an orphaned v=N+1 directory that was never committed."""
    cur = current_version(table_dir)
    if cur < 0:
        return []
    out = []
    for name in os.listdir(table_dir):
        if name.startswith("v="):
            v = int(name[2:])
            if v <= cur:
                out.append(v)
    return sorted(out)


def read_version(spark, table_dir: str, version: int) -> DataFrame:
    """Time travel: read the table AS OF ``version``. Every upsert epoch
    leaves its full version directory behind (the pointer only advances),
    so any historical state remains queryable until versions are vacuumed
    — the raw-parquet analogue of Delta's VERSION AS OF."""
    versions = list_versions(table_dir)
    if version not in versions:
        raise ValueError(f"version {version} not in {versions} at {table_dir}")
    return spark.read.parquet(os.path.join(table_dir, f"v={version}"))


def version_diff(
    spark, table_dir: str, v_from: int, v_to: int, keys: list[str]
) -> DataFrame:
    """Change-data-capture between two committed versions: one row per
    changed key with change_type insert / update / delete. Full-outer
    join on the keys; a key present in both versions is an update iff any
    non-key column differs (null-safe per-column compare — both sides
    were written by this engine, so equal states are bit-identical).
    The downstream-sync primitive time travel enables: consumers pull
    the delta between the version they last saw and the pointer instead
    of re-reading the table."""
    old = read_version(spark, table_dir, v_from)
    new = read_version(spark, table_dir, v_to)
    value_cols = [c for c in new.columns if c not in keys]
    o = old.select(
        *[F.col(k).alias(f"__ok_{k}") for k in keys],
        *[F.col(c).alias(f"__ov_{c}") for c in value_cols],
    )
    n = new.select(
        *[F.col(k).alias(f"__nk_{k}") for k in keys],
        *[F.col(c).alias(f"__nv_{c}") for c in value_cols],
    )
    cond = None
    for k in keys:
        eq = F.col(f"__ok_{k}") == F.col(f"__nk_{k}")
        cond = eq if cond is None else (cond & eq)
    j = o.join(n, cond, "full_outer")
    in_old = F.col(f"__ok_{keys[0]}").isNotNull()
    in_new = F.col(f"__nk_{keys[0]}").isNotNull()
    differs = None
    for c in value_cols:
        d = ~F.col(f"__ov_{c}").eqNullSafe(F.col(f"__nv_{c}"))
        differs = d if differs is None else (differs | d)
    change = (
        F.when(~in_old, F.lit("insert"))
        .when(~in_new, F.lit("delete"))
        .when(differs, F.lit("update"))
        .otherwise(F.lit("none"))
    )
    return (
        j.withColumn("change_type", change)
        .filter(F.col("change_type") != "none")
        .select(
            *[
                F.coalesce(F.col(f"__nk_{k}"), F.col(f"__ok_{k}")).alias(k)
                for k in keys
            ],
            "change_type",
        )
    )


def vacuum_versions(table_dir: str, keep_last: int = 2) -> list[int]:
    """Retention for the versioned layout: delete all committed version
    directories except the newest ``keep_last`` (the pointer's version is
    always kept). Returns the versions removed. Bounds time-travel
    storage the same way Delta's VACUUM does — after vacuuming, reads of
    removed versions fail fast in ``read_version``."""
    import shutil

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    versions = list_versions(table_dir)
    doomed = versions[:-keep_last] if len(versions) > keep_last else []
    for v in doomed:
        shutil.rmtree(os.path.join(table_dir, f"v={v}"))
    return doomed


def foreach_batch_upsert(table_dir: str, keys: list[str], order_col: str):
    """MERGE-style upsert sink on raw parquet: per epoch, read the
    current version, union the batch, keep the latest row per key
    (``order_col`` DESC, deterministic), write version v+1, then advance
    the pointer file. Readers always see a complete version; a retried
    epoch rebuilds the same next version from the same inputs, so the
    table never double-applies a batch.

    At scale the read-union-rewrite is the no-transaction-log trade
    (Delta/Iceberg replace it with a metadata commit); partitioning the
    versioned table by a key prefix bounds each epoch's rewrite to the
    touched partitions."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        cur = read_versioned(spark, table_dir)
        unioned = batch_df if cur is None else cur.unionByName(batch_df)
        w = Window.partitionBy(*keys).orderBy(
            F.col(order_col).desc(), *[F.col(k) for k in keys]
        )
        latest = (
            unioned.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        next_v = current_version(table_dir) + 1
        latest.write.mode("overwrite").parquet(
            os.path.join(table_dir, f"v={next_v}")
        )
        os.makedirs(table_dir, exist_ok=True)
        tmp = os.path.join(table_dir, _POINTER + ".tmp")
        with open(tmp, "w") as f:
            json.dump({"version": next_v, "batch_id": batch_id}, f)
        os.replace(tmp, os.path.join(table_dir, _POINTER))  # atomic advance

    return sink
