"""Lakehouse operations: quality expectations, SCD-2 history, incremental
aggregate maintenance — oracle parity plus the semantic properties the
hash check can't express."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from urban_traffic_data_lake_project_spark.queries import lakehouse as ql
from urban_traffic_data_lake_project_spark.sources import load_table


@pytest.mark.parametrize("name", sorted(ql.REGISTRY))
def test_lakehouse_query_matches_oracle(oracle, name):
    oracle(name)


def test_quality_expectations_all_pass_on_clean_testdata(spark, sf_dir):
    rows = {r.expectation: r for r in ql.REGISTRY["quality_expectations"].fn(spark, sf_dir).collect()}
    assert len(rows) == 6
    for name, r in rows.items():
        assert r["pass"] == 1 and r.n_violations == 0, name
        assert r.n_checked > 0


def test_quality_expectations_catch_injected_violations(spark, sf_dir, tmp_path):
    """Break referential integrity and uniqueness in a copy of the data;
    the corresponding expectations must flip to fail with exact counts."""
    import shutil, os

    for t in ("orders", "customer", "lineitem"):
        src = os.path.join(sf_dir, f"{t}.parquet")
        shutil.copy(src, tmp_path / f"{t}.parquet")
    orders = spark.read.parquet(str(tmp_path / "orders.parquet"))
    # 3 orphan FK rows (custkey far outside the domain, fresh orderkeys so
    # the uniqueness check stays isolated) + 1 duplicated key
    bad = (
        orders.limit(3)
        .withColumn("o_custkey", F.lit(10**12))
        .withColumn("o_orderkey", F.lit(10**12) + F.monotonically_increasing_id())
    )
    dup = orders.limit(1)
    orders.unionByName(bad).unionByName(dup).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "orders_new.parquet")
    )
    shutil.rmtree(tmp_path / "orders.parquet", ignore_errors=True)
    os.remove(tmp_path / "orders.parquet") if os.path.isfile(tmp_path / "orders.parquet") else None
    shutil.move(str(tmp_path / "orders_new.parquet"), str(tmp_path / "orders.parquet"))

    rows = {r.expectation: r for r in ql.REGISTRY["quality_expectations"].fn(spark, str(tmp_path)).collect()}
    assert rows["fk_orders_custkey"]["pass"] == 0
    assert rows["fk_orders_custkey"].n_violations == 3
    assert rows["unique_o_orderkey"]["pass"] == 0
    # the duplicated row adds 1 extra occurrence of an existing key
    assert rows["unique_o_orderkey"].n_violations == 1
    # untouched tables keep passing
    assert rows["not_null_c_acctbal"]["pass"] == 1
    assert rows["range_l_quantity_1_50"]["pass"] == 1


def test_scd2_intervals_are_contiguous_and_single_current(spark, sf_dir):
    out = ql.REGISTRY["scd2_user_history"].fn(spark, sf_dir)
    # exactly one current version per user
    per_user = out.groupBy("user_id").agg(
        F.sum("is_current").alias("n_current"),
        F.count(F.lit(1)).alias("n_versions"),
        F.max("version").alias("max_version"),
    )
    bad = per_user.filter(
        (F.col("n_current") != 1) | (F.col("max_version") != F.col("n_versions"))
    ).count()
    assert bad == 0
    # intervals chain: valid_to of version v == valid_from of version v+1
    a = out.select("user_id", "version", "valid_to")
    b = out.select(
        "user_id", (F.col("version") - 1).alias("version"), F.col("valid_from").alias("next_from")
    )
    gaps = a.join(b, ["user_id", "version"]).filter(F.col("valid_to") != F.col("next_from")).count()
    assert gaps == 0


def test_incremental_merge_equals_full_recompute(spark, sf_dir):
    """The partial-merge refresh must equal a from-scratch aggregate —
    the invariant that makes delta-sized maintenance safe."""
    merged = {
        tuple(r) for r in ql.REGISTRY["agg_incremental_maintenance"].fn(spark, sf_dir).collect()
    }
    orders = load_table(spark, sf_dir, "orders")
    full = {
        tuple(r)
        for r in orders.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
            F.round(F.sum("o_totalprice") / F.count(F.lit(1)), 6).alias("avg_price"),
        )
        .collect()
    }
    assert merged == full


def test_zorder_codes_cover_all_rows(spark, sf_dir):
    """Bucket counts from the oracle-gated query must sum to the table
    row count (no row lost or double-counted by the scaling clamp)."""
    out = ql.REGISTRY["lakehouse_zorder_codes"].fn(spark, sf_dir).collect()
    n = sum(r["n_rows"] for r in out)
    assert n == load_table(spark, sf_dir, "lineitem").count()


def test_l_diversity_flag_and_entropy_invariants(spark, sf_dir):
    """Entropy is bounded by ln(distinct); the flags are consistent with
    the reported counts; every customer row is accounted for."""
    import math

    out = ql.REGISTRY["privacy_l_diversity"].fn(spark, sf_dir).collect()
    assert sum(r["n_rows"] for r in out) == load_table(
        spark, sf_dir, "customer"
    ).count()
    for r in out:
        assert 1 <= r["distinct_sensitive"] <= r["n_rows"]
        assert -1e-9 <= r["entropy"] <= math.log(r["distinct_sensitive"]) + 1e-6
        assert r["distinct_l_ok"] == (r["distinct_sensitive"] >= ql._LDIV_L)
        # entropy-l implies nothing about distinct-l in general, but
        # entropy-l CANNOT hold with fewer than l distinct values
        if r["entropy_l_ok"]:
            assert r["distinct_sensitive"] >= ql._LDIV_L


def test_skipping_stats_clustered_layout_wins(spark, sf_dir):
    """The zone-map advisor's core claim: the shipdate-clustered layout
    prunes strictly more files than ingestion order for a shipdate range
    predicate, and every scanned set covers the true matches."""
    rows = {r["layout"]: r for r in ql.REGISTRY["lakehouse_skipping_stats"].fn(spark, sf_dir).collect()}
    ing, clu = rows["ingest_orderkey"], rows["clustered_shipdate"]
    for r in (ing, clu):
        assert r["files_scanned"] <= r["n_files"]
        assert r["rows_scanned"] >= r["rows_matched"]  # skipping is sound
        assert r["read_amplification"] >= 1.0
    assert clu["skip_ratio"] > ing["skip_ratio"]
    assert clu["read_amplification"] < ing["read_amplification"]


def test_compaction_plan_bins_cover_and_fill(spark, sf_dir):
    """The plan partitions the file inventory in key order: groups are
    disjoint ordered spans, every row is assigned, and every non-final
    output file lands within one input-file of the target size."""
    plan = sorted(
        ql.REGISTRY["lakehouse_compaction_plan"].fn(spark, sf_dir).collect(),
        key=lambda r: r["out_file"],
    )
    li = load_table(spark, sf_dir, "lineitem")
    assert sum(r["n_rows"] for r in plan) == li.count()
    max_file = (
        li.groupBy(F.expr(f"l_orderkey DIV {ql._COMPACT_SLIVER}"))
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    for prev, nxt in zip(plan, plan[1:]):
        assert prev["last_input"] < nxt["first_input"]  # key order kept
    for r in plan[:-1]:
        assert abs(r["n_rows"] - ql._COMPACT_TARGET) < max_file, r
        assert r["fill_ratio"] > 0.5
    assert all(r["first_input"] <= r["last_input"] for r in plan)
