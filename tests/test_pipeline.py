"""End-to-end medallion pipeline on reference-shaped dirty fixtures."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from urban_traffic_data_lake_project_spark.plans import pipeline as P


@pytest.fixture(scope="module")
def layers(spark):
    d = tempfile.mkdtemp(prefix="medallion_")
    paths = P.run_pipeline(spark, d, n_rows=3000, seed=42)
    yield paths
    shutil.rmtree(d, ignore_errors=True)


def _assert_traffic_clean(t, n_rows: int) -> None:
    n = t.count()
    assert 0 < n < n_rows  # bad timestamps + dupes dropped
    # key uniqueness after dedup (NULL keys collapse to one survivor row)
    assert t.select("traffic_id").distinct().count() == n
    # no NULLs in filled columns
    for c in P.TRAFFIC_CATEGORICALS + P.TRAFFIC_NUMERICS:
        assert t.filter(F.col(c).isNull()).count() == 0, c
    # timestamps parsed
    assert dict(t.dtypes)["date_time"] == "timestamp"
    # negatives clipped away by IQR clip (negative speeds were injected)
    assert t.agg(F.min("avg_speed_kmh")).first()[0] >= -20


def _assert_weather_coerced(w) -> None:
    assert dict(w.dtypes)["visibility_m"] == "double"
    assert w.filter(F.col("visibility_m").isNull()).count() == 0


def test_silver_traffic_is_clean(spark, layers):
    _assert_traffic_clean(spark.read.parquet(f"{layers.silver}/traffic_clean"), 3000)


def test_silver_weather_mixed_column_coerced(spark, layers):
    _assert_weather_coerced(spark.read.parquet(f"{layers.silver}/weather_clean"))


def test_merge_fans_out_on_day_key(spark, layers):
    t = spark.read.parquet(f"{layers.silver}/traffic_clean")
    m = spark.read.parquet(f"{layers.silver}/merged_data")
    assert m.count() >= t.count()  # left join keeps all traffic rows
    # suffixed collision columns exist
    assert "date_time_traffic" in m.columns and "date_time_weather" in m.columns
    assert "visibility_m_traffic" in m.columns and "visibility_m_weather" in m.columns
    assert "city" in m.columns  # join key not suffixed


def test_gold_outputs(spark, layers):
    sc = spark.read.parquet(f"{layers.gold}/monte_carlo_scenarios")
    assert sc.count() == 4
    assert set(sc.columns) >= {
        "scenario", "description", "mean_traffic", "traffic_std",
        "congestion_prob_high", "accident_risk_high", "threshold_used", "n_simulations",
    }
    boot = spark.read.parquet(f"{layers.gold}/monte_carlo_results")
    assert 0 < boot.count() <= 8
    assert {"column_name", "mean_estimate", "ci_lower_95", "ci_upper_95"} <= set(boot.columns)
    loadings = spark.read.parquet(f"{layers.gold}/factor_loadings")
    factors = spark.read.parquet(f"{layers.gold}/traffic_weather_factors")
    k = len([c for c in loadings.columns if c.endswith("_loading")])
    assert 1 <= k <= 5
    score_cols = [c for c in factors.columns if c.endswith("_score")]
    assert len(score_cols) == k
    m = spark.read.parquet(f"{layers.silver}/merged_data")
    assert factors.count() == m.count()


def test_silver_is_one_file_per_table(layers):
    import glob

    for name in ("traffic_clean", "weather_clean"):
        table = f"{layers.silver}/{name}"
        assert not glob.glob(f"{table}/day=*")  # no day partitioning
        assert len(glob.glob(f"{table}/*.parquet")) == 1, name  # rebalance sized it


@pytest.fixture(scope="module")
def nan_seed_silver(spark):
    """Bronze + silver at 200 rows on fixture seed 5, whose weather
    visibility_m parses a NaN into the quantile columns; records the
    persisted RDD count around run_silver. Runs at the session default of
    32 shuffle partitions (this test session uses 8): a quantile path that
    drops NaN columns onto the t-digest misses its band there."""
    d = tempfile.mkdtemp(prefix="medallion_nan_")
    paths = P.LayerPaths(d)
    jsc = spark.sparkContext._jsc
    shuffle_partitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        P.run_bronze(spark, paths, n_rows=200, seed=5)
        before = jsc.getPersistentRDDs().size()
        P.run_silver(spark, paths)
        after = jsc.getPersistentRDDs().size()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", shuffle_partitions)
    yield paths, before, after
    shutil.rmtree(d, ignore_errors=True)


def test_run_silver_releases_its_cache(nan_seed_silver):
    _, before, after = nan_seed_silver
    assert after == before


def test_silver_with_nan_visibility_is_clean(spark, nan_seed_silver):
    paths = nan_seed_silver[0]
    w = spark.read.parquet(f"{paths.silver}/weather_clean")
    _assert_traffic_clean(spark.read.parquet(f"{paths.silver}/traffic_clean"), 200)
    _assert_weather_coerced(w)
    assert w.select("weather_id").distinct().count() == w.count()
