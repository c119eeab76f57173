"""The medallion pipeline — the reference's end-to-end dataflow
(main.py:36-114) re-expressed as lazy DataFrame stages over parquet layers.

Bronze (raw CSV, string-tolerant schema) -> Silver (typed, cleaned,
compact parquet) -> Gold (scenario simulation, bootstrap CIs, factor
scores + loadings).

Differences from the reference, by design (SURVEY.md §7):
- No object-store copy steps (S5/S6): Spark addresses every layer path
  directly; "dual-write" is just two .write calls if ever needed.
- Every stage is a pure DataFrame -> DataFrame function; only sinks
  trigger jobs; Catalyst plans each stage end-to-end.
- Silver is one compact parquet table per source, as in the reference
  (clean_traffic.py:133-146): no reader prunes on a day partition (the
  merge reads every row), and partitioning by day writes one small file
  per day. The write is ``rebalance``-hinted, so AQE sizes its files from
  the observed output: one file at fixture sizes, files near the advisory
  partition size at scale, never a single task.
- The measure column for the scenario simulation is explicit
  (vehicle_count), not the reference's first-numeric-column fallback
  (M4 quirk, monte_carlo.py:192-195).

Cleaning order matches clean_traffic.py:57-131 exactly: dedup -> timestamp
parse/drop -> mode-fill categoricals -> numeric coercion -> null-fraction
drop -> IQR clip -> median fill.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from urban_traffic_data_lake_project_spark.operators import bootstrap as B
from urban_traffic_data_lake_project_spark.operators import cleaning as C
from urban_traffic_data_lake_project_spark.operators import factor_analysis as FA
from urban_traffic_data_lake_project_spark.operators import merge as M
from urban_traffic_data_lake_project_spark.operators import monte_carlo as MC

TRAFFIC_CATEGORICALS = ["city", "area", "congestion_level", "road_condition"]
TRAFFIC_NUMERICS = ["vehicle_count", "avg_speed_kmh", "accident_count", "visibility_m"]
WEATHER_CATEGORICALS = ["city", "season", "weather_condition"]
WEATHER_NUMERICS = ["temperature_c", "humidity", "rain_mm", "wind_speed_kmh", "visibility_m"]


@dataclass(frozen=True)
class LayerPaths:
    base: str

    @property
    def bronze(self) -> str:
        return os.path.join(self.base, "bronze")

    @property
    def silver(self) -> str:
        return os.path.join(self.base, "silver")

    @property
    def gold(self) -> str:
        return os.path.join(self.base, "gold")


@contextmanager
def clean_table(
    df: DataFrame,
    key: str,
    ts_col: str,
    categoricals: list[str],
    numerics: list[str],
    mixed_type_cols: list[str] = (),
) -> Iterator[DataFrame]:
    """The reference cleaning kernel in reference order, as a context.

    The parsed frame is persisted because the fitted-statistics passes each
    trigger an action over it; the cleaned plan still reads that cache, so
    consume it inside the block. The cache is released on exit."""
    parsed = C.parse_timestamps(
        C.dedup_by_key(df, keys=[key], tiebreak=[ts_col, *numerics]), ts_col
    ).persist()
    try:
        out = C.mode_fill(parsed, categoricals)
        if mixed_type_cols:
            out = C.coerce_numeric(out, list(mixed_type_cols))
        out = C.null_fraction_drop(out, numerics, threshold=0.5)
        out = C.iqr_clip(out, numerics)
        yield C.median_fill(out, numerics)
    finally:
        parsed.unpersist()


def run_bronze(spark: SparkSession, paths: LayerPaths, n_rows: int = 5000, seed: int = 42) -> None:
    """Land raw dirty CSVs (reference generate_* stage)."""
    from urban_traffic_data_lake_project_spark.plans import fixtures

    fixtures.generate_traffic_raw(spark, n_rows, seed).write.mode("overwrite").option(
        "header", True
    ).csv(os.path.join(paths.bronze, "traffic_raw"))
    fixtures.generate_weather_raw(spark, n_rows, seed + 95).write.mode("overwrite").option(
        "header", True
    ).csv(os.path.join(paths.bronze, "weather_raw"))


def run_silver(spark: SparkSession, paths: LayerPaths) -> None:
    """Clean both sources and write typed, compact silver parquet."""
    traffic = spark.read.option("header", True).option("inferSchema", True).csv(
        os.path.join(paths.bronze, "traffic_raw")
    )
    weather = spark.read.option("header", True).option("inferSchema", True).csv(
        os.path.join(paths.bronze, "weather_raw")
    )
    with clean_table(
        traffic, "traffic_id", "date_time", TRAFFIC_CATEGORICALS, TRAFFIC_NUMERICS
    ) as traffic_clean, clean_table(
        weather, "weather_id", "date_time", WEATHER_CATEGORICALS, WEATHER_NUMERICS,
        mixed_type_cols=["visibility_m"],
    ) as weather_clean:
        for name, df in (("traffic_clean", traffic_clean), ("weather_clean", weather_clean)):
            df.hint("rebalance").write.mode("overwrite").parquet(os.path.join(paths.silver, name))


def run_merge(spark: SparkSession, paths: LayerPaths) -> None:
    """The reference merge stage: left join on (city, day) with suffixes."""
    traffic = spark.read.parquet(os.path.join(paths.silver, "traffic_clean"))
    weather = spark.read.parquet(os.path.join(paths.silver, "weather_clean"))
    merged = M.day_key_merge(
        traffic, weather, left_ts="date_time", right_ts="date_time",
        extra_keys=["city"], how="left", lsuffix="_traffic", rsuffix="_weather",
    )
    merged.write.mode("overwrite").parquet(os.path.join(paths.silver, "merged_data"))


def run_gold(spark: SparkSession, paths: LayerPaths, seed: int = 42) -> None:
    """Gold analytics: Monte Carlo scenarios, bootstrap CIs, factor scores."""
    merged = spark.read.parquet(os.path.join(paths.silver, "merged_data"))

    MC.simulate_scenarios(spark, merged, "vehicle_count", 10_000, seed).write.mode(
        "overwrite"
    ).parquet(os.path.join(paths.gold, "monte_carlo_scenarios"))

    B.bootstrap_ci(merged, n_replicates=1000, seed=seed).write.mode("overwrite").parquet(
        os.path.join(paths.gold, "monte_carlo_results")
    )

    model = FA.fit_on_sample(merged)
    FA.attach_factor_scores(merged, model).write.mode("overwrite").parquet(
        os.path.join(paths.gold, "traffic_weather_factors")
    )
    FA.loadings_table(spark, model).write.mode("overwrite").parquet(
        os.path.join(paths.gold, "factor_loadings")
    )


def run_pipeline(spark: SparkSession, base_dir: str, n_rows: int = 5000, seed: int = 42) -> LayerPaths:
    """bronze -> silver -> merge -> gold, end to end (reference main.py)."""
    paths = LayerPaths(base_dir)
    run_bronze(spark, paths, n_rows, seed)
    run_silver(spark, paths)
    run_merge(spark, paths)
    run_gold(spark, paths, seed)
    return paths


_STAGES = {
    "bronze": lambda spark, paths, n, seed: run_bronze(spark, paths, n, seed),
    "silver": lambda spark, paths, n, seed: run_silver(spark, paths),
    "merge": lambda spark, paths, n, seed: run_merge(spark, paths),
    "gold": lambda spark, paths, n, seed: run_gold(spark, paths, seed),
    "all": lambda spark, paths, n, seed: run_pipeline(spark, paths.base, n, seed),
}


def main() -> None:
    """Per-stage CLI (reference: every script runnable standalone,
    README.md:297-321): ``python -m ...plans.pipeline --stage silver``."""
    import argparse

    from urban_traffic_data_lake_project_spark.session import get_spark

    ap = argparse.ArgumentParser(description="medallion pipeline stages")
    ap.add_argument("--base-dir", required=True)
    ap.add_argument("--stage", choices=sorted(_STAGES), default="all")
    ap.add_argument("--rows", type=int, default=5000)
    ap.add_argument("--seed", type=int, default=42)
    args = ap.parse_args()
    spark = get_spark(f"pipeline-{args.stage}")
    _STAGES[args.stage](spark, LayerPaths(args.base_dir), args.rows, args.seed)
    print(f"stage '{args.stage}' complete under {args.base_dir}")


if __name__ == "__main__":
    main()
