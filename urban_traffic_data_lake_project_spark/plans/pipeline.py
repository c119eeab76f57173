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

- Silver reads bronze with the fixture generators' schemas declared as DDL
  (``*_BRONZE_DDL``, which the CSV reader maps by position), not with
  ``inferSchema``, which scans each CSV twice.

Cleaning order matches clean_traffic.py:57-131 exactly: dedup -> timestamp
parse/drop -> mode-fill categoricals -> numeric coercion -> null-fraction
drop -> IQR clip -> median fill, fitted in two jobs per table
(``cleaning.fit_clean``). Both tables' fit-and-write chains run at once
under the caller's job group (``overlap_jobs``).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from urban_traffic_data_lake_project_spark.functions.concurrency import overlap_jobs
from urban_traffic_data_lake_project_spark.operators import bootstrap as B
from urban_traffic_data_lake_project_spark.operators import cleaning as C
from urban_traffic_data_lake_project_spark.operators import factor_analysis as FA
from urban_traffic_data_lake_project_spark.operators import merge as M
from urban_traffic_data_lake_project_spark.operators import monte_carlo as MC

TRAFFIC_CATEGORICALS = ["city", "area", "congestion_level", "road_condition"]
TRAFFIC_NUMERICS = ["vehicle_count", "avg_speed_kmh", "accident_count", "visibility_m"]
WEATHER_CATEGORICALS = ["city", "season", "weather_condition"]
WEATHER_NUMERICS = ["temperature_c", "humidity", "rain_mm", "wind_speed_kmh", "visibility_m"]
TRAFFIC_BRONZE_DDL = (
    "traffic_id double, date_time string, city string, area string, vehicle_count double, "
    "avg_speed_kmh double, accident_count double, congestion_level string, "
    "road_condition string, visibility_m double"
)
WEATHER_BRONZE_DDL = (
    "weather_id double, date_time string, city string, season string, temperature_c double, "
    "humidity double, rain_mm double, wind_speed_kmh double, visibility_m string, "
    "weather_condition string"
)


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


def clean_table(
    raw: DataFrame, key: str, categoricals: list[str], numerics: list[str],
    mixed_type_cols: list[str], path: str,
) -> None:
    """The reference cleaning kernel in reference order, written to ``path``.

    The parsed frame is persisted because the two fit jobs and the write
    each read it; it is released once the write is done."""
    parsed = C.parse_timestamps(
        C.dedup_by_key(raw, keys=[key], tiebreak=["date_time", *numerics]), "date_time"
    ).persist()
    try:
        C.fit_clean(parsed, categoricals, numerics, mixed_type_cols).hint("rebalance").write.mode(
            "overwrite"
        ).parquet(path)
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
    """Clean both sources and write typed, compact silver parquet, the two
    tables' fit-and-write chains overlapped."""

    def read(source: str, ddl: str) -> DataFrame:
        return spark.read.schema(ddl).option("header", True).csv(
            os.path.join(paths.bronze, f"{source}_raw")
        )

    overlap_jobs(
        lambda: clean_table(
            read("traffic", TRAFFIC_BRONZE_DDL), "traffic_id", TRAFFIC_CATEGORICALS,
            TRAFFIC_NUMERICS, [], os.path.join(paths.silver, "traffic_clean"),
        ),
        lambda: clean_table(
            read("weather", WEATHER_BRONZE_DDL), "weather_id", WEATHER_CATEGORICALS,
            WEATHER_NUMERICS, ["visibility_m"], os.path.join(paths.silver, "weather_clean"),
        ),
    )


def run_merge(spark: SparkSession, paths: LayerPaths) -> None:
    """The reference merge stage: left join on (city, day) with suffixes."""
    traffic = spark.read.parquet(os.path.join(paths.silver, "traffic_clean"))
    weather = spark.read.parquet(os.path.join(paths.silver, "weather_clean"))
    merged = M.day_key_merge(
        traffic, weather, left_ts="date_time", right_ts="date_time",
        extra_keys=["city"], how="left", lsuffix="_traffic", rsuffix="_weather",
    )
    merged.write.mode("overwrite").parquet(os.path.join(paths.silver, "merged_data"))


def gold_row_key() -> Column:
    """The row key gold's bootstrap weights and factor-analysis fit set are
    drawn by over ``merged_data``: one merged row per (traffic row, matched
    weather row). Silver keeps at most one NULL id per table and the left
    join leaves ``weather_id`` NULL on unmatched traffic rows, so NULL ids
    map to "" and the key is non-NULL and unique."""
    return F.concat_ws(
        "|",
        F.coalesce(F.col("traffic_id").cast("string"), F.lit("")),
        F.coalesce(F.col("weather_id").cast("string"), F.lit("")),
    )


def run_gold(spark: SparkSession, paths: LayerPaths, seed: int = 42) -> None:
    """Gold analytics: Monte Carlo scenarios, bootstrap CIs, factor scores."""
    merged = spark.read.parquet(os.path.join(paths.silver, "merged_data"))

    MC.simulate_scenarios(spark, merged, "vehicle_count", 10_000, seed).write.mode(
        "overwrite"
    ).parquet(os.path.join(paths.gold, "monte_carlo_scenarios"))

    B.bootstrap_ci(merged, n_replicates=1000, seed=seed, hash_key=gold_row_key()).write.mode(
        "overwrite"
    ).parquet(os.path.join(paths.gold, "monte_carlo_results"))

    model = FA.fit_on_sample(merged, hash_key=gold_row_key())
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
