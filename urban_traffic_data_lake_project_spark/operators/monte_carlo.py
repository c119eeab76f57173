"""Monte Carlo scenario simulation (reference M2, scripts/monte_carlo.py:161-230).

Reference semantics: per weather scenario, draw ``n_simulations`` samples
from N(base_mean * mult, base_mean * 0.18) where mult is the product of the
scenario's two multiplier tables (define_weather_scenarios() x
scenario_multipliers, monte_carlo.py:116-154 and :199-206); congestion
probability = share of draws above the historical 75th percentile;
accident probability = mean of Bernoulli(0.025 * accident_factor).

Spark-first design: ``spark.range(n_simulations)`` cross-joined with the
4-row scenario spec (broadcast), seeded ``F.randn``/``F.rand`` per draw,
one grouped aggregation — fully JVM-side, embarrassingly parallel, no
Python in the loop. 10k draws or 10B draws is the same plan.

The reference's traffic-column fallback quirk (M4: falls back to the first
numeric column, i.e. the ID) is parameterized away — callers name the
measure column explicitly.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Scenario:
    name: str
    description: str
    traffic_mult: float      # define_weather_scenarios()[name]["traffic_mult"]
    accident_factor: float   # ...["accident_factor"]
    extra_mult: float        # scenario_multipliers[name] (monte_carlo.py:199-206)

    @property
    def effective_mult(self) -> float:
        return self.traffic_mult * self.extra_mult


# Calibration constants from the reference (monte_carlo.py:116-154, 199-206).
DEFAULT_SCENARIOS: tuple[Scenario, ...] = (
    Scenario("sunny", "Clear weather, normal conditions", 1.1, 0.7, 1.05),
    Scenario("rainy", "Heavy rain, reduced visibility", 0.9, 1.6, 0.85),
    Scenario("foggy", "Dense fog, low visibility", 0.8, 2.1, 0.75),
    Scenario("snowy", "Snow/ice conditions, severe impact", 0.7, 2.8, 0.65),
)

BASE_ACCIDENT_RATE = 0.025   # monte_carlo.py:218
VOLATILITY = 0.18            # monte_carlo.py:210


def scenario_spec_df(spark: SparkSession, scenarios=DEFAULT_SCENARIOS) -> DataFrame:
    return spark.createDataFrame(
        [(s.name, s.description, s.effective_mult, s.accident_factor) for s in scenarios],
        "scenario string, description string, effective_mult double, accident_factor double",
    )


def base_stats(df: DataFrame, measure_col: str) -> tuple[float, float]:
    """(mean, p75 threshold) of the measure column: the ``mean`` and the
    exact p75 ``quantiles`` of one ``stats.column_profile(...,
    moments=True)`` pass — Spark's native ``percentile`` buffers every
    value of a high-cardinality double in one aggregation buffer."""
    from urban_traffic_data_lake_project_spark.operators.stats import column_profile

    cp = column_profile(df, [measure_col], [0.75], moments=True).columns[measure_col]
    return float(cp.mean), float(cp.quantiles[0])


def pick_measure_column(df: DataFrame) -> str:
    """Reference-compat column pick (M4 quirk, monte_carlo.py:192-195):
    prefer 'traffic_volume'/'volume', else fall back to the FIRST numeric
    column — which in the reference is the ID column, so the published
    numbers simulate over IDs. Kept only behind this explicit helper;
    callers should name the measure."""
    from pyspark.sql.types import NumericType

    for cand in ("traffic_volume", "volume"):
        if cand in df.columns:
            return cand
    for f in df.schema.fields:
        if isinstance(f.dataType, NumericType):
            return f.name
    raise ValueError("no numeric column available")


def simulate_scenarios(
    spark: SparkSession,
    df: DataFrame,
    measure_col: str | None = None,
    n_simulations: int = 10_000,
    seed: int = 42,
    scenarios=DEFAULT_SCENARIOS,
) -> DataFrame:
    """4-row scenario table matching the reference's output schema
    (monte_carlo.py:221-230): mean_traffic, traffic_std (population, as
    np.std), congestion_prob_high, accident_risk_high, threshold_used,
    n_simulations."""
    if measure_col is None:
        measure_col = pick_measure_column(df)
    mu, p75 = base_stats(df, measure_col)
    spec = scenario_spec_df(spark, scenarios)
    draws = (
        spark.range(n_simulations)
        .crossJoin(F.broadcast(spec))
        .withColumn("sim_traffic", F.lit(mu) * F.col("effective_mult") + F.lit(mu * VOLATILITY) * F.randn(seed))
        .withColumn(
            "accident",
            (F.rand(seed + 1) < F.lit(BASE_ACCIDENT_RATE) * F.col("accident_factor")).cast("double"),
        )
    )
    return (
        draws.groupBy("scenario", "description")
        .agg(
            F.round(F.avg("sim_traffic"), 2).alias("mean_traffic"),
            F.round(F.stddev_pop("sim_traffic"), 2).alias("traffic_std"),
            F.round(F.avg((F.col("sim_traffic") > p75).cast("double")) * 100, 2).alias("congestion_prob_high"),
            F.round(F.avg("accident") * 100, 2).alias("accident_risk_high"),
            F.lit(round(p75, 2)).alias("threshold_used"),
            F.lit(n_simulations).alias("n_simulations"),
        )
    )


def scenario_expectations(
    spark: SparkSession, df: DataFrame, measure_col: str, scenarios=DEFAULT_SCENARIOS
) -> DataFrame:
    """The deterministic core of the simulation — analytic expected mean and
    std per scenario plus the historical threshold. Oracle-checkable; the
    stochastic ``simulate_scenarios`` is validated distributionally against
    these in tests."""
    mu, p75 = base_stats(df, measure_col)
    spec = scenario_spec_df(spark, scenarios)
    return spec.select(
        "scenario",
        "description",
        F.round(F.lit(mu) * F.col("effective_mult"), 4).alias("expected_mean"),
        F.round(F.lit(mu * VOLATILITY), 4).alias("expected_std"),
        F.round(F.lit(p75), 4).alias("threshold_used"),
        F.round(F.lit(BASE_ACCIDENT_RATE) * F.col("accident_factor") * 100, 4).alias("expected_accident_pct"),
    )
