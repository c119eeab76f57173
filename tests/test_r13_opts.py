"""Round-13 optimization invariants.

Every change in this round is required to keep results bit-identical while
cutting jobs/passes; these tests pin the new regime switches:

- the column profile's small regime (one bounded collect) returns exactly
  what the digest path returns: counts, points, quantiles and moments;
- the digest path's band collect is bounded: a head count that predicts a
  band above the cap re-brackets with accuracy scaled to n (r12 verdict
  "what's wrong" #4);
- the ANN family's driver-job count stays at its reduced r13 floor (the
  r12 verdict's top "next round" item) — a regression re-adding a
  sequential fit job fails loudly here.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from urban_traffic_data_lake_project_spark.operators import stats as S
from urban_traffic_data_lake_project_spark.operators.stats import column_profile

# no size estimate is at or below it, so the size gate picks the digest path
DIGEST = -1


def _mk_df(spark, n=500):
    return spark.range(n).select(
        (F.col("id") % 97).cast("double").alias("a"),
        F.when(F.col("id") % 11 == 0, None)
        .otherwise((F.col("id") * 37 % 1009).cast("double"))
        .alias("b"),
        (F.col("id") % 13).cast("int").alias("c"),
    )


PS = [0.1, 0.25, 0.5, 0.75, 0.9]


def test_quantile_small_regime_matches_digest(spark, monkeypatch):
    df = _mk_df(spark)
    small = column_profile(df, ["a", "b", "c"], PS, moments=True)
    monkeypatch.setattr(S, "_QUANTILE_COLLECT_BYTES", DIGEST)
    big = column_profile(df, ["a", "b", "c"], PS, moments=True)
    assert small.regime == "collect" and big.regime == "digest"
    assert big.widened  # accuracy >> n: some bands miss and are widened
    # the collect regime reads the counts off the collected frame, the
    # digest regime off its head pass: the same integers
    assert small.rows == big.rows == 500
    for c in ("a", "b", "c"):
        s, b = small.columns[c], big.columns[c]
        assert s.n == b.n, c
        # exact equality, not approx: the points behind every quantile,
        # widened bands included, and the quantiles derived from them
        assert s.points == b.points, c
        assert s.quantiles == b.quantiles, c
        # the moments are Spark-aggregated in BOTH regimes (bit-identical)
        assert (s.mean, s.stddev) == (b.mean, b.stddev), c
        assert s.mean is not None and s.stddev is not None, c
    assert small.columns["b"].n == 500 - 46  # every 11th id is NULL


def test_quantile_collect_regime_keeps_nan_like_percentile(spark):
    # a float NaN is a value (Spark ranks it above every double), not a
    # NULL: the collect regime must rank it, not fall back to the digest
    df = spark.range(180).select(
        F.when(F.col("id") % 7 == 0, F.lit(float("nan")))
        .when(F.col("id") % 11 == 0, None)
        .otherwise((F.col("id") * 37 % 101).cast("double"))
        .alias("v")
    )
    ps = [0.0, 0.1, 0.25, 0.5, 0.75, 0.8, 0.85, 0.9, 1.0]
    prof = column_profile(df, ["v"], ps)
    got = prof.columns["v"].quantiles
    assert prof.regime == "collect"
    want = df.agg(*[F.percentile("v", p).alias(f"p{j}") for j, p in enumerate(ps)]).first()
    for j, p in enumerate(ps):
        w = want[f"p{j}"]
        if math.isnan(w):
            assert math.isnan(got[j]), p
        else:
            assert got[j] == pytest.approx(w, rel=1e-12, abs=0), p
    assert math.isnan(got[-1]) and not math.isnan(got[0])


def test_quantile_band_cap_rebrackets_and_bounds_collect(spark, monkeypatch):
    df = _mk_df(spark, 2000)
    with monkeypatch.context() as m:
        m.setattr(S, "_ACCURACY", 100)  # 6*2000/100 = 120 predicted band rows
        m.setattr(S, "_BAND_ROWS_CAP", 60)  # forces the re-bracket pass
        m.setattr(S, "_QUANTILE_COLLECT_BYTES", DIGEST)
        capped = column_profile(df, ["a", "b"], [0.5])
    assert capped.regime == "digest"
    assert set(capped.rebracket_accuracy) == {"a", "b"}
    assert all(acc >= 180 for acc in capped.rebracket_accuracy.values())
    # the actual collect stays within the cap's intent (distinct pairs
    # can only be fewer than the rank width the cap bounds)
    assert capped.band_rows_collected <= 2 * 60
    # and the values are still the exact quantiles (small regime = ground
    # truth: full multiset, driver-side order statistics)
    truth = column_profile(df, ["a", "b"], [0.5])
    for c in ("a", "b"):
        assert capped.columns[c].quantiles == truth.columns[c].quantiles, c


def test_quantile_band_miss_after_widening_raises(spark, monkeypatch):
    # a band that still misses its ranks after the one widen-retry is an
    # error naming the column, p and ranks, never a full-column collect
    df = _mk_df(spark, 50)
    monkeypatch.setattr(S, "_QUANTILE_COLLECT_BYTES", DIGEST)
    monkeypatch.setattr(S, "_band_walk", lambda df, bands: ([(0, [])] * len(bands), 0))
    with pytest.raises(ValueError, match=r"column 'a' misses rank 24\.\.25 for p=0\.5"):
        column_profile(df, ["a"], [0.5])


def test_quantile_band_cap_noop_at_default(spark, monkeypatch):
    # at the default accuracy/cap the re-bracket never fires on bench-scale
    # counts — the digest plan is byte-identical to r12's
    df = _mk_df(spark, 2000)
    monkeypatch.setattr(S, "_QUANTILE_COLLECT_BYTES", DIGEST)
    assert not column_profile(df, ["a", "b"], [0.5]).rebracket_accuracy


def test_unsized_plan_takes_digest_and_is_not_persisted(spark, monkeypatch):
    # a plan the optimizer cannot size: the quantile gate assumes it is
    # big, the persist gate leaves it alone
    from urban_traffic_data_lake_project_spark.sources import tables as T

    df = _mk_df(spark, 50)
    assert T.estimate_bytes(df) > 0
    assert T.estimate_bytes(object()) is None  # no plan to size
    monkeypatch.setattr(S, "estimate_bytes", lambda df: None)
    monkeypatch.setattr(T, "estimate_bytes", lambda df: None)
    prof = column_profile(df, ["a"], [0.5])
    assert (prof.regime, prof.est_bytes, prof.columns["a"].quantiles) == ("digest", None, [24.5])
    assert T.persist_for_reuse_if_large(df) is df


def _run_counting_jobs(spark, fn) -> int:
    """Count Spark jobs submitted by ``fn`` via the DAGScheduler's job-id
    counter (py4j converts the AtomicInteger to int) — thread-global, so
    jobs launched from overlap_jobs worker threads are counted too. NOTE: with AQE on, every materialized query stage
    (broadcast builds included) is its own job, so these counts are
    total submissions, not driver round-trip latencies."""
    before = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
    fn()
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId() - before


@pytest.mark.parametrize(
    "name,max_jobs",
    [
        # calibrated warm counts on this round's code at sf0.001 /
        # local[8] (r12 code in parentheses): a regression re-adding a
        # sequential fit job / spread exchange / separate probe collect
        # shows up as +1 or more here
        ("sim_cosine_topk_ivf_trained", 13),  # r12: 15 (Lloyd spread jobs)
        ("sim_ivfpq_topk", 11),               # r12: 11 (overlap = latency win)
        ("sim_ivfpq_residual_topk", 8),       # r12: 8
        ("sim_int8_rerank", 14),              # r12: 14
        ("sim_int8_index", 10),               # r12: 12 (merged probe collect)
        ("fa_scores_summary", 7),             # r12: 10 (quantile small regime)
        ("sketch_quantile_kmv", 3),           # r12: 8  (quantile small regime)
        ("clean_full_kernel", 6),             # 9 before the fused fit (F.mode agg)
        ("mc_scenario_expectations", 5),      # guards the moments=True collect path
        ("bootstrap_ci", 7),
        ("bootstrap_ci_grouped", 5),
    ],
)
def test_fit_path_job_count_floor(spark, sf_dir, name, max_jobs):
    from urban_traffic_data_lake_project_spark.queries import REGISTRY

    fn = REGISTRY[name].fn

    def run():
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    run()  # warm-up: parquet footers, Arrow imports
    n_jobs = _run_counting_jobs(spark, lambda: run())
    assert n_jobs <= max_jobs, f"{name} submitted {n_jobs} jobs (> {max_jobs})"
