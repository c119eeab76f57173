"""Cleaning kernel: oracle parity + the reference's cleaning invariants
(SURVEY.md §5.2: post-fill non-null, clip bounds respected, key uniqueness)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from urban_traffic_data_lake_project_spark.operators import cleaning as C
from urban_traffic_data_lake_project_spark.queries import cleaning as qc
from urban_traffic_data_lake_project_spark.sources import load_table


@pytest.mark.parametrize("name", sorted(qc.REGISTRY))
def test_cleaning_query_matches_oracle(oracle, name):
    oracle(name)


@pytest.fixture(scope="module")
def dirty(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, None).otherwise(F.col("o_orderpriority")).alias("cat"),
        F.when(F.col("o_orderkey") % 13 == 0, F.col("o_totalprice") * 100)
        .when(F.col("o_orderkey") % 17 == 0, None)
        .otherwise(F.col("o_totalprice"))
        .alias("measure"),
    ).cache()
    # (a derived frame, not a raw table scan — no plan-test interference)


def test_mode_fill_leaves_no_nulls(dirty):
    filled = C.mode_fill(dirty, ["cat"])
    assert filled.filter(F.col("cat").isNull()).count() == 0


def test_median_fill_leaves_no_nulls(dirty):
    filled = C.median_fill(dirty, ["measure"])
    assert filled.filter(F.col("measure").isNull()).count() == 0


def test_iqr_clip_respects_bounds(dirty):
    bounds = C.compute_iqr_bounds(dirty, ["measure"])
    lo, hi = bounds["measure"]
    clipped = C.iqr_clip(dirty, ["measure"])
    out_of_range = clipped.filter((F.col("measure") < lo) | (F.col("measure") > hi)).count()
    assert out_of_range == 0
    # the injected 100x outliers must actually have been clipped
    assert clipped.agg(F.max("measure")).first()[0] <= hi


def test_dedup_yields_unique_keys(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    deduped = C.dedup_by_key(li, keys=["l_orderkey"], tiebreak=["l_linenumber"])
    total = deduped.count()
    distinct = deduped.select("l_orderkey").distinct().count()
    assert total == distinct
    # deterministic survivor: always the smallest linenumber per key
    mins = li.groupBy("l_orderkey").agg(F.min("l_linenumber").alias("mn"))
    mismatched = (
        deduped.join(mins, "l_orderkey")
        .filter(F.col("l_linenumber") != F.col("mn"))
        .count()
    )
    assert mismatched == 0


def test_variance_filter_drops_constant_columns(dirty):
    with_const = dirty.withColumn("const_col", F.lit(3.14))
    kept = C.variance_filter(with_const, ["measure", "const_col"])
    assert "measure" in kept and "const_col" not in kept


def test_parse_timestamps_keeps_only_parseable(spark):
    df = spark.createDataFrame(
        [
            ("2024-03-01 10:30",),
            ("01/03/2024 10AM",),
            ("2024-03-01T10:30Z",),
            ("not-a-date",),
            ("2099-00-00 99:99",),
            (None,),
        ],
        "ts string",
    )
    out = C.parse_timestamps(df, "ts")
    rows = [r["ts"] for r in out.collect()]
    assert len(rows) == 3
    assert all(r is not None for r in rows)
    # dd/MM/yyyy layout: 01/03 is March 1st (dayfirst, reference semantics)
    assert {(r.month, r.day) for r in rows} == {(3, 1)}


def test_coerce_numeric_nulls_garbage(spark):
    df = spark.createDataFrame([("1.5",), ("xxx",), ("Unknown",), (None,)], "v string")
    out = C.coerce_numeric(df, ["v"]).collect()
    vals = [r["v"] for r in out]
    assert vals.count(None) == 3 and 1.5 in vals


def test_k_anonymize_enforces_floor(spark):
    from pyspark.sql import functions as F

    from urban_traffic_data_lake_project_spark.operators.cleaning import k_anonymize

    rows = [("US", "A"), ("US", "A"), ("US", "A"), ("DE", "B"), ("FR", "C")]
    df = spark.createDataFrame(
        [(i, *r) for i, r in enumerate(rows)], ["id", "country", "seg"]
    )
    out = k_anonymize(df, ["country", "seg"], k=3)
    kept = out.where(~F.col("suppressed"))
    # the (US, A) group of 3 survives intact; singletons are suppressed
    assert kept.count() == 3
    assert {r["country"] for r in kept.collect()} == {"US"}
    supp = out.where(F.col("suppressed")).collect()
    assert len(supp) == 2
    assert all(r["country"] is None and r["seg"] is None for r in supp)
    # invariant: every surviving combination appears >= k times
    sizes = kept.groupBy("country", "seg").count().collect()
    assert all(r["count"] >= 3 for r in sizes)


_NAN = float("nan")
# Each case: (DDL, rows, categoricals, numerics, mixed-type columns).
_FIT_CLEAN_CASES = {
    # `cat` ties 8 "a" to 8 "b", so its 4 NULLs fill with the smaller "a";
    # an all-NULL categorical gets 'Unknown'; `mixed` holds NaN, NULL and
    # values together
    "ties_and_nan_null": (
        "cat string, cat_null string, mixed double",
        [
            (None if i % 5 == 4 else ("a" if i % 2 else "b"), None,
             None if i % 5 == 0 else (_NAN if i % 7 == 0 else float(i % 9) - 2.5))
            for i in range(20)
        ],
        ["cat", "cat_null"], ["mixed"], [],
    ),
    # `q3nan` is 30% NaN, so Q3 and both clip bounds are NaN, and Spark's
    # `x < NaN` holds for every non-NaN x: the whole column clips to NaN
    "q3_nan": (
        "q3nan double, v double",
        [(_NAN if i % 10 < 3 else float(i * i % 17), float(i)) for i in range(20)],
        [], ["q3nan", "v"], [],
    ),
    # `sparse` is 60% NULL once its garbage strings are coerced (40% before):
    # its row drop removes exactly the rows that hold `dense`'s large values,
    # so `dense`'s quartiles differ before and after the drop
    "drop_moves_quartiles": (
        "cat string, sparse string, dense double",
        [
            ("x" if i % 3 else None,
             None if i % 5 < 2 else ("junk" if i % 5 == 2 else str(i * 0.5)),
             1000.0 + i if i % 5 < 3 else float(i % 4))
            for i in range(30)
        ],
        ["cat"], ["sparse", "dense"], ["sparse"],
    ),
    # an all-NULL numeric drops every row (NULL fraction 1 > 0.5)
    "all_null_numeric": (
        "cat string, none double, v double",
        [("a", None, float(i)) for i in range(6)],
        ["cat"], ["none", "v"], [],
    ),
}

# The digest regime's band walk filters each band with Python comparisons,
# which are False against NaN, so a quantile whose bracket reaches the NaN
# tail raises there, in the step-by-step chain as in the fused kernel.
_DIGEST_NAN_BAND = pytest.mark.xfail(
    raises=ValueError, strict=True, reason="digest band walk drops NaN band edges"
)


@pytest.mark.parametrize(
    "case,collect_bytes",
    [
        pytest.param(
            case, collect_bytes, id=f"{case}-{regime}",
            marks=_DIGEST_NAN_BAND if (case, regime) == ("q3_nan", "digest") else (),
        )
        for case in sorted(_FIT_CLEAN_CASES)
        for regime, collect_bytes in (("collect", 2**63 - 1), ("digest", -1))
    ],
)
def test_fit_clean_equals_step_by_step_chain(spark, monkeypatch, case, collect_bytes):
    from urban_traffic_data_lake_project_spark.operators import stats as S

    monkeypatch.setattr(S, "_QUANTILE_COLLECT_BYTES", collect_bytes)
    ddl, rows, cats, nums, mixed = _FIT_CLEAN_CASES[case]
    df = spark.createDataFrame(rows, ddl)
    chain = C.mode_fill(df, cats)
    if mixed:
        chain = C.coerce_numeric(chain, mixed)
    chain = C.median_fill(C.iqr_clip(C.null_fraction_drop(chain, nums), nums), nums)
    fused = C.fit_clean(df, cats, nums, mixed)
    assert fused.dtypes == chain.dtypes
    # repr keeps NaN comparable and floats exact
    got, want = (sorted(repr(tuple(r)) for r in f.collect()) for f in (fused, chain))
    assert got == want
    if case == "ties_and_nan_null":
        out = fused.collect()
        assert sorted(r["cat"] for r in out) == ["a"] * 12 + ["b"] * 8
        assert {r["cat_null"] for r in out} == {"Unknown"}
    elif case == "q3_nan":
        assert all(math.isnan(r["q3nan"]) for r in fused.collect())
