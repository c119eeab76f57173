"""Hilbert-curve layout operator (operators/layout.py r9): parity with a
plain-Python reference of the standard xy2d algorithm, curve properties
(bijective, consecutive codes are grid neighbors), and the range
locality that makes it a better clustering key than Morton."""

from __future__ import annotations

import pytest

from urban_traffic_data_lake_project_spark.operators.layout import (
    with_hilbert_code,
    with_morton_code,
)


def xy2d_ref(bits: int, x: int, y: int) -> int:
    """Independent plain-Python reference (Wikipedia xy2d, n-1 rotate)."""
    n = 1 << bits
    d = 0
    s = n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = n - 1 - x, n - 1 - y
            x, y = y, x
        s //= 2
    return d


@pytest.mark.parametrize("bits", [2, 3])
def test_hilbert_curve_properties(bits):
    # the reference itself must be a space-filling curve: bijective on the
    # grid, and consecutive codes are Manhattan-1 neighbors (the locality
    # property Morton lacks)
    n = 1 << bits
    codes = {(x, y): xy2d_ref(bits, x, y) for x in range(n) for y in range(n)}
    assert sorted(codes.values()) == list(range(n * n))
    inv = {v: k for k, v in codes.items()}
    for i in range(n * n - 1):
        (x0, y0), (x1, y1) = inv[i], inv[i + 1]
        assert abs(x0 - x1) + abs(y0 - y1) == 1, i


def test_spark_matches_python_reference(spark):
    # grid coordinates fed through identity bounds: the unrolled
    # expression chain must reproduce xy2d exactly on every cell of an
    # 8-bit grid sample (and all cells of a 4-bit grid)
    bits = 4
    n = 1 << bits
    rows = [(x, y) for x in range(n) for y in range(n)]
    df = spark.createDataFrame(rows, "a long, b long")
    bounds = {"a": (0, n - 1), "b": (0, n - 1)}
    got = {
        (r["a"], r["b"]): r["hilbert"]
        for r in with_hilbert_code(df, "a", "b", bounds, bits=bits).collect()
    }
    for (x, y), d in got.items():
        assert d == xy2d_ref(bits, x, y), (x, y)


def test_spark_matches_reference_16bit_sample(spark):
    bits = 16
    top = (1 << bits) - 1
    pts = [(i * 997 % (top + 1), i * 5741 % (top + 1)) for i in range(500)]
    df = spark.createDataFrame(pts, "a long, b long")
    bounds = {"a": (0, top), "b": (0, top)}
    got = {
        (r["a"], r["b"]): r["hilbert"]
        for r in with_hilbert_code(df, "a", "b", bounds, bits=bits).collect()
    }
    for (x, y), d in got.items():
        assert d == xy2d_ref(bits, x, y), (x, y)


def test_hilbert_beats_morton_on_range_locality(spark):
    # the measurable reason to prefer Hilbert (Moon et al. 2001, "Analysis
    # of the clustering properties of the Hilbert space-filling curve"):
    # a 2-D query region decomposes into FEWER contiguous code runs
    # ("clusters") under Hilbert than under Morton — i.e. fewer, longer
    # row-group seeks under a code-sorted layout. Sweep square regions
    # across a 64×64 grid and compare aggregate cluster counts from the
    # Spark-computed codes.
    bits = 6
    n = 1 << bits
    rows = [(x, y) for x in range(n) for y in range(n)]
    df = spark.createDataFrame(rows, "a long, b long")
    bounds = {"a": (0, n - 1), "b": (0, n - 1)}
    h = {(r["a"], r["b"]): r["hilbert"] for r in with_hilbert_code(df, "a", "b", bounds, bits=bits).collect()}
    m = {(r["a"], r["b"]): r["morton"] for r in with_morton_code(df, "a", "b", bounds, bits=bits).collect()}

    def clusters(codes: dict, x0: int, y0: int, w: int) -> int:
        ds = sorted(codes[(x, y)] for x in range(x0, x0 + w) for y in range(y0, y0 + w))
        return 1 + sum(1 for a, b in zip(ds, ds[1:]) if b != a + 1)

    regions = [(x0, y0, 8) for x0 in range(0, n - 8, 7) for y0 in range(0, n - 8, 7)]
    h_total = sum(clusters(h, *r) for r in regions)
    m_total = sum(clusters(m, *r) for r in regions)
    # measured 510 vs 907 over these 64 regions — assert a solid margin,
    # not the exact figures
    assert h_total < 0.75 * m_total, (h_total, m_total)


def test_constant_column_degrades_gracefully(spark):
    # hi == lo on one dimension: codes are still valid (the constant
    # dimension scales to 0) and the curve reduces to a 1-D walk
    df = spark.createDataFrame([(i, 7) for i in range(16)], "a long, b long")
    out = with_hilbert_code(df, "a", "b", {"a": (0, 15), "b": (7, 7)}, bits=4)
    codes = [r["hilbert"] for r in out.collect()]
    assert len(set(codes)) == 16
