"""DCT perceptual hash (operators/multimodal.py r9): expression-form
parity with a pure-Python left-assoc reference, and, through that pinned
reference, the hash's invariances (brightness offset, contrast scale) and
its separation of the fixture's near-duplicate pairs from cross pairs."""

from __future__ import annotations

import hashlib

import numpy as np

from urban_traffic_data_lake_project_spark.operators import multimodal as MM


def fixture_gray(doc_id: int) -> np.ndarray:
    """The image_phash fixture's pixel formula (md5-mixed 8x8, odd ids
    swap pixels 0 and 1)."""
    base, odd = doc_id // 2, doc_id % 2 == 1
    px = []
    for i in range(64):
        j = 1 if (odd and i == 0) else (0 if (odd and i == 1) else i)
        px.append(int(hashlib.md5(f"{base}_{j}".encode()).hexdigest()[:2], 16))
    return np.array(px, dtype=np.uint8).reshape(8, 8)


def phash_ref_leftassoc(gray: np.ndarray) -> int:
    """Independent reference of the EXPRESSION form: same weight table,
    strictly sequential left-assoc accumulation (matches Spark aggregate
    and DuckDB list_sum), median = sorted element 32 of the 63 non-DC
    coefficients."""
    table = MM.phash_weight_table()
    px = gray.ravel().astype(np.int64)
    coeffs = []
    for c in range(1, 64):
        acc = 0.0
        for idx, w in table[c]:
            acc = acc + w * float(px[idx])
        coeffs.append(acc)
    med = sorted(coeffs)[31]
    raw = 0
    for c in range(1, 64):
        if coeffs[c - 1] > med:
            raw |= 1 << c
    return raw - (1 << 64) if raw >= (1 << 63) else raw


def ham(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def test_expression_form_matches_leftassoc_reference(spark):
    rows = [(d, [int(v) for v in fixture_gray(d).ravel()]) for d in range(64)]
    df = spark.createDataFrame(rows, "media_id long, pixels array<int>")
    got = {
        r["media_id"]: r["phash"]
        for r in MM.with_phash_expr(df, "pixels").select("media_id", "phash").collect()
    }
    for d in range(64):
        assert got[d] == phash_ref_leftassoc(fixture_gray(d)), d


def test_brightness_offset_invariance():
    # +20 gray levels moves only the DC coefficient, which pHash excludes
    # (integer steps: the reference reads pixels as int64)
    for d in range(16):
        g = np.clip(fixture_gray(d).astype(np.int64), 0, 215)
        assert phash_ref_leftassoc(g + 20) == phash_ref_leftassoc(g), d


def test_contrast_scale_invariance():
    # x3 scales every coefficient AND their median uniformly
    for d in range(16):
        g = fixture_gray(d).astype(np.int64)
        assert phash_ref_leftassoc(g * 3) == phash_ref_leftassoc(g), d


def test_fixture_pairs_are_near_cross_pairs_far():
    hashes = {d: phash_ref_leftassoc(fixture_gray(d)) for d in range(100)}
    pair = [ham(hashes[2 * b], hashes[2 * b + 1]) for b in range(50)]
    cross = [ham(hashes[2 * b], hashes[2 * b + 2]) for b in range(49)]
    assert max(pair) < min(cross), (max(pair), min(cross))
