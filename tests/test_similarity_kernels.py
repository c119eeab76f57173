"""The vector kernels against a plain-Python reference.

``with_nearest_centroids``, ``pq_encode``, ``pq_reconstruction_mse`` and
``pq_adc_topk`` each run as one vectorized Arrow stage (or, for ADC, a
driver LUT plus Spark lookups). These tests collect the sf0.001
embeddings to the driver and recompute every answer with ordinary
Python float loops: left-associative sums seeded by the first term,
ties to the smaller id. Assignments and codes must match exactly;
rounded distances must land on the same 6-dp grid point.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

import pytest
from pyspark.sql import functions as F

import urban_traffic_data_lake_project_spark.operators.similarity as S
from urban_traffic_data_lake_project_spark.sources import load_table


@pytest.fixture()
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


@pytest.fixture()
def vectors(emb):
    """{vec_id: [float, ...]} — the raw embeddings, widened to double."""
    return {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.select("vec_id", "embedding").collect()
    }


def _sq_gap(v: list, base: int, cent: list) -> float:
    """sum_i (v[base + i] - cent[i])^2, left-assoc from the first term."""
    t = v[base] - cent[0]
    acc = t * t
    for i in range(1, len(cent)):
        t = v[base + i] - cent[i]
        acc = acc + t * t
    return acc


def _round6(x: float) -> float:
    """Spark's round(x, 6) on a double: HALF_UP on the decimal repr."""
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))


def _ref_codes(v: list, cb: list) -> list:
    sub = len(cb[0][0])
    return [
        min((_sq_gap(v, j * sub, cent), c) for c, cent in enumerate(cb[j]))[1]
        for j in range(len(cb))
    ]


@pytest.mark.parametrize("top", [1, 4])
def test_nearest_centroids_match_reference(spark, emb, top):
    entries = S.centroid_entries(emb, "vec_id", "embedding", 16)
    c = emb.select(
        "vec_id", S._as_double(F.col("embedding")).alias("__v")
    ).withColumn("__n", S._norm(F.col("__v")))

    got = {
        int(r["vec_id"]): list(r["cids"])
        for r in S.with_nearest_centroids(c, "__v", "__n", entries, top, "cids")
        .select("vec_id", "cids")
        .collect()
    }

    # the kernel's inputs: the row vector and norm, the centroid entries
    ref = {}
    for r in c.collect():
        v, n = list(r["__v"]), float(r["__n"])
        scored = []
        for e in entries:
            cv = e["vec"]
            dot = v[0] * cv[0]
            for i in range(1, len(v)):
                dot = dot + v[i] * cv[i]
            scored.append((-(dot / (n * float(e["cnorm"]))), int(e["cid"])))
        ref[int(r["vec_id"])] = [cid for _, cid in sorted(scored)[:top]]

    assert len(ref) == 500
    assert got == ref


def test_pq_encode_and_mse_match_reference(spark, emb, vectors):
    cb = S.pq_codebooks(emb, "vec_id", "embedding", m=8, k=16)
    enc = S.pq_encode(emb, "vec_id", "embedding", cb, codes_col="codes")

    ref_codes = {vid: _ref_codes(v, cb) for vid, v in vectors.items()}
    got_codes = {
        int(r["vec_id"]): list(r["codes"]) for r in enc.select("vec_id", "codes").collect()
    }
    assert got_codes == ref_codes

    m, sub = len(cb), len(cb[0][0])
    mse = S.pq_reconstruction_mse(enc, "vec_id", "embedding", cb, codes_col="codes")
    got = {int(r["vec_id"]): (r["code_str"], r["mse"]) for r in mse.collect()}
    assert set(got) == set(vectors)
    for vid, v in vectors.items():
        codes = ref_codes[vid]
        total = None
        for j in range(m):
            s = _sq_gap(v, j * sub, cb[j][codes[j]])
            total = s if total is None else total + s
        code_str, mse_v = got[vid]
        assert code_str == ",".join(str(x) for x in codes), vid
        # one unit of the 6-dp grid the kernel rounds to
        assert math.isclose(mse_v, total / (m * sub), rel_tol=0.0, abs_tol=1e-6), vid


def test_pq_adc_topk_matches_reference(spark, emb, vectors):
    cb = S.pq_codebooks(emb, "vec_id", "embedding", m=8, k=16)
    queries = emb.filter(F.col("vec_id") < 10)
    k_top = 5
    out = S.pq_adc_topk(emb, queries, "vec_id", "embedding", cb, k_top=k_top)
    got = sorted(
        (r["query_id"], r["rank"], r["corpus_id"], r["adc_dist"]) for r in out.collect()
    )

    m, sub = len(cb), len(cb[0][0])
    codes = {vid: _ref_codes(v, cb) for vid, v in vectors.items()}
    ref = []
    for qid in range(10):
        q = vectors[qid]
        # LUT[j][c] = ||q_j - cb[j][c]||^2 (0.0-seeded, like the driver LUT)
        lut = []
        for j in range(m):
            row = []
            for cent in cb[j]:
                total = 0.0
                for i, cv in enumerate(cent):
                    total += (q[j * sub + i] - cv) ** 2
                row.append(total)
            lut.append(row)
        scored = []
        for vid, code in codes.items():
            dist = lut[0][code[0]]
            for j in range(1, m):
                dist = dist + lut[j][code[j]]
            scored.append((_round6(dist), vid))
        scored.sort()
        ref += [(qid, rank, vid, d) for rank, (d, vid) in enumerate(scored[:k_top], 1)]

    assert [g[:3] for g in got] == [r[:3] for r in ref]
    for g, r in zip(got, ref):
        assert math.isclose(g[3], r[3], rel_tol=0.0, abs_tol=1e-12), (g, r)
