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
from contextlib import contextmanager
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


@contextmanager
def _small_arrow_batches(spark):
    """Cut every Arrow batch at 7 rows, so a partition streams several
    batches into the prune fold; restores the previous setting."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        yield
    finally:
        spark.conf.set(key, old)


def test_partition_local_topk_fold_equals_global_sort(spark):
    """One partition of 120 rows arrives as 18 batches; folding batch by
    batch must keep exactly the global top-k, ties to the smaller id."""
    import pandas as pd

    pdf = pd.DataFrame(
        [(q, n, float((n * 7 + q) % 5) / 4) for q in range(3) for n in range(40)],
        columns=["query_id", "neighbor_id", "cosine_sim"],
    ).sample(frac=1.0, random_state=0)
    df = spark.createDataFrame(pdf).coalesce(1)
    order = dict(by=["query_id", "cosine_sim", "neighbor_id"], ascending=[True, False, True])
    with _small_arrow_batches(spark):
        got = S._partition_local_topk(df, 5).toPandas().sort_values(**order)
    want = pdf.sort_values(**order, kind="mergesort").groupby("query_id").head(5)
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), want.reset_index(drop=True)
    )


def test_topk_rows_do_not_depend_on_arrow_batch_size(spark, emb):
    """cosine_topk and both regimes of cosine_topk_ivf return the same rows
    (ids, ranks and doubles) whether partitions stream one Arrow batch or
    many."""
    q = emb.filter(F.col("vec_id") < 10)

    def run():
        return [
            sorted(tuple(r) for r in df.collect())
            for df in (
                S.cosine_topk(emb, q, k=5),
                S.cosine_topk_ivf(emb, q, k=5, query_regime="closure"),
                S.cosine_topk_ivf(emb, q, k=5, query_regime="join"),
            )
        ]

    default = run()
    with _small_arrow_batches(spark):
        assert run() == default


@pytest.mark.parametrize("scorer", ["float", "int8"])
@pytest.mark.parametrize(
    "ids",
    # string ids: "ab" cast to the collected ids' <U1 dtype reads "a"
    [(1, 2, 3), ("a", "ab", "c")],
    ids=["long", "string"],
)
def test_closure_scorer_rejects_query_id_outside_collected_set(spark, scorer, ids):
    """A candidate whose query_id is missing from the collected query set
    (the middle id, between the two collected ones) must fail loudly,
    never score against another query's vector."""
    from pyspark.sql import Row

    q_rows = [
        Row(query_id=i, __qv=[1.0, 0.0], __qn=1.0, __q8=[127, 0])
        for i in (ids[0], ids[2])
    ]
    id_type = "long" if isinstance(ids[0], int) else "string"
    # one partition, so the failing task has no sibling tasks: Spark kills
    # those asynchronously, and on a loaded host a kill still running when
    # the next case's job starts can fail one of its tasks with
    # java.nio.channels.CancelledKeyException before the ValueError lands
    cand = spark.createDataFrame(
        [(qid, n, [1.0, 0.0], 1.0, [127, 0]) for n, qid in enumerate(ids)],
        f"query_id {id_type}, neighbor_id long, __cv array<double>, __cn double,"
        " __c8 array<bigint>",
    ).coalesce(1)
    if scorer == "float":
        out = S._score_local_topk_arrow(cand, S._query_arrays(q_rows), 5, 2)
    else:
        out = S._score_local_topk_int8_arrow(cand, q_rows, 5)
    with pytest.raises(Exception, match="ValueError: candidate query_id absent"):
        out.collect()
