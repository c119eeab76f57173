"""Edge-case robustness: empty inputs, all-NULL columns, degenerate
corpora — operators must degrade, not throw."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from urban_traffic_data_lake_project_spark.operators import cleaning as C
from urban_traffic_data_lake_project_spark.operators import dedup as D
from urban_traffic_data_lake_project_spark.operators import text as T
from urban_traffic_data_lake_project_spark.operators import stats as S
from urban_traffic_data_lake_project_spark.operators.stats import column_profile


@pytest.fixture(scope="module")
def empty(spark):
    return spark.createDataFrame([], "k long, ts string, cat string, x double")


def test_cleaning_kernel_on_empty_input(empty):
    out = C.dedup_by_key(empty, ["k"], ["x"])
    out = C.parse_timestamps(out, "ts")
    out = C.mode_fill(out, ["cat"])
    out = C.null_fraction_drop(out, ["x"])
    out = C.iqr_clip(out, ["x"])
    out = C.median_fill(out, ["x"])
    assert out.count() == 0


def test_mode_fill_all_null_column_uses_default(spark):
    df = spark.createDataFrame([(1, None), (2, None)], "k long, cat string")
    out = C.mode_fill(df, ["cat"])
    assert {r["cat"] for r in out.collect()} == {"Unknown"}


def test_exact_quantiles_empty_and_single(spark):
    empty = spark.createDataFrame([], "x double")
    prof = column_profile(empty, ["x"], [0.5])
    assert (prof.rows, prof.columns["x"].n, prof.columns["x"].quantiles) == (0, 0, [None])
    one = spark.createDataFrame([(7.5,)], "x double")
    assert column_profile(one, ["x"], [0.25, 0.9]).columns["x"].quantiles == [7.5, 7.5]


def test_exact_quantiles_point_mass(spark, monkeypatch):
    # adversarial distribution: one giant point mass. The band collect is
    # distinct (value, count) pairs, so this must resolve without pulling
    # 10k rows to the driver or tripping the widen-retry into an error.
    rows = [(42.0,)] * 10_000 + [(0.0,), (100.0,)]
    df = spark.createDataFrame(rows, "x double").repartition(8)
    monkeypatch.setattr(S, "_ACCURACY", 100)
    prof = column_profile(df, ["x"], [0.25, 0.5, 0.75])
    assert prof.columns["x"].quantiles == [42.0, 42.0, 42.0]
    assert prof.regime == "digest" and prof.band_rows_collected <= 3


def test_exact_quantiles_nonnull_rank_base(spark):
    # NULLs are excluded from the rank base: n must be the non-null count.
    import numpy as np

    vals = [float(v) for v in range(1, 21)]
    rows = [(v,) for v in vals] + [(None,)] * 15
    df = spark.createDataFrame(rows, "x double")
    got = column_profile(df, ["x"], [0.25, 0.75]).columns["x"].quantiles
    want = [float(np.quantile(np.array(vals), p, method="linear")) for p in (0.25, 0.75)]
    assert got == pytest.approx(want)


def test_shingles_and_sketches_on_degenerate_docs(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "!!! ???"), (4, "one"), (5, "two words only")],
        "doc_id long, text string",
    )
    sh = D.shingle_table(df, "doc_id", "text", 3).collect()
    # only doc 5 has >= 3 words: exactly one trigram
    assert [(r["doc_id"], r["shingle"]) for r in sh] == [(5, "two words only")]
    sketches = D.simhash(df, "doc_id", "text")
    assert sketches.count() == 2  # only docs with at least one word token
    pairs = D.ngram_jaccard_pairs(df, "doc_id", "text", 3, 0.1)
    assert pairs.count() == 0
    prof = T.document_profile(df, "doc_id", "text").collect()
    assert len(prof) == 5
    by_id = {r["doc_id"]: r for r in prof}
    assert by_id[1]["n_tokens"] == 0 and by_id[1]["pred_lang"] == "und"
    assert by_id[3]["alpha_ratio"] == 0.0


def test_dedup_on_empty_pairs(spark):
    df = spark.createDataFrame([(1, "some text here")], "doc_id long, text string")
    pairs = spark.createDataFrame([], "id_a long, id_b long, jaccard double")
    kept = D.dedup_keep_canonical(df, "doc_id", pairs)
    assert kept.count() == 1


def test_histogram_constant_and_null_columns(spark):
    from urban_traffic_data_lake_project_spark.operators.stats import histogram

    df = spark.createDataFrame(
        [(1.0, 5.0, None), (1.0, 7.5, None), (1.0, None, None)],
        "const double, mixed double, allnull double",
    )
    out = histogram(df, ("const", "mixed", "allnull"), bins=4).collect()
    by_col = {}
    for r in out:
        by_col.setdefault(r["col_name"], []).append(r)
    # constant column collapses into bin 0 with the full count
    assert len(by_col["const"]) == 1
    assert by_col["const"][0]["bin"] == 0 and by_col["const"][0]["n"] == 3
    # all-NULL column contributes no rows at all
    assert "allnull" not in by_col
    # mixed column: nulls excluded, min lands in bin 0, max in last bin
    mixed = {r["bin"]: r["n"] for r in by_col["mixed"]}
    assert mixed == {0: 1, 3: 1}


def test_substring_span_dedup_empty_corpus(spark):
    from urban_traffic_data_lake_project_spark.operators.dedup import (
        substring_span_dedup,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert substring_span_dedup(empty, "doc_id", "text").count() == 0


def test_hamming_pairs_empty_and_identical(spark):
    from urban_traffic_data_lake_project_spark.operators.dedup import (
        hamming_near_dup_pairs,
    )

    empty = spark.createDataFrame([], "media_id long, ahash long")
    assert hamming_near_dup_pairs(empty, "media_id", "ahash").count() == 0
    same = spark.createDataFrame(
        [(1, -42), (2, -42), (3, -42)], "media_id long, ahash long"
    )
    pairs = hamming_near_dup_pairs(same, "media_id", "ahash").collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2), (1, 3), (2, 3)}
    assert all(r["hamming"] == 0 for r in pairs)


def test_bpe_empty_and_single_word_corpus(spark):
    import urban_traffic_data_lake_project_spark.operators.text as T

    single = spark.createDataFrame([(1, "hi")], "doc_id long, text string")
    merges, _ = T.bpe_train(single, "text", num_merges=5)
    # 'hi' merges once (h,i) then the vocabulary is exhausted -> early stop
    assert merges == [("h", "i", 1)]
    out = T.bpe_token_counts(single, "doc_id", "text", num_merges=5).collect()[0]
    assert out["n_words"] == 1 and out["n_bpe_tokens"] == 1


def test_cluster_balanced_sample_fewer_vectors_than_clusters(spark):
    from urban_traffic_data_lake_project_spark.operators.sampling import (
        cluster_balanced_sample,
    )

    df = spark.createDataFrame(
        [(i, [float(i + 1), float(2 * i + 1), 0.5]) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    out = cluster_balanced_sample(df, k=8, iters=1, cap=3).collect()
    # every vector survives (each cluster under cap); ids all present
    assert sorted(r.vec_id for r in out) == [0, 1, 2, 3, 4]


def test_boilerplate_lines_degenerate_corpora(spark):
    from urban_traffic_data_lake_project_spark.operators.text import (
        remove_boilerplate_lines,
    )

    empty = spark.createDataFrame([], "id long, t string")
    assert remove_boilerplate_lines(empty, "id", "t").count() == 0
    # single doc: its one line is 100% of docs -> dropped at any threshold < 1
    one = spark.createDataFrame([(1, "only line")], "id long, t string")
    r = remove_boilerplate_lines(one, "id", "t", max_doc_frac=0.5).collect()[0]
    assert r.clean_text == "" and r.n_boiler == 1 and r.n_lines == 1


def test_strip_markup_null_and_empty(spark):
    from urban_traffic_data_lake_project_spark.operators.text import strip_markup

    df = spark.createDataFrame([(1, None), (2, "")], "id long, t string")
    s = strip_markup(F.col("t"))
    rows = {r.id: r for r in df.select("id", s["clean"].alias("c"), s["n_tags"].alias("n")).collect()}
    assert rows[1].c is None and rows[1].n is None  # NULL propagates
    assert rows[2].c == "" and rows[2].n == 0


def test_inverted_index_empty_corpus(spark):
    from urban_traffic_data_lake_project_spark.operators.text import inverted_index

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert inverted_index(empty, "doc_id", "text").count() == 0


def test_wav_codec_zero_sample_clip():
    import numpy as np

    from urban_traffic_data_lake_project_spark.operators import multimodal as MM

    payload = MM.wav_encode_pcm16(np.array([], dtype=np.int16), 8000)
    dec = MM.wav_decode_pcm16(payload)
    assert dec is not None
    rate, s = dec
    assert rate == 8000 and len(s) == 0


def test_gif_zero_frames():
    from urban_traffic_data_lake_project_spark.operators import multimodal as MM

    assert MM.gif_parse_frames(MM.gif_encode_frames([])) == []


def test_srp_auto_bands_empty_corpus(spark):
    """bands="auto" on an empty corpus must not crash on dim inference
    or the occupancy aggregate — it returns an empty pair set with the
    stable (id_a, id_b, cosine_sim) schema."""
    from urban_traffic_data_lake_project_spark.operators.dedup import (
        srp_near_dup_pairs,
    )

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = srp_near_dup_pairs(empty, n_planes=64, bands="auto", threshold=0.9)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["id_a", "id_b", "cosine_sim"]


def test_logistic_irls_saturates_without_nan(spark):
    """Perfectly separated data saturates eta within a few rounds, where
    mu*(1-mu) underflows to 0 — the 1e-10 weight clamp must keep every
    aggregate finite and the fit must still separate the classes."""
    import math

    from urban_traffic_data_lake_project_spark.operators.stats import logistic_irls

    rows = [(0.0, float(x)) for x in range(-50, 0)] + [
        (1.0, float(x)) for x in range(1, 51)
    ]
    df = spark.createDataFrame(rows, "y double, x double")
    beta = logistic_irls(df, "y", ["x"], iters=12)
    assert all(math.isfinite(b) for b in beta), beta
    # separation direction: positive slope, decision boundary near 0
    assert beta[1] > 0
    assert abs(beta[0] / beta[1]) < 1.0
