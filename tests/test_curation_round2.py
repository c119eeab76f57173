"""Round-2 curation operators: decontamination, HLL sketches, sequence
packing, domain-mix resampling, PII redaction — oracle parity plus
semantic properties the hash check alone can't express."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from urban_traffic_data_lake_project_spark.operators import text as T
from urban_traffic_data_lake_project_spark.operators.decontam import (
    eval_ngram_set,
    ngram_overlap_flags,
)
from urban_traffic_data_lake_project_spark.operators.sampling import (
    pack_sequences,
    resample_to_mix,
)
from urban_traffic_data_lake_project_spark.operators.sketches import (
    hll_distinct,
    hll_estimate,
    hll_merge,
    hll_register_table,
)
from urban_traffic_data_lake_project_spark.queries import curation as qc
from urban_traffic_data_lake_project_spark.sources import load_table


@pytest.mark.parametrize(
    "name", [n for n, spec in sorted(qc.REGISTRY.items()) if spec.oracle]
)
def test_curation_query_matches_oracle(oracle, name):
    oracle(name)


# ---------------------------------------------------------------------------
# decontamination
# ---------------------------------------------------------------------------
def _kept_ids(train, ev, n):
    flags = ngram_overlap_flags(
        train, eval_ngram_set(ev, "doc_id", "text", n), "doc_id", "text", n
    )
    return sorted(r["doc_id"] for r in flags.filter(F.col("keep")).collect())


def test_decontaminate_drops_docs_sharing_eval_ngrams(spark):
    train = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),   # shares 'alpha beta gamma'
            (2, "one two three four five six seven"),     # clean
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, "alpha beta gamma something else entirely")],
        "doc_id long, text string",
    )
    assert _kept_ids(train, ev, 3) == [2]

    flags = {
        r["doc_id"]: (r["n_eval_hits"], r["keep"])
        for r in ngram_overlap_flags(
            train, eval_ngram_set(ev, "doc_id", "text", 3), "doc_id", "text", 3
        ).collect()
    }
    assert flags[1][0] >= 1 and not flags[1][1]
    assert flags[2] == (0, True)


def test_decontaminate_ngram_size_controls_strictness(spark):
    # docs share a 3-gram but no 5-gram -> contaminated at n=3, clean at n=5
    train = spark.createDataFrame(
        [(1, "the quick brown fox jumps high over fences")],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(9, "the quick brown bear sleeps all winter long")],
        "doc_id long, text string",
    )
    assert _kept_ids(train, ev, 3) == []
    assert _kept_ids(train, ev, 5) == [1]


# ---------------------------------------------------------------------------
# HLL sketch
# ---------------------------------------------------------------------------
def test_hll_estimate_within_expected_error(spark):
    # p=8 -> standard error ~1.04/sqrt(256) = 6.5%; assert within 4 sigma
    n = 5000
    df = spark.range(n).select(
        F.lit("g").alias("g"), F.col("id").cast("string").alias("v")
    )
    est = hll_distinct(df, ["g"], "v", p=8).collect()[0]["n_hll"]
    assert abs(est - n) / n < 0.26


def test_hll_merge_equals_single_pass(spark):
    """Mergeability — the property that matters at 100 TB: per-batch
    register tables union+re-max to exactly the single-pass sketch."""
    df = spark.range(2000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") % 700).cast("string").alias("v"),
    )
    whole = {
        (r["g"], r["register"]): r["max_rho"]
        for r in hll_register_table(df, ["g"], "v", p=6).collect()
    }
    part1 = hll_register_table(df.filter(F.col("id") < 900), ["g"], "v", p=6)
    part2 = hll_register_table(df.filter(F.col("id") >= 900), ["g"], "v", p=6)
    merged = {
        (r["g"], r["register"]): r["max_rho"]
        for r in hll_merge(part1.union(part2), ["g"]).collect()
    }
    assert merged == whole
    est_whole = hll_estimate(hll_register_table(df, ["g"], "v", p=6), ["g"], p=6)
    est_merged = hll_estimate(hll_merge(part1.union(part2), ["g"]), ["g"], p=6)
    assert {tuple(r) for r in est_whole.collect()} == {
        tuple(r) for r in est_merged.collect()
    }


# ---------------------------------------------------------------------------
# sequence packing
# ---------------------------------------------------------------------------
def test_pack_sequences_respects_budget_boundaries(spark):
    rows = [(0, i, 100) for i in range(10)]  # one shard, 10 chunks x 100 tok
    df = spark.createDataFrame(rows, "shard_id long, chunk_id long, n_tokens long")
    out = pack_sequences(df, "shard_id", "n_tokens", ["chunk_id"], 256).collect()
    by_chunk = {r["chunk_id"]: r["seq_id"] for r in out}
    # exclusive prefix sums 0,100,...,900 -> floor(pfx/256)
    assert [by_chunk[i] for i in range(10)] == [0, 0, 0, 1, 1, 1, 2, 2, 3, 3]
    pos = sorted(r["seq_pos"] for r in out)
    assert pos == list(range(1, 11))


def test_pack_sequences_is_per_shard(spark):
    rows = [(s, i, 200) for s in (0, 1) for i in range(3)]
    df = spark.createDataFrame(rows, "shard_id long, chunk_id long, n_tokens long")
    out = pack_sequences(df, "shard_id", "n_tokens", ["chunk_id"], 300).collect()
    for s in (0, 1):  # prefix restarts per shard
        seqs = [r["seq_id"] for r in sorted(out, key=lambda r: r["chunk_id"]) if r["shard_id"] == s]
        assert seqs == [0, 0, 1]


# ---------------------------------------------------------------------------
# domain-mix resampling
# ---------------------------------------------------------------------------
def test_resample_to_mix_hits_target_proportions(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    weights = {"en": 0.3, "es": 0.25, "fr": 0.2, "de": 0.15, "zh": 0.1}
    out = resample_to_mix(docs, "lang", "doc_id", weights)
    counts = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    total = sum(counts.values())
    # hash thinning is binomial; allow generous slack at ~300 rows
    for lang, w in weights.items():
        assert abs(counts.get(lang, 0) / total - w) < 0.08, (lang, counts)


def test_resample_to_mix_is_deterministic_and_monotone(spark):
    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 4 == 0, "a").otherwise("b").alias("lang"),
    )
    w = {"a": 0.5, "b": 0.5}
    first = {r["doc_id"] for r in resample_to_mix(df, "lang", "doc_id", w).collect()}
    second = {r["doc_id"] for r in resample_to_mix(df, "lang", "doc_id", w).collect()}
    assert first == second
    # groups not in the weight map are dropped entirely
    only_a = resample_to_mix(df, "lang", "doc_id", {"a": 1.0})
    assert only_a.filter(F.col("lang") == "b").count() == 0
    # the binding group ('a': 250 docs, needs 50% >= its share) is kept whole
    assert only_a.count() == 250


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------
def test_redact_pii_replaces_each_pattern(spark):
    df = spark.createDataFrame(
        [(1, "mail bob.smith+x@corp.example.org site https://a.b/c?d=1 "
              "host 192.168.10.20 acct 123456789 small 123")],
        "id long, text string",
    )
    cols = T.redact_pii(F.col("text"))
    row = df.select(
        *[cols[f"n_{n}"].alias(f"n_{n}") for n, _, _ in T.PII_PATTERNS],
        cols["redacted"].alias("red"),
    ).collect()[0]
    assert (row["n_email"], row["n_url"], row["n_ip"], row["n_digit_run"]) == (1, 1, 1, 1)
    red = row["red"]
    assert "<EMAIL>" in red and "<URL>" in red and "<IP>" in red and "<NUM>" in red
    assert "bob.smith" not in red and "192.168" not in red and "123456789" not in red
    assert red.endswith("small 123")  # short digit runs survive


def test_redact_pii_order_prevents_double_matching(spark):
    # the URL contains digits; applying the digit-run pattern after the URL
    # replacement must not touch anything inside the replaced token
    df = spark.createDataFrame(
        [(1, "see http://x.example/p/12345678 done")], "id long, text string"
    )
    cols = T.redact_pii(F.col("text"))
    row = df.select(
        cols["n_url"].alias("u"), cols["n_digit_run"].alias("d"), cols["redacted"].alias("r")
    ).collect()[0]
    assert (row["u"], row["d"]) == (1, 0)
    assert row["r"] == "see <URL> done"


# ---------------------------------------------------------------------------
# incremental dedup (batch vs pre-built index)
# ---------------------------------------------------------------------------
def test_incremental_dedup_matches_full_pairs_restricted(spark, sf_dir):
    """Batch-vs-index pairs == the full-corpus LSH pairs restricted to
    (corpus, batch) — the subset-stability that makes the index sound."""
    from urban_traffic_data_lake_project_spark.operators.dedup import (
        dedup_index,
        incremental_dedup_pairs,
        minhash_lsh_dedup_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    split = 400
    index = dedup_index(docs.filter(F.col("doc_id") < split), "doc_id", "text")
    batch = docs.filter(F.col("doc_id") >= split)
    incr = {
        (r["corpus_id"], r["batch_id"])
        for r in incremental_dedup_pairs(index, batch, "doc_id", "text").collect()
    }
    full = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_dedup_pairs(docs, "doc_id", "text").collect()
        if r["id_a"] < split <= r["id_b"]
    }
    assert incr == full


def test_dedup_index_roundtrips_through_parquet(spark, sf_dir, tmp_path):
    """The index survives a write/read cycle — the actual production shape
    (standing corpus indexed once on disk, batches probe it)."""
    from urban_traffic_data_lake_project_spark.operators.dedup import (
        dedup_index,
        incremental_dedup_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    split = 400
    path = str(tmp_path / "dedup_index")
    dedup_index(docs.filter(F.col("doc_id") < split), "doc_id", "text").write.parquet(path)
    index = spark.read.parquet(path)
    batch = docs.filter(F.col("doc_id") >= split)
    live = incremental_dedup_pairs(
        dedup_index(docs.filter(F.col("doc_id") < split), "doc_id", "text"),
        batch, "doc_id", "text",
    )
    stored = incremental_dedup_pairs(index, batch, "doc_id", "text")
    assert sorted(map(tuple, live.collect())) == sorted(map(tuple, stored.collect()))


# ---------------------------------------------------------------------------
# int8 embedding quantization
# ---------------------------------------------------------------------------
def test_quantize_codes_in_int8_range_and_bounded_error(spark, sf_dir):
    from urban_traffic_data_lake_project_spark.operators.similarity import (
        quantize_embeddings_int8,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = quantize_embeddings_int8(emb, "vec_id", "embedding")
    stats = q.select(
        F.min(F.array_min("q_codes")).alias("cmin"),
        F.max(F.array_max("q_codes")).alias("cmax"),
        F.max("max_abs_err").alias("emax"),
    ).collect()[0]
    assert -128 <= stats["cmin"] and stats["cmax"] <= 127
    # per-dim bounds -> error is at most half a quantization step of the
    # widest dimension; synthetic embeddings are ~[-1, 1], step ~2/255
    assert stats["emax"] <= 0.02


def test_quantize_constant_dimension_codes_to_zero(spark):
    from urban_traffic_data_lake_project_spark.operators.similarity import (
        quantize_embeddings_int8,
    )

    df = spark.createDataFrame(
        [(1, [5.0, 0.0]), (2, [5.0, 1.0])], "vec_id long, embedding array<double>"
    )
    rows = {r["vec_id"]: r for r in quantize_embeddings_int8(df).collect()}
    # dim 0 constant -> code 0, zero error; dim 1 spans [0,1] -> extremes
    assert rows[1]["q_codes"][0] == 0 and rows[2]["q_codes"][0] == 0
    assert rows[1]["q_errs"][0] == 0.0
    assert rows[1]["q_codes"][1] == -128 and rows[2]["q_codes"][1] == 127


# ---------------------------------------------------------------------------
# HLL rollup and weighted sampling
# ---------------------------------------------------------------------------
def test_hll_rollup_equals_direct_sketch(spark, sf_dir):
    """Merging fine-grained register tables up loses nothing: the rolled-up
    estimate equals the sketch built directly at the coarse level."""
    from urban_traffic_data_lake_project_spark.operators.sketches import hll_rollup

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "m", F.date_format("o_orderdate", "yyyy-MM")
    )
    direct = {
        r["o_orderpriority"]: r["n_hll"]
        for r in hll_distinct(orders, ["o_orderpriority"], "o_custkey", p=8).collect()
    }
    rolled = {
        r["o_orderpriority"]: r["n_hll"]
        for r in hll_rollup(
            orders, ["o_orderpriority", "m"], ["o_orderpriority"], "o_custkey", p=8
        ).collect()
    }
    assert rolled == direct


def test_weighted_sample_favors_heavy_weights(spark):
    from urban_traffic_data_lake_project_spark.operators.sampling import weighted_sample

    # 500 light rows (w=1) + 50 heavy rows (w=50): heavy rows are ~50x more
    # likely per row; expect heavy to dominate a k=50 sample
    df = spark.range(550).select(
        F.col("id").alias("doc_id"),
        F.lit("g").alias("g"),
        F.when(F.col("id") < 50, 50.0).otherwise(1.0).alias("w"),
    )
    picked = weighted_sample(df, ["g"], "doc_id", "w", k=50).collect()
    n_heavy = sum(1 for r in picked if r["doc_id"] < 50)
    assert len(picked) == 50
    assert n_heavy >= 35  # E[heavy] ~ 41 of 50; 35 is ~4 sigma slack


def test_weighted_sample_deterministic_and_excludes_nonpositive(spark):
    from urban_traffic_data_lake_project_spark.operators.sampling import weighted_sample

    df = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.lit("g").alias("g"),
        F.when(F.col("id") % 10 == 0, 0.0).otherwise(1.0).alias("w"),
    )
    a = sorted(r["doc_id"] for r in weighted_sample(df, ["g"], "doc_id", "w", 20).collect())
    b = sorted(r["doc_id"] for r in weighted_sample(df, ["g"], "doc_id", "w", 20).collect())
    assert a == b
    assert all(d % 10 != 0 for d in a)  # zero-weight rows never selected
    # a different seed draws a different sample
    c = sorted(r["doc_id"] for r in weighted_sample(df, ["g"], "doc_id", "w", 20, seed=7).collect())
    assert a != c


# ---------------------------------------------------------------------------
# edge cases
# ---------------------------------------------------------------------------
def test_decontaminate_empty_eval_set_keeps_everything(spark):
    train = spark.createDataFrame(
        [(1, "some training text here today")], "doc_id long, text string"
    )
    empty_eval = spark.createDataFrame([], "doc_id long, text string")
    assert _kept_ids(train, empty_eval, 3) == [1]


def test_pack_sequences_oversized_row_gets_own_bins(spark):
    # a row bigger than the budget still lands deterministically (its
    # prefix advances past several bins; following rows continue after it)
    df = spark.createDataFrame(
        [(0, 0, 700), (0, 1, 100)], "shard_id long, chunk_id long, n_tokens long"
    )
    out = {r["chunk_id"]: r["seq_id"] for r in
           pack_sequences(df, "shard_id", "n_tokens", ["chunk_id"], 256).collect()}
    assert out[0] == 0        # starts at prefix 0
    assert out[1] == 2        # prefix 700 -> floor(700/256) = 2


def test_weighted_sample_k_larger_than_group_returns_all_positive(spark):
    from urban_traffic_data_lake_project_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(
        [(1, "g", 1.0), (2, "g", 2.0), (3, "g", 0.0)],
        "doc_id long, g string, w double",
    )
    got = sorted(r["doc_id"] for r in weighted_sample(df, ["g"], "doc_id", "w", 10).collect())
    assert got == [1, 2]  # zero-weight row excluded, rest returned


def test_hll_distinct_empty_and_single_value(spark):
    empty = spark.createDataFrame([], "g string, v string")
    assert hll_distinct(empty, ["g"], "v", p=6).count() == 0
    one = spark.createDataFrame([("g", "x")] * 50, "g string, v string")
    est = hll_distinct(one, ["g"], "v", p=6).collect()[0]["n_hll"]
    assert abs(est - 1.0) < 0.2  # linear counting regime: ~exact at n=1


def test_unigram_logprob_ranks_rare_content_lower(spark):
    from urban_traffic_data_lake_project_spark.operators.text import unigram_logprob

    # doc 1 repeats the corpus-dominant token; doc 2 is all hapaxes
    rows = [(1, "common common common common")] + [
        (2, "zyx wvu tsr qpo")
    ] + [(i, "common filler") for i in range(3, 23)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["avg_logp"] for r in unigram_logprob(df, "doc_id", "text").collect()}
    assert out[1] > out[2]  # common tokens -> higher mean log-probability
    assert all(v < 0 for v in out.values())  # log of probabilities < 1


# ---------------------------------------------------------------------------
# count-min sketch
# ---------------------------------------------------------------------------
def test_cm_sketch_never_underestimates(spark):
    from urban_traffic_data_lake_project_spark.operators.sketches import (
        cm_estimate,
        cm_sketch_table,
    )

    # skewed frequencies: value i appears i+1 times
    df = spark.range(30).select(
        F.explode(F.array_repeat(F.col("id").cast("string"), (F.col("id") + 1).cast("int"))).alias("v")
    )
    sk = cm_sketch_table(df, "v", depth=4, width=64)
    exact = df.groupBy("v").agg(F.count(F.lit(1)).alias("n"))
    est = cm_estimate(sk, exact.select("v"), "v", depth=4, width=64)
    rows = exact.join(est, "v").collect()
    assert all(r["n_cm"] >= r["n"] for r in rows)  # CM never underestimates
    # unseen values estimate to (near) zero collision mass only
    unseen = spark.createDataFrame([("zzz-not-there",)], "v string")
    e = cm_estimate(sk, unseen, "v", depth=4, width=64).collect()[0]["n_cm"]
    assert e <= 30  # bounded by collision mass, far below heavy hitters


def test_cm_merge_equals_single_pass(spark):
    from urban_traffic_data_lake_project_spark.operators.sketches import cm_sketch_table

    df = spark.range(500).select((F.col("id") % 37).cast("string").alias("v"))
    whole = {
        (r["row"], r["bucket"]): r["n"]
        for r in cm_sketch_table(df, "v", 4, 64).collect()
    }
    p1 = cm_sketch_table(df.filter(F.col("id") < 200), "v", 4, 64)
    p2 = cm_sketch_table(df.filter(F.col("id") >= 200), "v", 4, 64)
    merged = {
        (r["row"], r["bucket"]): r["n"]
        for r in p1.union(p2).groupBy("row", "bucket").agg(F.sum("n").alias("n")).collect()
    }
    assert merged == whole  # cells ADD under union-merge


def test_key_skew_profile_orders_heaviest_first(spark):
    from urban_traffic_data_lake_project_spark.operators.stats import key_skew_profile

    # key 'hot' holds half the table
    df = spark.range(1000).select(
        F.when(F.col("id") < 500, "hot").otherwise((F.col("id") % 50).cast("string")).alias("k")
    )
    rows = key_skew_profile(df, ["k"], top_n=5).collect()
    assert rows[0]["k"] == "hot" and rows[0]["rank"] == 1
    assert abs(rows[0]["share"] - 0.5) < 1e-9
    shares = [r["share"] for r in rows]
    assert shares == sorted(shares, reverse=True)
    assert sum(shares) <= 1.0 + 1e-9


def test_bloom_filter_no_false_negatives_and_merge(spark):
    from urban_traffic_data_lake_project_spark.operators.sketches import (
        bloom_build,
        bloom_probe,
    )

    members = spark.range(200).select(F.concat(F.lit("doc-"), F.col("id")).alias("v"))
    bloom = bloom_build(members, "v", m_bits=4096, k=4)
    # every inserted value MUST probe true (structural guarantee)
    probe_in = bloom_probe(
        members.select(F.col("v").alias("id"), "v"), "id", "v", bloom, 4096, 4
    )
    assert probe_in.filter(~F.col("maybe_member")).count() == 0
    # disjoint values are mostly definitive negatives (fp rate ~(800/4096)^4)
    others = spark.range(500).select(
        F.concat(F.lit("other-"), F.col("id")).alias("id"),
        F.concat(F.lit("other-"), F.col("id")).alias("v"),
    )
    n_fp = bloom_probe(others, "id", "v", bloom, 4096, 4).filter("maybe_member").count()
    assert n_fp < 25  # ~0.15% expected; generous bound
    # merge = union + re-OR: equal to the single-pass filter
    b1 = bloom_build(members.limit(100), "v", 4096, 4)
    b2 = bloom_build(members.subtract(members.limit(100)), "v", 4096, 4)
    merged = b1.union(b2).groupBy("word").agg(F.bit_or("word_bits").alias("word_bits"))
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, bloom.collect()))


def test_hist_sketch_mergeability_and_accuracy(spark, sf_dir):
    """Mergeability is EXACT (sketches of disjoint halves merged == direct
    sketch), and quantile estimates land within one bin width of the true
    percentile."""
    from urban_traffic_data_lake_project_spark.operators.sketches import (
        hist_merge,
        hist_quantiles,
        hist_sketch_table,
    )
    from urban_traffic_data_lake_project_spark.sources import load_table
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem")
    LO, HI, BINS = 0.0, 110_000.0, 256
    direct = hist_sketch_table(li, ["l_returnflag"], "l_extendedprice", LO, HI, BINS)
    a = hist_sketch_table(
        li.filter(F.col("l_orderkey") % 2 == 0), ["l_returnflag"], "l_extendedprice", LO, HI, BINS
    )
    b = hist_sketch_table(
        li.filter(F.col("l_orderkey") % 2 == 1), ["l_returnflag"], "l_extendedprice", LO, HI, BINS
    )
    merged = hist_merge(a.unionByName(b), ["l_returnflag"])
    key = lambda r: (r["l_returnflag"], r["bin"])  # noqa: E731
    assert {key(r): r["n"] for r in merged.collect()} == {
        key(r): r["n"] for r in direct.collect()
    }

    est = hist_quantiles(direct, ["l_returnflag"], [0.5, 0.9], LO, HI, BINS).collect()
    width = (HI - LO) / BINS
    truth = {
        r["l_returnflag"]: (r["p50"], r["p90"])
        for r in li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_extendedprice, 0.5)").alias("p50"),
            F.expr("percentile(l_extendedprice, 0.9)").alias("p90"),
        )
        .collect()
    }
    for r in est:
        t50, t90 = truth[r["l_returnflag"]]
        assert abs(r["q50"] - t50) <= width, (r["l_returnflag"], r["q50"], t50)
        assert abs(r["q90"] - t90) <= width, (r["l_returnflag"], r["q90"], t90)


def test_cluster_balanced_sample_caps_and_keeps_small_clusters(spark, sf_dir):
    from urban_traffic_data_lake_project_spark.operators.sampling import (
        cluster_balanced_sample,
    )
    from urban_traffic_data_lake_project_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cap = 7
    out = cluster_balanced_sample(emb, cap=cap).collect()
    by_cluster: dict[int, list] = {}
    for r in out:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, rows in by_cluster.items():
        n_cluster = rows[0].n_cluster
        # capped clusters emit exactly cap rows; smaller ones survive whole
        assert len(rows) == min(cap, n_cluster)
    # determinism: a re-run draws the identical sample
    again = cluster_balanced_sample(emb, cap=cap).collect()
    assert sorted(r.vec_id for r in out) == sorted(r.vec_id for r in again)


def test_strip_markup_semantics(spark):
    from urban_traffic_data_lake_project_spark.operators.text import strip_markup

    df = spark.createDataFrame(
        [
            (1, '<p>hello <b>world</b></p> see https://x.io/a?b=1 now &amp; &#39;q'),
            (2, "plain text, no markup"),
            (3, "<div><div>nested</div></div>"),
        ],
        "id long, t string",
    )
    s = strip_markup(F.col("t"))
    rows = {
        r.id: r
        for r in df.select(
            "id", s["clean"].alias("c"), s["n_tags"].alias("nt"), s["n_urls"].alias("nu")
        ).collect()
    }
    assert rows[1].c == "hello world see now q" and rows[1].nt == 4 and rows[1].nu == 1
    assert rows[2].c == "plain text, no markup" and rows[2].nt == 0 and rows[2].nu == 0
    assert rows[3].c == "nested" and rows[3].nt == 4


def test_remove_boilerplate_lines_threshold(spark):
    from urban_traffic_data_lake_project_spark.operators.text import (
        remove_boilerplate_lines,
    )

    # 10 docs: 'chrome' in all (100%), 'promo' in 2 (20%), body unique
    rows = [
        (i, "chrome\n" + (f"promo\n" if i < 2 else "") + f"body {i}")
        for i in range(10)
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    out = {
        r.id: r for r in remove_boilerplate_lines(df, "id", "t", max_doc_frac=0.5).collect()
    }
    # at 50%: chrome dropped, promo (20%) kept, body kept, order preserved
    assert out[0].clean_text == "promo\nbody 0" and out[0].n_boiler == 1
    assert out[5].clean_text == "body 5" and out[5].n_lines == 2
    strict = {
        r.id: r for r in remove_boilerplate_lines(df, "id", "t", max_doc_frac=0.15).collect()
    }
    # at 15%: promo (2/10 = 20%) also dropped; unique bodies (10%) survive
    assert strict[1].clean_text == "body 1" and strict[1].n_boiler == 2


def test_inverted_index_postings_consistency(spark, sf_dir):
    from urban_traffic_data_lake_project_spark.operators.text import inverted_index
    from urban_traffic_data_lake_project_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    rows = inverted_index(docs, "doc_id", "text", 2, 0.8).collect()
    assert rows
    for r in rows:
        ids = [int(x) for x in r.postings.split(",")]
        assert len(ids) == r.df            # df == posting length
        assert ids == sorted(ids)          # sorted
        assert len(set(ids)) == len(ids)   # distinct
        assert 2 <= r.df <= 0.8 * n_docs   # both bounds enforced


def test_compression_ratio_orders_repetitive_below_prose(spark):
    from urban_traffic_data_lake_project_spark.operators.text import compression_ratio
    import random

    random.seed(5)
    prose_words = [f"w{random.randrange(100000)}" for _ in range(400)]
    rows = [
        (1, "spam spam " * 200),                 # highly repetitive
        (2, " ".join(prose_words)),               # high-entropy prose-ish
        (3, ""),                                  # empty -> NULL ratio
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in compression_ratio(df, "doc_id", "text").collect()}
    assert out[1].compression_ratio < 0.2 < out[2].compression_ratio
    assert out[3].compression_ratio is None and out[3].n_bytes == 0
    # bytes accounting is exact
    assert out[1].n_bytes == len("spam spam " * 200)
    # deterministic across runs
    again = {r.doc_id: r.compression_ratio for r in compression_ratio(df, "doc_id", "text").collect()}
    assert again[1] == out[1].compression_ratio


def test_bm25_ranking_properties(spark):
    """BM25 on an engineered corpus: a doc hitting all query terms outranks
    partial hits; higher tf raises the score only sub-linearly (saturation);
    docs with no query terms are absent; k truncates."""
    from urban_traffic_data_lake_project_spark.operators.text import bm25_topk

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma filler filler filler"),          # all 3 terms
            (1, "alpha alpha alpha alpha filler filler"),          # one term, high tf
            (2, "alpha filler filler filler filler filler"),       # one term, tf=1
            (3, "filler filler filler filler filler filler"),      # no terms
            (4, "beta gamma filler filler filler filler"),         # two terms
        ],
        "doc_id long, text string",
    )
    out = bm25_topk(docs, "doc_id", "text", ("alpha", "beta", "gamma"), k=3).collect()
    assert [r["doc_id"] for r in out][0] == 0          # full coverage wins
    assert len(out) == 3                               # k truncation
    by_id = {r["doc_id"]: r for r in bm25_topk(docs, "doc_id", "text", ("alpha", "beta", "gamma"), k=10).collect()}
    assert 3 not in by_id                              # no-term doc filtered out
    assert by_id[0]["n_terms_hit"] == 3 and by_id[4]["n_terms_hit"] == 2
    # tf saturation: 4x the tf must score higher than tf=1 but < 4x higher
    s1, s4 = by_id[2]["bm25"], by_id[1]["bm25"]
    assert s1 < s4 < 4 * s1


# ---------------------------------------------------------------------------
# KMV / theta sketch
# ---------------------------------------------------------------------------
def test_kmv_exact_below_k(spark):
    """Fewer than k distinct values -> the sketch holds the whole hash set
    and the estimate is exactly the distinct count."""
    from urban_traffic_data_lake_project_spark.operators.sketches import (
        kmv_estimate,
        kmv_sketch_table,
    )

    df = spark.range(1000).select(
        F.lit("g").alias("g"), (F.col("id") % 37).cast("string").alias("v")
    )
    sk = kmv_sketch_table(df, ["g"], "v", k=256)
    assert sk.count() == 37
    est = kmv_estimate(sk, ["g"], k=256).collect()[0]["n_kmv"]
    assert est == 37.0


def test_kmv_null_values_ignored_null_groups_kept(spark):
    """NULL values are not distinct elements (COUNT(DISTINCT v)
    semantics): they contribute no hash, so the estimate over a column
    that is 1/3 NULL equals the non-null distinct count exactly (below
    k). NULL GROUP KEYS are real groups and must survive the
    partition-local prune (groupby dropna=False). Nulls are filtered
    BEFORE the Arrow boundary so the 60-bit hash column never degrades
    to float64 in pandas."""
    from urban_traffic_data_lake_project_spark.operators.sketches import (
        kmv_estimate,
        kmv_sketch_table,
    )

    df = spark.range(900).select(
        F.when(F.col("id") % 2 == 0, F.lit("g")).alias("g"),  # half NULL keys
        F.when(F.col("id") % 3 != 0, (F.col("id") % 41).cast("string")).alias("v"),
    )
    sk = kmv_sketch_table(df, ["g"], "v", k=256)
    assert sk.where(F.col("h").isNull()).count() == 0
    est = {r["g"]: r["n_kmv"] for r in kmv_estimate(sk, ["g"], k=256).collect()}
    # exact per-group non-null distinct counts from the engine itself
    exact = {
        r["g"]: r["n"]
        for r in df.groupBy("g").agg(F.count_distinct("v").alias("n")).collect()
    }
    assert set(est) == set(exact) and None in est
    assert est == {g: float(n) for g, n in exact.items()}


def test_kmv_estimate_within_expected_error(spark):
    # k=256 -> relative standard error ~1/sqrt(k-2) ~ 6.3%; assert 4 sigma
    from urban_traffic_data_lake_project_spark.operators.sketches import (
        kmv_estimate,
        kmv_sketch_table,
    )

    n = 5000
    df = spark.range(n).select(
        F.lit("g").alias("g"), F.col("id").cast("string").alias("v")
    )
    est = kmv_estimate(kmv_sketch_table(df, ["g"], "v", k=256), ["g"], k=256)
    assert abs(est.collect()[0]["n_kmv"] - n) / n < 0.26


def test_kmv_merge_equals_single_pass(spark):
    """Per-batch sketches merged == the sketch of the unioned batches —
    the property that lets daily sketch tables stand in for history."""
    from urban_traffic_data_lake_project_spark.operators.sketches import (
        kmv_merge,
        kmv_sketch_table,
    )

    df = spark.range(4000).select(
        (F.col("id") % 2).cast("string").alias("g"),
        (F.col("id") % 900).cast("string").alias("v"),
        (F.col("id") % 4).alias("batch"),
    )
    k = 64
    whole = kmv_sketch_table(df, ["g"], "v", k=k)
    parts = [
        kmv_sketch_table(df.where(F.col("batch") == i), ["g"], "v", k=k)
        for i in range(4)
    ]
    merged = kmv_merge(parts[0].unionAll(parts[1]).unionAll(parts[2]).unionAll(parts[3]), ["g"], k=k)
    a = {(r["g"], r["h"]) for r in whole.collect()}
    b = {(r["g"], r["h"]) for r in merged.collect()}
    assert a == b


def test_kmv_set_estimates_disjoint_and_identical(spark):
    """Edge semantics: disjoint sets -> intersection estimate 0; identical
    sets -> difference estimate 0 and union == either side's estimate."""
    from urban_traffic_data_lake_project_spark.operators.sketches import (
        kmv_set_estimates,
        kmv_sketch_table,
    )

    k = 128
    left = spark.range(0, 2000).select(F.concat(F.lit("L"), F.col("id")).alias("v"))
    right = spark.range(2000, 4000).select(F.concat(F.lit("R"), F.col("id")).alias("v"))
    sa = kmv_sketch_table(left, [], "v", k=k)
    sb = kmv_sketch_table(right, [], "v", k=k)
    row = kmv_set_estimates(sa, sb, k=k).collect()[0]
    assert row["inter_kmv"] == 0.0
    assert abs(row["union_kmv"] - 4000) / 4000 < 0.4

    same = kmv_set_estimates(sa, sa, k=k).collect()[0]
    assert same["aonly_kmv"] == 0.0
    assert abs(same["union_kmv"] - 2000) / 2000 < 0.4


def test_cm_heavy_hitters_equals_direct_exact(spark):
    """The CM screen must be invisible in the result: same heavy set and
    counts as a plain exact groupBy + threshold (no false negatives by
    the CM overestimate-only property; false positives die at the exact
    re-check), and n_cm >= n_exact for every survivor."""
    from urban_traffic_data_lake_project_spark.operators.sketches import (
        cm_heavy_hitters,
    )

    # skewed: value 'hot-i' for i<5 appears ~200x, the tail once each
    df = spark.range(2000).select(
        F.when(F.col("id") < 1000, F.concat(F.lit("hot-"), F.col("id") % 5))
        .otherwise(F.concat(F.lit("cold-"), F.col("id")))
        .alias("v")
    )
    got = {
        r["v"]: (r["n_cm"], r["n_exact"])
        for r in cm_heavy_hitters(df, "v", min_frac=0.05, depth=4, width=64).collect()
    }
    direct = {
        r["v"]: r["n"]
        for r in df.groupBy("v").agg(F.count(F.lit(1)).alias("n")).where(F.col("n") >= 100).collect()
    }
    assert set(got) == set(direct)
    for v, (n_cm, n_exact) in got.items():
        assert n_exact == direct[v]
        assert n_cm >= n_exact


# ---------------------------------------------------------------------------
# DSIR importance resampling
# ---------------------------------------------------------------------------
def test_dsir_selection_skews_toward_target_language(spark, sf_dir):
    """The importance weights must do their job: the Gumbel-top-k sample
    drawn ∝ exp(logw) should over-represent the target domain (lang='en')
    relative to the raw pool — the distributional property the hash
    oracle (which only proves replayability) can't express. Also pins the
    contract: ranks are 1..n_keep, keys descend, and target docs carry a
    higher mean logw than non-target docs."""
    from urban_traffic_data_lake_project_spark.operators.sampling import (
        dsir_importance_weights,
    )

    docs = load_table(spark, sf_dir, "documents")
    base_rate = (
        docs.agg(F.avg((F.col("lang") == "en").cast("double"))).first()[0]
    )
    out = dsir_importance_weights(
        docs, "doc_id", "text", F.col("lang") == "en", n_keep=100
    )
    picked = out.join(docs.select("doc_id", "lang"), "doc_id").collect()
    assert len(picked) == min(100, docs.count())
    ranks = sorted(r["rank"] for r in picked)
    assert ranks == list(range(1, len(picked) + 1))
    by_rank = sorted(picked, key=lambda r: r["rank"])
    keys = [r["resample_key"] for r in by_rank]
    assert keys == sorted(keys, reverse=True)

    picked_rate = sum(r["lang"] == "en" for r in picked) / len(picked)
    assert picked_rate > base_rate, (picked_rate, base_rate)

    mean_w = docs.select(
        "doc_id", (F.col("lang") == "en").alias("t")
    ).join(
        dsir_importance_weights(
            docs, "doc_id", "text", F.col("lang") == "en",
            n_keep=docs.count(),
        ),
        "doc_id",
    ).groupBy("t").agg(F.avg("logw").alias("w")).collect()
    w = {r["t"]: r["w"] for r in mean_w}
    assert w[True] > w[False], w


def test_temperature_resample_identity_at_t1_and_flattens_at_high_t(spark, sf_dir):
    """T=1 must be the identity (thresholds hit the full resolution for
    every group), and raising T must strictly reduce imbalance: the
    max/min group-share ratio at T=3 sits between natural and the
    near-uniform T=100 result."""
    from urban_traffic_data_lake_project_spark.operators.sampling import (
        temperature_resample,
    )
    from urban_traffic_data_lake_project_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")

    def ratio(df):
        counts = [r["n"] for r in df.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()]
        return max(counts) / min(counts)

    t1 = temperature_resample(docs, "lang", "doc_id", temperature=1.0)
    assert t1.count() == docs.count()
    natural = ratio(docs)
    mid = ratio(temperature_resample(docs, "lang", "doc_id", temperature=3.0))
    flat = ratio(temperature_resample(docs, "lang", "doc_id", temperature=100.0))
    assert flat <= mid <= natural
    assert flat < natural


def test_keep_best_picks_max_quality_member(spark, sf_dir):
    """The kept doc really is its cluster's argmax-quality member
    (doc_id tiebreak), clusters partition the corpus, and the keep-first
    policy would have chosen differently wherever quality order and id
    order disagree (the policy is not vacuously keep-first)."""
    from pyspark.sql import functions as F

    from urban_traffic_data_lake_project_spark.operators import text as T
    from urban_traffic_data_lake_project_spark.operators.dedup import (
        dup_clusters,
        minhash_lsh_dedup_pairs,
    )
    from urban_traffic_data_lake_project_spark.queries.base import ROUND_STAT
    from urban_traffic_data_lake_project_spark.sources import load_table

    out = {r["cluster_id"]: r for r in qc.REGISTRY["dedup_keep_best"].fn(spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_dedup_pairs(
        docs, "doc_id", "text", n=3, num_hashes=qc._MINHASH_K,
        bands=qc._MINHASH_BANDS, threshold=qc._JACCARD_THRESHOLD,
    )
    members = (
        dup_clusters(docs, "doc_id", pairs)
        .join(
            docs.select(
                "doc_id",
                F.round(T.quality_score(F.col("text")), ROUND_STAT).alias("q"),
            ),
            "doc_id",
        )
        .collect()
    )
    by_cluster: dict = {}
    for r in members:
        by_cluster.setdefault(r["cluster_id"], []).append((r["q"], r["doc_id"]))
    assert sum(r["n_members"] for r in out.values()) == docs.count()
    assert set(by_cluster) == set(out)
    diverges = 0
    for cid, mem in by_cluster.items():
        want_q, want_id = max((q, -i) for q, i in mem)
        r = out[cid]
        assert r["kept_doc_id"] == -want_id and r["kept_quality"] == want_q, cid
        assert r["n_members"] == len(mem) and r["n_dropped"] == len(mem) - 1
        if -want_id != min(i for _, i in mem):
            diverges += 1
    assert diverges > 0  # keep-best actually differs from keep-first here


def test_quantile_kmv_sample_is_deterministic_and_mergeable(spark):
    """The hash-rank sample behind sketch_quantile_kmv: the k smallest
    hashes of a union equal the merge of per-half k-smallest sets (the
    KMV property that makes the sketch distributable), and the sample —
    hence the quantile estimate — is partitioning-independent."""
    from urban_traffic_data_lake_project_spark.functions import stable_hash64

    df = spark.range(0, 5000).select(
        F.col("id"), stable_hash64(F.col("id").cast("string"), salt="qs|").alias("h")
    )
    k = 64
    full = [r["id"] for r in df.orderBy("h").limit(k).collect()]
    lo = df.filter(F.col("id") < 2500).orderBy("h").limit(k)
    hi = df.filter(F.col("id") >= 2500).orderBy("h").limit(k)
    merged = [r["id"] for r in lo.union(hi).orderBy("h").limit(k).collect()]
    assert full == merged
    repart = [
        r["id"] for r in df.repartition(13).orderBy("h").limit(k).collect()
    ]
    assert full == repart


def test_quantile_kmv_estimate_error_bounded(spark):
    """On a known uniform distribution the k=1024 hash sample's median
    estimate lands within a few percent of truth (~1/sqrt(k))."""
    from urban_traffic_data_lake_project_spark.functions import stable_hash64

    n = 100_000
    df = spark.range(0, n).select(
        F.col("id").cast("double").alias("x"),
        stable_hash64(F.col("id").cast("string"), salt="qs|").alias("h"),
    )
    samp = df.orderBy("h").limit(1024)
    est = samp.agg(F.percentile("x", 0.5).alias("m")).first()["m"]
    assert abs(est - n / 2) / (n / 2) < 0.10
