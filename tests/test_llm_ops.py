"""LLM-pipeline operators: oracle parity + semantic properties."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from urban_traffic_data_lake_project_spark.operators import dedup as D
from urban_traffic_data_lake_project_spark.operators import similarity as S
from urban_traffic_data_lake_project_spark.operators import text as T
from urban_traffic_data_lake_project_spark.queries import llm as ql
from urban_traffic_data_lake_project_spark.sources import load_table


@pytest.mark.parametrize("name", sorted(ql.REGISTRY))
def test_llm_query_matches_oracle(oracle, name):
    if ql.REGISTRY[name].oracle is None:
        # rows-only spec (no SQL-expressible oracle) — covered by its own
        # property tests (e.g. sim_embedding_pca in test_embedding_stats)
        pytest.skip("rows-only spec")
    oracle(name)


def test_exact_dedup_collapses_identical_texts(spark):
    df = spark.createDataFrame(
        [(1, "Hello, World!"), (2, "hello   world"), (3, "different doc")],
        "doc_id long, text string",
    )
    out = D.exact_dedup(df, "doc_id", "text").collect()
    # normalization makes rows 1 and 2 identical; min id (1) survives
    ids = sorted(r["doc_id"] for r in out)
    assert ids == [1, 3]


def test_jaccard_pairs_find_near_duplicates(spark):
    a = "the quick brown fox jumps over the lazy dog again and again today"
    b = "the quick brown fox jumps over the lazy dog again and again tomorrow"
    c = "completely unrelated text about spark query engines and shuffles"
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id long, text string"
    )
    pairs = D.ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.5).collect()
    assert len(pairs) == 1
    assert (pairs[0]["id_a"], pairs[0]["id_b"]) == (1, 2)
    assert 0.5 <= pairs[0]["jaccard"] < 1.0


def test_minhash_lsh_agrees_with_exact_jaccard_on_testdata(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r["id_a"], r["id_b"])
        for r in D.ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.5).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_lsh_dedup_pairs(docs, "doc_id", "text", 3, 16, 4, 0.5).collect()
    }
    # LSH pairs are verified -> subset; recall should be high on near-dups
    assert lsh <= exact
    if exact:
        assert len(lsh) / len(exact) >= 0.8


def test_substring_span_dedup_flags_shared_paragraph(spark):
    boiler = "subscribe to our newsletter for daily updates and exclusive offers every single day"
    unique = [
        "completely original research about query optimizers and vectorized execution engines",
        "another entirely different passage describing watermark semantics in stream processing",
        "a third text on broadcast joins partition pruning and adaptive query execution",
    ]
    rows = [
        (1, unique[0] + "\n" + boiler),
        (2, unique[1] + "\n" + boiler),
        (3, unique[2]),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in D.substring_span_dedup(
            df, "doc_id", "text", unit="paragraph", min_span_tokens=5
        ).collect()
    }
    # the boilerplate paragraph is shared by docs 1 and 2 -> one dup span each
    assert out[1]["n_spans"] == 2 and out[1]["n_dup_spans"] == 1
    assert out[2]["n_spans"] == 2 and out[2]["n_dup_spans"] == 1
    assert out[3]["n_dup_spans"] == 0 and out[3]["keep"]
    assert abs(out[1]["dup_span_frac"] - 0.5) < 1e-9 and out[1]["keep"]

    # window mode: a 50-token window duplicated verbatim across two docs
    shared = " ".join(f"tok{i}" for i in range(50))
    tail_a = " ".join(f"aaa{i}" for i in range(30))
    tail_b = " ".join(f"bbb{i}" for i in range(30))
    wdf = spark.createDataFrame(
        [(1, shared + " " + tail_a), (2, shared + " " + tail_b)],
        "doc_id long, text string",
    )
    wout = {
        r["doc_id"]: r
        for r in D.substring_span_dedup(
            wdf, "doc_id", "text", unit="window", window_tokens=50, min_span_tokens=8
        ).collect()
    }
    # spans per doc: [0:50] (shared) and [50:80] (unique tail)
    assert wout[1]["n_spans"] == 2 and wout[1]["n_dup_spans"] == 1
    assert wout[2]["n_spans"] == 2 and wout[2]["n_dup_spans"] == 1
    # docs with no qualifying spans keep trivially
    tiny = spark.createDataFrame([(9, "short")], "doc_id long, text string")
    tout = D.substring_span_dedup(tiny, "doc_id", "text").collect()[0]
    assert tout["n_spans"] == 0 and tout["keep"] and tout["dup_span_frac"] == 0.0


def test_simhash_near_duplicates_have_small_hamming_distance(spark):
    a = "the quick brown fox jumps over the lazy dog again and again today"
    b = "the quick brown fox jumps over the lazy dog again and again tomorrow"
    c = "completely unrelated text about spark query engines and shuffles"
    df = spark.createDataFrame([(1, a), (2, b), (3, c)], "doc_id long, text string")
    out = {r["doc_id"]: r["simhash"] for r in D.simhash(df, "doc_id", "text").collect()}

    def hamming(x, y):
        return bin(x ^ y).count("1")

    assert hamming(out[1], out[2]) < hamming(out[1], out[3])


def test_cosine_topk_selfconsistency(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0)
    out = S.cosine_topk(emb, q, k=3).collect()
    assert len(out) == 3
    sims = [r["cosine_sim"] for r in out]
    assert sims == sorted(sims, reverse=True)
    assert all(r["neighbor_id"] != 0 for r in out)
    assert all(-1.0 - 1e-9 <= s <= 1.0 + 1e-9 for s in sims)


def test_ivf_recall_against_brute_force(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = S.cosine_topk(emb, q, k=5).collect()
    approx = S.cosine_topk_ivf(emb, q, k=5, n_centroids=16, nprobe=4).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_ivf_join_regime_matches_closure_bit_for_bit(spark, sf_dir):
    """The large-query-set JOIN regime must return the identical result
    (ids, ranks, AND cosine doubles — both scorers use the same left-assoc
    float64 sweep) as the driver-collect closure regime."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    a = sorted(
        tuple(r) for r in S.cosine_topk_ivf(
            emb, q, k=5, n_centroids=16, nprobe=4, query_regime="closure"
        ).collect()
    )
    b = sorted(
        tuple(r) for r in S.cosine_topk_ivf(
            emb, q, k=5, n_centroids=16, nprobe=4, query_regime="join"
        ).collect()
    )
    assert a == b


def _spy_scorer_queries(monkeypatch) -> list:
    """Wrap the one Arrow cosine scorer; the returned list records the
    query side each call received: collected (ids, Q, qn) arrays in the
    closure regime, None in the join regime."""
    seen = []
    real = S._score_local_topk_arrow

    def spy(cand, queries, *a, **k):
        seen.append(queries)
        return real(cand, queries, *a, **k)

    monkeypatch.setattr(S, "_score_local_topk_arrow", spy)
    return seen


def _is_query_arrays(queries, n: int) -> bool:
    import numpy as np

    if not isinstance(queries, tuple) or len(queries) != 3:
        return False
    ids, Q, qn = queries
    return (
        all(isinstance(x, np.ndarray) for x in queries)
        and len(ids) == len(qn) == Q.shape[0] == n
    )


def test_ivf_join_regime_never_collects_query_side(spark, sf_dir, monkeypatch):
    """In the join regime the scorer must never receive a driver-collected
    query set, and the query vectors must flow through a JOIN in the
    physical plan instead."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    seen = _spy_scorer_queries(monkeypatch)
    out = S.cosine_topk_ivf(
        emb, q, k=5, n_centroids=16, nprobe=4, query_regime="join"
    )
    rows = out.collect()
    assert len(rows) > 0
    assert seen == [None]
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the query-vector column is join output, not a task-closure literal
    assert "__qv" in plan


def test_ivf_auto_regime_picks_by_budget(spark, sf_dir, monkeypatch):
    """auto -> closure under the budget, join above it (budget forced to 5
    with 10 queries)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    seen = _spy_scorer_queries(monkeypatch)
    out = S.cosine_topk_ivf(
        emb, q, k=5, n_centroids=16, nprobe=4,
        query_regime="auto", query_broadcast_budget=5,
    ).collect()
    assert len(out) > 0
    assert seen == [None]
    # and under the default budget, auto must take the closure path
    seen.clear()
    out2 = S.cosine_topk_ivf(
        emb, q, k=5, n_centroids=16, nprobe=4, query_regime="auto"
    ).collect()
    assert len(out2) > 0
    assert len(seen) == 1 and _is_query_arrays(seen[0], 10)


def test_persisted_index_join_regime_matches_closure(spark, sf_dir, tmp_path, monkeypatch):
    """query_ivf_index: the join regime must (a) return the identical
    result as the closure regime, (b) never hand the scorer a collected
    query set, and (c) KEEP the probed-bucket partition pruning (the
    bucket-id collect is bounded by n_centroids in either regime)."""
    emb = load_table(spark, sf_dir, "embeddings")
    d = str(tmp_path / "ivf_idx_regime")
    S.build_ivf_index(emb, d, "vec_id", "embedding", n_centroids=16)
    q = emb.filter(F.col("vec_id") < 10)
    seen = _spy_scorer_queries(monkeypatch)
    a = sorted(
        tuple(r) for r in S.query_ivf_index(
            spark, d, q, k=5, nprobe=4, query_regime="closure"
        ).collect()
    )
    assert len(seen) == 1 and _is_query_arrays(seen[0], 10)
    seen.clear()
    out = S.query_ivf_index(spark, d, q, k=5, nprobe=4, query_regime="join")
    b = sorted(tuple(r) for r in out.collect())
    assert seen == [None]
    assert a == b
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "centroid_id" in plan and "__qv" in plan


def test_bucketed_near_dup_subset_of_brute_force_and_finds_true_dups(spark, sf_dir):
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    bucketed = {
        (r["id_a"], r["id_b"])
        for r in D.embedding_near_dup_pairs(emb, threshold=0.2).collect()
    }
    brute = {
        (r["id_a"], r["id_b"])
        for r in D.embedding_near_dup_pairs(emb, threshold=0.2, brute_force=True).collect()
    }
    assert bucketed <= brute  # bucketing only prunes, never invents pairs
    assert bucketed  # and it finds a non-trivial share on random vectors

    # true near-duplicates (tiny perturbations of the same vector) MUST
    # land in a shared bucket and be found at a production-style threshold
    rng = np.random.default_rng(3)
    base = rng.standard_normal((20, 16))
    rows = []
    for i, v in enumerate(base):
        rows.append((2 * i, [float(x) for x in v]))
        rows.append((2 * i + 1, [float(x) for x in v + 0.001 * rng.standard_normal(16)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    found = {
        (r["id_a"], r["id_b"])
        for r in D.embedding_near_dup_pairs(df, threshold=0.95, n_centroids=8).collect()
    }
    expected = {(2 * i, 2 * i + 1) for i in range(20)}
    assert expected <= found, expected - found


def test_lang_id_on_obvious_texts(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog went to the park in the morning"),
            (2, "el perro y la casa de los abuelos por la tarde"),
            (3, "le chat est dans la maison pour les vacances"),
            (4, "der hund und die katze sind nicht mit dem auto"),
            (5, "这是一个中文句子用来测试语言识别"),
            (6, "zzz qqq xxx"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["pred_lang"] for r in df.select("doc_id", T.lang_id(F.col("text")).alias("pred_lang")).collect()}
    assert out == {1: "en", 2: "es", 3: "fr", 4: "de", 5: "zh", 6: "und"}


def test_quality_score_orders_obvious_cases(spark):
    good = "the quick brown fox jumps over the lazy dog and runs to the forest with great speed every single day"
    bad = "@@@ ### !!! ??? %%% ^^^ &&&"
    df = spark.createDataFrame([(1, good), (2, bad)], "doc_id long, text string")
    out = {r["doc_id"]: r["q"] for r in df.select("doc_id", T.quality_score(F.col("text")).alias("q")).collect()}
    assert out[1] > out[2]
    assert 0.0 <= out[2] < out[1] <= 1.0


def test_token_counts(spark):
    df = spark.createDataFrame([(1, "hello, world! it's fine."), (2, ""), (3, "   ")], "id long, text string")
    out = df.select(
        "id",
        T.token_count_whitespace(F.col("text")).alias("ws"),
        T.token_count_bpe_ish(F.col("text")).alias("bpe"),
    ).collect()
    by_id = {r["id"]: (r["ws"], r["bpe"]) for r in out}
    assert by_id[1][0] == 4
    # hello , world ! it ' s fine .  -> 9 BPE-ish pieces
    assert by_id[1][1] == 9
    assert by_id[2] == (0, 0) and by_id[3] == (0, 0)


def test_hi_recall_banding_superset_on_borderline_pairs(spark):
    # 40 doc pairs engineered to Jaccard ~0.5 (12 shared + 6 own shingles
    # each side against 12+6: J = 12/24). 16x4 banding's S-curve midpoint is
    # ~0.71 -> expected recall ~23%; 16x8 (2 rows/band) midpoint ~0.35 ->
    # ~90%. The hi-recall config must find a SUPERSET, and strictly more.
    import random

    rng = random.Random(99)
    rows = []
    for i in range(40):
        shared = [f"w{i}_{j}" for j in range(14)]
        own_a = [f"a{i}_{j}" for j in range(6)]
        own_b = [f"b{i}_{j}" for j in range(6)]
        rows.append((2 * i, " ".join(shared + own_a)))
        rows.append((2 * i + 1, " ".join(shared + own_b)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    lo = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_lsh_dedup_pairs(
            df, "doc_id", "text", n=3, num_hashes=16, bands=4, threshold=0.4
        ).collect()
    }
    hi = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_lsh_dedup_pairs(
            df, "doc_id", "text", n=3, num_hashes=16, bands=8, threshold=0.4
        ).collect()
    }
    assert lo <= hi
    assert len(hi) > len(lo), (len(lo), len(hi))
    # the verify step keeps precision at 1.0 in both configs: every found
    # pair is a true engineered pair
    true_pairs = {(2 * i, 2 * i + 1) for i in range(40)}
    assert hi <= true_pairs


def test_dup_clusters_exact_connected_components(spark):
    docs = spark.createDataFrame([(i, f"doc {i}") for i in range(8)], "doc_id long, text string")
    # components: {1,2,3} via hub 3, {5,6,7} as a chain, {0}, {4} singletons
    pairs = spark.createDataFrame(
        [(1, 3, 0.9), (2, 3, 0.9), (5, 6, 0.9), (6, 7, 0.9)],
        "id_a long, id_b long, jaccard double",
    )
    out = {r["doc_id"]: r["cluster_id"] for r in D.dup_clusters(docs, "doc_id", pairs).collect()}
    assert out == {0: 0, 1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, 7: 5}


def test_sampling_operators_semantics(spark, sf_dir):
    from urban_traffic_data_lake_project_spark.operators import sampling as SP

    docs = load_table(spark, sf_dir, "documents")
    # stratified: exact quota per stratum (or full stratum if smaller)
    sizes = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    out = SP.stratified_sample(docs, ["lang"], "doc_id", 30)
    got = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert got == {k: min(30, v) for k, v in sizes.items()}
    # determinism: same seed -> identical ids; different seed -> different draw
    ids1 = {r["doc_id"] for r in SP.stratified_sample(docs, ["lang"], "doc_id", 30).collect()}
    ids2 = {r["doc_id"] for r in SP.stratified_sample(docs, ["lang"], "doc_id", 30, seed=7).collect()}
    assert ids1 == {r["doc_id"] for r in out.collect()}
    assert ids1 != ids2

    # split: stable membership — an id's split never changes when the
    # corpus shrinks (no eval contamination across dataset versions)
    full = {r["doc_id"]: r["split"] for r in SP.train_eval_split(docs, "doc_id", 100).collect()}
    half = {
        r["doc_id"]: r["split"]
        for r in SP.train_eval_split(docs.filter(F.col("doc_id") % 2 == 0), "doc_id", 100).collect()
    }
    assert all(full[k] == v for k, v in half.items())
    n_eval = sum(1 for v in full.values() if v == "eval")
    assert 0.04 < n_eval / len(full) < 0.2  # ~10% with hash noise

    # shards: every shard id in range, token totals balanced-ish
    sharded = SP.pack_shards(docs, "doc_id", "n_chars", 20_000)
    tot = docs.agg(F.sum("n_chars")).first()[0]
    n_shards = -(-tot // 20_000)
    per = {r["shard_id"]: r["t"] for r in sharded.groupBy("shard_id").agg(F.sum("n_chars").alias("t")).collect()}
    assert set(per) <= set(range(n_shards))
    assert max(per.values()) < 3 * 20_000  # no pathological shard


def test_chunk_documents_windows_and_overlap(spark):
    words = [f"w{i}" for i in range(250)]
    df = spark.createDataFrame(
        [(1, " ".join(words)), (2, "only three words"), (3, "   "), (4, "")],
        "doc_id long, text string",
    )
    out = T.chunk_documents(df, "doc_id", "text", chunk_tokens=100, overlap=20)
    rows = sorted(
        ((r["doc_id"], r["chunk_id"], r["n_tokens"], r["chunk_text"]) for r in out.collect())
    )
    # doc 1: 250 words -> starts 0/80/160 (ceil((250-20)/80) = 3 chunks)
    d1 = [r for r in rows if r[0] == 1]
    assert [(r[1], r[2]) for r in d1] == [(0, 100), (1, 100), (2, 90)]
    assert d1[0][3].split(" ") == words[0:100]
    assert d1[1][3].split(" ") == words[80:180]   # 20-token overlap
    assert d1[2][3].split(" ") == words[160:250]
    # doc 2: single short chunk; docs 3/4 (no tokens) yield nothing
    assert [r[1:3] for r in rows if r[0] == 2] == [(0, 3)]
    assert not [r for r in rows if r[0] in (3, 4)]


def test_grouped_vector_mean_matches_numpy(spark):
    import numpy as np

    rng = np.random.default_rng(2)
    rows = [(("a" if i % 2 else "b"), [float(x) for x in rng.standard_normal(8)]) for i in range(40)]
    df = spark.createDataFrame(rows, "g string, v array<double>")
    out = {r["g"]: np.array(r["centroid"]) for r in S.grouped_vector_mean(df, ["g"], "v").collect()}
    for g in ("a", "b"):
        want = np.mean([v for gg, v in rows if gg == g], axis=0)
        assert np.allclose(out[g], want, atol=1e-12)


def test_bpe_counts_match_cleanroom_python(spark):
    """Clean-room check: an independent pure-Python BPE (trained and
    applied with explicit loops, no string replace tricks shared with the
    operator) must produce identical per-doc token counts."""
    corpus = [
        (1, "low lower lowest low low"),
        (2, "new newer newest new lower"),
        (3, "wider wide widest new low"),
        (4, ""),
    ]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    num_merges = 6

    # --- independent implementation ---
    import re
    from collections import Counter

    def norm(t):
        return re.sub(r"[^a-z0-9]+", " ", t.lower()).strip()

    vocab = Counter(w for _, t in corpus for w in norm(t).split() if w)
    syms = {w: list(w) for w in vocab}
    merges = []
    for _ in range(num_merges):
        pair_counts = Counter()
        for w, f in vocab.items():
            s = syms[w]
            for a, b in zip(s, s[1:]):
                pair_counts[(a, b)] += f
        if not pair_counts:
            break
        best = min(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        for w in syms:
            s, out, i = syms[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and (s[i], s[i + 1]) == best:
                    out.append(s[i] + s[i + 1])
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    expected = {}
    for doc_id, t in corpus:
        ws = [w for w in norm(t).split() if w]
        expected[doc_id] = (len(ws), sum(len(syms[w]) for w in ws))

    got = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in T.bpe_token_counts(df, "doc_id", "text", num_merges=num_merges).collect()
    }
    assert got == expected
    # and the learned merges themselves are the classic ones for this corpus
    learned, _ = T.bpe_train(df, "text", num_merges=num_merges)
    assert [(pa, pb) for pa, pb, _ in learned] == merges
    # the reported pair frequency is the clean-room count at merge time
    assert all(cnt > 0 for _, _, cnt in learned)

    # encode: the exact token SEQUENCE fingerprint matches the clean-room
    # tokenization in document word order
    import hashlib

    enc = {
        r["doc_id"]: (r["n_tokens"], r["token_fp"])
        for r in T.bpe_encode(df, "doc_id", "text", num_merges=num_merges).collect()
    }
    for doc_id, t in corpus:
        ws = [w for w in norm(t).split() if w]
        stream = " ".join(tok for w in ws for tok in syms[w])
        want_fp = hashlib.md5(stream.encode()).hexdigest()
        assert enc[doc_id] == (sum(len(syms[w]) for w in ws), want_fp), doc_id


def test_kmeans_centroids_tighten_buckets(spark, sf_dir):
    """Lloyd rounds must not hurt: mean within-cluster cosine (to the
    assigned centroid) improves over the untrained seed, and recall vs
    brute force at the same probe budget is at least as good."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    V = np.array(
        [r["embedding"] for r in emb.select("embedding").collect()], dtype=np.float64
    )
    norms = np.sqrt((V * V).sum(axis=1))

    def mean_assigned_sim(entries):
        C = np.array([e["vec"] for e in entries], dtype=np.float64)
        cnorms = np.array([e["cnorm"] for e in entries], dtype=np.float64)
        sims = (V @ C.T) / (norms[:, None] * cnorms[None, :])
        return float(sims.max(axis=1).mean())

    seed = [
        {"cid": i, "vec": [float(x) for x in r["vec"]], "cnorm": float(r["cnorm"])}
        for i, r in enumerate(S.centroid_entries(emb, "vec_id", "embedding", 8))
    ]
    trained = S.kmeans_centroids(emb, k=8, iters=2)
    assert mean_assigned_sim(trained) >= mean_assigned_sim(seed) - 1e-9

    q = emb.filter(F.col("vec_id") < 10)
    exact = {(r["query_id"], r["neighbor_id"]) for r in S.cosine_topk(emb, q, k=5).collect()}
    rec_seed = {
        (r["query_id"], r["neighbor_id"])
        for r in S.cosine_topk_ivf(emb, q, k=5, n_centroids=8, nprobe=2).collect()
    }
    rec_trained = {
        (r["query_id"], r["neighbor_id"])
        for r in S.cosine_topk_ivf(emb, q, k=5, n_centroids=8, nprobe=2, train_iters=2).collect()
    }
    assert len(rec_trained & exact) >= len(rec_seed & exact) - 2  # no collapse


def test_bigram_logprob_backoff_semantics(spark):
    fit_texts = [
        (0, "the cat sat on the mat"),
        (2, "the dog sat on the rug"),
    ]
    score_texts = fit_texts + [(1, "the cat sat on the rug zebra quux")]
    fit = spark.createDataFrame(fit_texts, "doc_id long, text string")
    df = spark.createDataFrame(score_texts, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in T.bigram_logprob(df, "doc_id", "text", fit_df=fit).collect()
    }
    # fit docs scored on themselves: every bigram seen -> no backoff
    assert out[0]["oov_frac"] == 0.0 and out[2]["oov_frac"] == 0.0
    # held-out doc: "rug zebra", "zebra quux" unseen -> backoff fires
    assert out[1]["oov_frac"] > 0.0
    # seen-bigram scores are log(c12/c1) <= 0; all finite
    import math

    for r in out.values():
        assert r["avg_logp"] is not None and math.isfinite(r["avg_logp"])
        assert r["n_bigrams"] >= 1
    # a doc with one token has no bigrams and NULL scores
    single = spark.createDataFrame([(9, "hello")], "doc_id long, text string")
    s = T.bigram_logprob(single, "doc_id", "text", fit_df=fit).collect()[0]
    assert s["n_bigrams"] == 0 and s["avg_logp"] is None


def test_srp_near_dup_subset_of_brute_force_and_finds_true_dups(spark, sf_dir):
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    srp = {
        (r["id_a"], r["id_b"])
        for r in D.srp_near_dup_pairs(emb, threshold=0.2).collect()
    }
    brute = {
        (r["id_a"], r["id_b"])
        for r in D.embedding_near_dup_pairs(emb, threshold=0.2, brute_force=True).collect()
    }
    assert srp <= brute  # banding only prunes candidates, never invents pairs
    assert srp  # non-trivial share found on random vectors

    # tiny perturbations of the same vector agree on (almost surely) every
    # signature bit -> every band collides -> the pair MUST be found
    rng = np.random.default_rng(7)
    base = rng.standard_normal((20, 16))
    rows = []
    for i, v in enumerate(base):
        rows.append((2 * i, [float(x) for x in v]))
        rows.append((2 * i + 1, [float(x) for x in v + 1e-6 * rng.standard_normal(16)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    found = {
        (r["id_a"], r["id_b"])
        for r in D.srp_near_dup_pairs(df, threshold=0.95).collect()
    }
    expected = {(2 * i, 2 * i + 1) for i in range(20)}
    assert expected <= found, expected - found


def test_srp_planes_deterministic_and_bounded():
    planes = D.srp_planes(4, 8)
    assert planes == D.srp_planes(4, 8)
    assert all(-1.0 <= h <= 1.0 for p in planes for h in p)
    # distinct planes actually differ
    assert planes[0] != planes[1]


def test_srp_wide_signature_finds_true_dups(spark):
    """The 64-plane / 16-bit-band parameterization (the corpus-scale
    setting — bucket occupancy must track log2(n)) still recovers true
    near-duplicates, and the 64-bit signature's sign bit (bit 63, stored
    via two's complement) round-trips through the banding."""
    import numpy as np

    rng = np.random.default_rng(11)
    base = rng.standard_normal((15, 16))
    rows = []
    for i, v in enumerate(base):
        rows.append((2 * i, [float(x) for x in v]))
        rows.append((2 * i + 1, [float(x) for x in v + 1e-6 * rng.standard_normal(16)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    found = {
        (r["id_a"], r["id_b"])
        for r in D.srp_near_dup_pairs(df, n_planes=64, bands=4, threshold=0.95).collect()
    }
    expected = {(2 * i, 2 * i + 1) for i in range(15)}
    assert expected <= found, expected - found


def test_srp_choose_bands_scales_width_with_density_and_size():
    """The band chooser widens slices as random collision mass grows: a
    small corpus keeps narrow bands (max recall); a large or
    dup-dense one gets wider slices so expected extra candidates stay
    linear. Identical-signature mass is excluded from the tunable part
    (it is irreducible — same-sig rows collide at every width)."""
    # the budget is linear in n, so even a small all-distinct corpus
    # settles on a moderate width (w=8 keeps 64*99*100/2^w under 8n)
    assert D.srp_choose_bands(100, 100, 64) == 8
    # 1M distinct signatures: random mass n^2 = 1e12 needs
    # bands * 1e12 / 2^w <= 8e6 -> the chooser must leave w=16 behind
    bands_1m = D.srp_choose_bands(1_000_000, 1_000_000, 64)
    assert bands_1m <= 64 // 20 + 1  # width >= ~17 bits
    # all-identical signatures (pathological dup density): the squared
    # mass equals n^2, nothing is tunable, chooser keeps max recall
    assert D.srp_choose_bands(1_000_000, 1_000_000_000_000, 64) == 64
    # monotone: more rows never narrows the bands
    prev = 65
    for n in (10**3, 10**4, 10**5, 10**6, 10**7):
        b = D.srp_choose_bands(n, n, 64)
        assert b <= prev
        prev = b


def test_srp_auto_bands_matches_explicit_parameterization(spark):
    """bands="auto" must return exactly the pairs of an explicit call
    with the width it chose — the tuner is a planning decision, never a
    semantic one — and still recover every true near-duplicate."""
    import numpy as np

    rng = np.random.default_rng(23)
    base = rng.standard_normal((15, 16))
    rows = []
    for i, v in enumerate(base):
        rows.append((2 * i, [float(x) for x in v]))
        rows.append((2 * i + 1, [float(x) for x in v + 1e-6 * rng.standard_normal(16)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    auto = {
        (r["id_a"], r["id_b"])
        for r in D.srp_near_dup_pairs(
            df, n_planes=64, bands="auto", threshold=0.95
        ).collect()
    }
    # 30 rows, ~30 distinct signatures: chooser keeps the narrowest width
    explicit = {
        (r["id_a"], r["id_b"])
        for r in D.srp_near_dup_pairs(
            df, n_planes=64, bands=D.srp_choose_bands(30, 30, 64), threshold=0.95
        ).collect()
    }
    assert auto == explicit
    expected = {(2 * i, 2 * i + 1) for i in range(15)}
    assert expected <= auto, expected - auto


def test_pq_seed_vectors_quantize_losslessly(spark, sf_dir):
    """Codebook seed vectors ARE centroids, so they encode with zero
    distortion; ADC then retrieves each seed query as its own rank-1
    neighbor at distance 0. Codes stay within [0, k)."""
    from urban_traffic_data_lake_project_spark.operators import similarity as S
    from urban_traffic_data_lake_project_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cb = S.pq_codebooks(emb, "vec_id", "embedding", m=8, k=16)
    assert len(cb) == 8 and len(cb[0]) == 16 and len(cb[0][0]) == 8

    enc = S.pq_encode(emb, "vec_id", "embedding", cb)
    mse = {r["vec_id"]: r["mse"] for r in
           S.pq_reconstruction_mse(enc, "vec_id", "embedding", cb).collect()}
    seeds = sorted(mse)[:16]
    assert all(mse[i] == 0.0 for i in seeds)
    assert any(v > 0 for k_, v in mse.items() if k_ not in seeds)

    codes = enc.select("codes").collect()
    assert all(0 <= c < 16 for r in codes for c in r["codes"])

    queries = emb.filter("vec_id < 10")
    top = S.pq_adc_topk(emb, queries, "vec_id", "embedding", cb, k_top=3).collect()
    rank1 = {r["query_id"]: r for r in top if r["rank"] == 1}
    assert set(rank1) == set(range(10))
    for qid, r in rank1.items():
        assert r["corpus_id"] == qid and r["adc_dist"] == 0.0


def test_containment_detects_embedded_quote(spark):
    """A short document fully quoted inside a long host: containment
    short->host is 1.0 while Jaccard stays below any dedup threshold —
    the asymmetry that motivates the directed operator."""
    from urban_traffic_data_lake_project_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    quote = "the quick brown fox jumps over the lazy dog tonight"
    host = (
        "opening paragraph with completely unrelated prose about markets "
        + quote
        + " and a long closing section that keeps going with more filler "
        "words entirely of its own so the union is much larger than the quote"
    )
    df = spark.createDataFrame([(1, quote), (2, host)], ["doc_id", "text"])
    cont = {
        (r["id_src"], r["id_dst"]): r["containment"]
        for r in containment_pairs(df, "doc_id", "text", n=3, threshold=0.5).collect()
    }
    assert cont[(1, 2)] == 1.0
    assert (2, 1) not in cont  # host is NOT contained in the quote
    jac = ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.5)
    assert jac.count() == 0


def test_hard_negatives_excludes_same_label(spark):
    """Every mined negative must carry a different label than its query,
    and per query the negatives are the top-k by similarity among the
    off-label corpus (checked against a brute-force recompute)."""
    import numpy as np

    from urban_traffic_data_lake_project_spark.operators.similarity import (
        hard_negatives,
    )

    rng = np.random.RandomState(7)
    rows = [
        (i, [float(x) for x in rng.randn(8)], int(i % 3)) for i in range(60)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = hard_negatives(df, df.filter(F.col("vec_id") < 3), k=4).collect()
    labels = {r[0]: (np.array(r[1]), r[2]) for r in rows}
    by_q: dict[int, list] = {}
    for r in out:
        assert labels[r["neighbor_id"]][1] != labels[r["query_id"]][1]
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))
    for qid, got in by_q.items():
        qv, ql = labels[qid]
        sims = sorted(
            (
                (-float(np.dot(qv, v) / (np.linalg.norm(qv) * np.linalg.norm(v))), nid)
                for nid, (v, lbl) in labels.items()
                if nid != qid and lbl != ql
            )
        )[:4]
        expect = [nid for _, nid in sims]
        assert [nid for _, nid in sorted(got)] == expect


def test_leakage_safe_split_never_straddles_pairs(spark):
    """Transitively connected docs (1-3, 2-3 chain) share one split side;
    doc-id-hash splitting would have separated them."""
    from urban_traffic_data_lake_project_spark.operators.dedup import (
        leakage_safe_split,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 8)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame(
        [(1, 3), (2, 3), (5, 6)], ["id_a", "id_b"]
    )
    out = leakage_safe_split(docs, "doc_id", pairs, eval_permille=500)
    rows = {r["doc_id"]: (r["cluster_id"], r["split"]) for r in out.collect()}
    assert rows[1][0] == rows[2][0] == rows[3][0] == 1
    assert rows[1][1] == rows[2][1] == rows[3][1]
    assert rows[5][0] == rows[6][0] == 5
    assert rows[5][1] == rows[6][1]
    assert len(rows) == 7


def test_naive_bayes_separable_vocab_is_perfect(spark):
    """Two labels with disjoint vocabularies must classify perfectly;
    the confusion matrix is diagonal."""
    from urban_traffic_data_lake_project_spark.operators.text import (
        naive_bayes_lang_confusion,
    )

    rows = []
    for i in range(200):
        if i % 2 == 0:
            rows.append((i, "aaa bbb ccc aaa bbb", "en"))
        else:
            rows.append((i, "xxx yyy zzz xxx yyy", "fr"))
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = naive_bayes_lang_confusion(df, "doc_id", "text", "lang", eval_permille=400)
    conf = {(r["true_label"], r["pred_label"]): r["n"] for r in out.collect()}
    assert all(t == p for (t, p) in conf)
    assert sum(conf.values()) > 50  # a real held-out set was scored


def test_semdedup_keeps_farthest_from_centroid(spark):
    """SemDeDup's priority rule, pinned on a constructed cluster: two
    near-identical vectors (cos > 1-eps) must resolve to ONE drop, and
    the survivor must be the pair member FARTHER from the centroid
    (lower cos_centroid = higher keep priority); an orthogonal third
    vector stays untouched."""
    from urban_traffic_data_lake_project_spark.operators.dedup import semdedup

    # centroid seed rule = lowest ids, so id 0 and 1 become centroids
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),        # centroid A
        (1, [0.0, 1.0, 0.0, 0.0]),        # centroid B
        (10, [1.0, 0.05, 0.0, 0.0]),      # near A, closer to A than 11
        (11, [1.0, 0.20, 0.0, 0.0]),      # near A, farther from A; cos(10,11) ~ 0.989
        (12, [0.0, 1.0, 0.0, 0.9]),       # in B's cluster, no near-dup
    ]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<double>",
    )
    out = {r["vec_id"]: r for r in semdedup(emb, n_centroids=2, eps=0.05).collect()}
    assert len(out) == 5
    # 10 and 11 are mutual near-dups; 11 (farther from centroid) wins
    assert out[11]["keep"] and not out[10]["keep"]
    assert out[12]["keep"]
    # centroids themselves: 0 is cos=1.0 with both 10 and 11 dropped? no —
    # cos(0, 10) = 0.9988 >= 0.95, and 0 sits exactly ON the centroid
    # (cos_centroid = 1.0, lowest priority), so 0 is dropped in favor of
    # its farther-out near-dups — the paper's intended behavior
    assert not out[0]["keep"]
    assert out[11]["cluster_id"] == out[10]["cluster_id"] == out[0]["cluster_id"]


def test_matryoshka_rerank_recall_and_exact_at_full_depth(spark, sf_dir):
    """Two-stage coarse+rerank: (a) with depth >= corpus size the result
    must EQUAL exact brute-force top-k (stage 1 then prunes nothing);
    (b) at the registry depth the truncated-dim prefilter must still
    recover most of the true neighbors (the Matryoshka premise that
    front dimensions carry signal — on random embeddings this is a
    correlated screen, so demand a moderate floor, not perfection)."""
    import urban_traffic_data_lake_project_spark.operators.similarity as S
    from urban_traffic_data_lake_project_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    n = emb.count()
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in S.cosine_topk(emb, queries, "vec_id", "embedding", k=5, dim=64).collect()
    }
    full_depth = {
        (r["query_id"], r["neighbor_id"])
        for r in S.cosine_topk_coarse_rerank(
            emb, queries, "vec_id", "embedding", k=5, dim=64,
            d_coarse=16, depth=int(n),
        ).collect()
    }
    assert full_depth == exact
    shallow = {
        (r["query_id"], r["neighbor_id"])
        for r in S.cosine_topk_coarse_rerank(
            emb, queries, "vec_id", "embedding", k=5, dim=64,
            d_coarse=16, depth=50,
        ).collect()
    }
    recall = len(shallow & exact) / len(exact)
    assert recall >= 0.5, recall


def test_matryoshka_coarse_nan_embedding_gets_sentinel(spark):
    """A NaN component in a corpus embedding makes the coarse denominator
    NaN; the screen must map it to the -2.0 below-any-cosine sentinel
    (nanvl wrap, ADVICE r10) rather than propagate NaN into the rank
    window — the NaN row ranks LAST, so clean neighbors still surface."""
    import urban_traffic_data_lake_project_spark.operators.similarity as S

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [float("nan"), 1.0, 1.0, 1.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    out = S.cosine_topk_coarse_rerank(
        emb, emb.filter(F.col("vec_id") == 0), "vec_id", "embedding",
        k=2, dim=4, d_coarse=2, depth=2,
    ).collect()
    got = [r["neighbor_id"] for r in out]
    assert 2 not in got, got  # NaN row screened out, not ranked first
    assert got[0] == 1, got


def test_filtered_index_search_respects_predicate_and_pushes_down(spark, sf_dir):
    """Filtered vector search: every returned neighbor must satisfy the
    metadata predicate, and the predicate must reach the postings
    parquet scan as a pushed filter (bytes pruned, not post-filtered)."""
    from urban_traffic_data_lake_project_spark.queries.llm import (
        _IVF_FLT_LABEL,
        _ivf_index_filtered,
    )
    from urban_traffic_data_lake_project_spark.sources import load_table

    out = _ivf_index_filtered(spark, sf_dir)
    rows = out.collect()
    assert rows, "filtered search returned nothing"
    labels = dict(
        (r["vec_id"], r["label"])
        for r in load_table(spark, sf_dir, "embeddings").select("vec_id", "label").collect()
    )
    assert all(labels[r["neighbor_id"]] == _IVF_FLT_LABEL for r in rows)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "label" in plan.split("PushedFilters", 1)[1][:300]


def test_embedding_drift_zero_on_identical_snapshots(spark, sf_dir):
    """PSI must be exactly zero when both snapshots are the same frame
    (pa == pb per bucket), and the bucket counts must cover the corpus."""
    import urban_traffic_data_lake_project_spark.operators.similarity as S
    from urban_traffic_data_lake_project_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    out = S.embedding_bucket_drift(emb, emb, "vec_id", "embedding", n_centroids=8).collect()
    assert len(out) == 8
    assert all(r["n_a"] == r["n_b"] for r in out)
    assert all(r["psi_term"] == 0.0 for r in out)
    assert sum(r["n_a"] for r in out) == emb.count()


def test_arrow_scorer_preserves_string_ids(spark, sf_dir):
    """ADVICE r7: the Arrow score/prune stages hardcoded LongType for the
    id columns while the public APIs accept arbitrary id_col — string ids
    failed in the Arrow conversion (the expression path they replaced
    preserved the input id type). The ids must round-trip as strings and
    the neighbor sets must match the long-id run exactly."""
    emb = load_table(spark, sf_dir, "embeddings")
    # zero-padded so lexicographic order == numeric order: centroid
    # seeding (smallest-id vectors) and every tie-break then pick the
    # SAME rows in both runs and the outputs must agree exactly
    tag = lambda i: "doc-%06d" % i  # noqa: E731
    semb = emb.withColumn("vec_id", F.format_string("doc-%06d", F.col("vec_id")))
    q = emb.filter(F.col("vec_id") < 10)
    sq = semb.filter(F.element_at(F.split("vec_id", "-"), 2).cast("long") < 10)

    base = S.cosine_topk_ivf(emb, q, k=5, n_centroids=16, nprobe=4).collect()
    out = S.cosine_topk_ivf(semb, sq, k=5, n_centroids=16, nprobe=4).collect()
    assert all(isinstance(r["query_id"], str) for r in out)
    assert {(tag(r["query_id"]), tag(r["neighbor_id"])) for r in base} == {
        (r["query_id"], r["neighbor_id"]) for r in out
    }

    pairs_base = D.embedding_near_dup_pairs(emb, threshold=0.2).collect()
    pairs = D.embedding_near_dup_pairs(semb, threshold=0.2).collect()
    assert all(isinstance(r["id_a"], str) for r in pairs)
    assert {(tag(r["id_a"]), tag(r["id_b"])) for r in pairs_base} == {
        (r["id_a"], r["id_b"]) for r in pairs
    }


def test_matryoshka_ivf_probe_cut_upstream_of_coarse_screen(spark, sf_dir):
    """The composed retrieval's defining plan property (r7 verdict item
    3): the IVF probe join must feed the coarse Arrow screen, so no
    non-probed candidate is ever coarse-scored. In the executed plan
    tree the coarse MapInPandas is an ANCESTOR of the centroid_id
    broadcast join (ancestors print before descendants)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    out = S.cosine_topk_ivf_coarse_rerank(
        emb, q, "vec_id", "embedding", k=5, dim=64,
        n_centroids=16, nprobe=4, d_coarse=16, depth=50,
    )
    out.collect()  # finalize AQE
    plan = out._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    join_idx = [
        i for i, ln in enumerate(lines)
        if "BroadcastHashJoin" in ln and "centroid_id" in ln
    ]
    scorer_idx = [i for i, ln in enumerate(lines) if "MapInPandas" in ln]
    assert join_idx, plan
    assert scorer_idx, plan
    # the coarse scorer (some MapInPandas) sits above the probe join
    assert min(scorer_idx) < join_idx[0], plan


def test_matryoshka_ivf_equals_plain_ivf_at_full_depth(spark, sf_dir):
    """With depth >= bucket candidate count the coarse screen cuts
    nothing, so the composed pipeline must return EXACTLY the plain-IVF
    result (same probe cut, same exact full-dim scoring) — the coarse
    stage only ever removes candidates, never rescores survivors."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    plain = S.cosine_topk_ivf(emb, q, k=5, n_centroids=16, nprobe=4).collect()
    composed = S.cosine_topk_ivf_coarse_rerank(
        emb, q, "vec_id", "embedding", k=5, dim=64,
        n_centroids=16, nprobe=4, d_coarse=16, depth=10**9,
    ).collect()
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    assert {key(r): (r["neighbor_id"], round(r["cosine_sim"], 9)) for r in plain} == {
        key(r): (r["neighbor_id"], round(r["cosine_sim"], 9)) for r in composed
    }


def test_matryoshka_ivf_recall_and_candidate_containment(spark, sf_dir):
    """Composed recall tracks its parents: every returned neighbor must
    come from a probed bucket (subset of the plain-IVF candidate
    universe), and recall vs exact top-k stays usable at the default
    dials."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = S.cosine_topk(emb, q, k=5).collect()
    composed = S.cosine_topk_ivf_coarse_rerank(
        emb, q, "vec_id", "embedding", k=5, dim=64,
        n_centroids=16, nprobe=4, d_coarse=16, depth=50,
    ).collect()
    ivf_full = S.cosine_topk_ivf(emb, q, k=10**6, n_centroids=16, nprobe=4).collect()
    universe = {(r["query_id"], r["neighbor_id"]) for r in ivf_full}
    assert {(r["query_id"], r["neighbor_id"]) for r in composed} <= universe
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    got = {(r["query_id"], r["neighbor_id"]) for r in composed}
    recall = len(exact_set & got) / len(exact_set)
    assert recall >= 0.4, f"composed recall too low: {recall}"


def test_kmeans_training_sample_semantics(spark, sf_dir):
    """The r8 trained-quantizer cost cut: Lloyd rounds train on a
    deterministic hash-range sample when the corpus exceeds the cap.
    (a) a corpus within the cap must train BIT-IDENTICALLY to cap=None
    (every historical oracle relies on this); (b) forcing a small cap
    still yields k usable centroids and the downstream IVF keeps usable
    recall — training-set size tunes quality, never correctness."""
    emb = load_table(spark, sf_dir, "embeddings")
    full = S.kmeans_centroids(emb, k=8, iters=2, train_sample_cap=None)
    capped = S.kmeans_centroids(emb, k=8, iters=2)  # default cap >> corpus
    assert full == capped

    sampled = S.kmeans_centroids(emb, k=8, iters=2, train_sample_cap=120)
    assert len(sampled) == 8
    assert sampled != full  # the cap genuinely engaged
    # deterministic: same cap -> same centroids
    assert sampled == S.kmeans_centroids(emb, k=8, iters=2, train_sample_cap=120)

    q = emb.filter(F.col("vec_id") < 10)
    exact = {(r["query_id"], r["neighbor_id"]) for r in S.cosine_topk(emb, q, k=5).collect()}
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in S.cosine_topk_ivf(
            emb, q, k=5, n_centroids=8, nprobe=4, train_iters=2
        ).collect()
    }
    assert len(exact & got) / len(exact) >= 0.5


def test_bpe_merge_respects_symbol_boundaries(spark):
    """Regression for the space-separated symbol encoding's boundary bug:
    with learned merges (x,a) then (a,b), the word 'xab' — symbols
    ['xa','b'] after round 1 — was corrupted by round 2's
    replace('xa b', 'a b', 'ab') into ONE token. Reference BPE (merge
    pairs of whole symbols only, Sennrich et al. 2016) keeps ['xa','b'].
    Corpus engineered so (x,a) wins round 1 (freq 7) over (a,b) (freq 5),
    then (a,b) wins round 2."""
    df = spark.createDataFrame(
        [(1, "xa xa xa xa xa"), (2, "xab xab"), (3, "ab ab ab")],
        "doc_id long, text string",
    )
    merges, symtab = T.bpe_train(df, "text", num_merges=2)
    assert [(pa, pb) for pa, pb, _ in merges] == [("x", "a"), ("a", "b")]
    syms = {r["word"]: r["sym"] for r in symtab.collect()}
    assert syms["xab"] == "|xa||b|"  # NOT the corrupted single token
    assert syms["ab"] == "|ab|"
    assert syms["xa"] == "|xa|"
    counts = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in T.bpe_token_counts(df, "doc_id", "text", num_merges=2).collect()
    }
    assert counts == {1: 5, 2: 4, 3: 3}


def test_bpe_checkpoint_path_is_bit_identical(spark, monkeypatch):
    """The merge loop's lineage truncation (r8 verdict item 4: eager
    localCheckpoint every _BPE_CHECKPOINT_EVERY merges, bounding the live
    replace chain) is a pure execution-strategy change: forcing a
    checkpoint every 3 merges must learn the SAME merges and produce the
    SAME symbol table as the unbounded chain."""
    import urban_traffic_data_lake_project_spark.operators.text as text_mod

    df = spark.createDataFrame(
        [
            (1, "low lower lowest low low newer"),
            (2, "new newer newest new lower wide"),
            (3, "wider wide widest new low lowest"),
        ],
        "doc_id long, text string",
    )
    monkeypatch.setattr(text_mod, "_BPE_CHECKPOINT_EVERY", 10_000)
    m_plain, t_plain = T.bpe_train(df, "text", num_merges=10)
    s_plain = sorted((r["word"], r["freq"], r["sym"]) for r in t_plain.collect())
    monkeypatch.setattr(text_mod, "_BPE_CHECKPOINT_EVERY", 3)
    m_ckpt, t_ckpt = T.bpe_train(df, "text", num_merges=10)
    s_ckpt = sorted((r["word"], r["freq"], r["sym"]) for r in t_ckpt.collect())
    assert m_ckpt == m_plain
    assert s_ckpt == s_plain
    # and the checkpointed table's plan is lineage-truncated: no replace
    # chain deeper than the residual (10 % 3 = 1) survives in the plan
    plan = t_ckpt._jdf.queryExecution().analyzed().toString()
    assert plan.count("replace(") <= 1


def test_int8_rerank_equals_plain_ivf_at_full_depth(spark, sf_dir):
    """With depth unbounded the int8 screen cuts nothing, so the composed
    pipeline must return EXACTLY the plain-IVF result — the quantized
    screen only selects candidates, never rescores survivors."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    plain = S.cosine_topk_ivf(emb, q, k=5, n_centroids=16, nprobe=4).collect()
    composed = S.cosine_topk_ivf_int8_rerank(
        emb, q, "vec_id", "embedding", k=5, dim=64,
        n_centroids=16, nprobe=4, depth=10**9,
    ).collect()
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    assert {key(r): (r["neighbor_id"], round(r["cosine_sim"], 9)) for r in plain} == {
        key(r): (r["neighbor_id"], round(r["cosine_sim"], 9)) for r in composed
    }


def test_int8_screen_preserves_ranking_geometry(spark, sf_dir):
    """The quantized screen's whole value rests on int8 dots ordering
    like float dots: at depth=50 the composed result must keep high
    agreement with the plain-IVF top-k (quantization noise ~0.4% can
    demote only near-boundary candidates)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    plain = {(r["query_id"], r["neighbor_id"])
             for r in S.cosine_topk_ivf(emb, q, k=5, n_centroids=16, nprobe=4).collect()}
    composed = {(r["query_id"], r["neighbor_id"])
                for r in S.cosine_topk_ivf_int8_rerank(
                    emb, q, "vec_id", "embedding", k=5, dim=64,
                    n_centroids=16, nprobe=4, depth=50,
                ).collect()}
    assert len(plain & composed) / len(plain) >= 0.8


def test_int8_screen_zero_norm_sentinel(spark):
    """A candidate whose every component quantizes to code 0 (all |x| <
    A/254) must screen at the -2.0 sentinel on BOTH engines (Spark numpy
    would produce -inf; DuckDB turns x/0.0 into NULL whose sort position
    is a config knob) — i.e. it ranks below every real candidate but
    never poisons the output with NULL/inf."""
    rows = [(i, [float((i * 7 + j) % 11 - 5) for j in range(8)]) for i in range(20)]
    rows.append((20, [1e-9] * 8))  # quantizes to all-zero codes
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = S.cosine_topk_ivf_int8_rerank(
        df, df.filter(F.col("vec_id") == 0), "vec_id", "embedding",
        k=20, dim=8, n_centroids=4, nprobe=4, depth=10**9,
    ).collect()
    assert all(abs(r["cosine_sim"]) <= 1.0 + 1e-9 for r in out)
    assert len(out) >= 10  # probe cut keeps most of this tiny corpus


def test_ivfpq_filtered_search_pushes_predicate_and_matches_labels(spark, sf_dir):
    """Filtered search on the COMPRESSED index: every neighbor carries
    the requested label, and the predicate reaches the probed-partition
    postings scan (PushedFilters) so non-matching bytes are pruned
    before any ADC arithmetic — the raw-index twin's contract at the
    compressed footprint."""
    from urban_traffic_data_lake_project_spark.queries.llm import (
        _IVF_FLT_LABEL,
        _ivfpq_index_filtered,
    )

    out = _ivfpq_index_filtered(spark, sf_dir)
    rows = out.collect()
    assert rows, "filtered compressed search returned nothing"
    labels = dict(
        (r["vec_id"], r["label"])
        for r in load_table(spark, sf_dir, "embeddings").select("vec_id", "label").collect()
    )
    assert all(labels[r["corpus_id"]] == _IVF_FLT_LABEL for r in rows)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "label" in plan.split("PushedFilters", 1)[1][:300]


def test_docsim_topk_sane_and_finds_near_duplicates(spark, sf_dir):
    """Sparse TF-IDF cosine: scores bounded, rank dense per doc, and the
    lexical path surfaces the same near-dup pairs the MinHash path finds
    (high n-gram overlap implies high banded-TF-IDF cosine)."""
    from urban_traffic_data_lake_project_spark.operators.dedup import (
        minhash_lsh_dedup_pairs,
    )
    from urban_traffic_data_lake_project_spark.sources import load_table

    out = ql.REGISTRY["text_docsim_topk"].fn(spark, sf_dir).collect()
    assert out
    by_doc: dict = {}
    for r in out:
        assert 0.0 < r["cos_sim"] <= 1.0 + 1e-9, r
        assert r["neighbor_id"] != r["doc_id"]
        by_doc.setdefault(r["doc_id"], []).append((r["rank"], r["cos_sim"]))
    for doc, rows in by_doc.items():
        rows.sort()
        assert [rk for rk, _ in rows] == list(range(1, len(rows) + 1)), doc
        sims = [s for _, s in rows]
        assert sims == sorted(sims, reverse=True), doc
    docs = load_table(spark, sf_dir, "documents")
    dup_pairs = minhash_lsh_dedup_pairs(
        docs, "doc_id", "text", n=3, num_hashes=ql._MINHASH_K,
        bands=ql._MINHASH_BANDS, threshold=ql._JACCARD_THRESHOLD,
    ).collect()
    assert dup_pairs
    neighbors = {(r["doc_id"], r["neighbor_id"]) for r in out}
    hit = sum(
        1 for p in dup_pairs
        if (p["id_a"], p["id_b"]) in neighbors or (p["id_b"], p["id_a"]) in neighbors
    )
    assert hit / len(dup_pairs) >= 0.8, (hit, len(dup_pairs))


def test_kcenter_coreset_matches_numpy_reference(spark, sf_dir):
    """Greedy farthest-point traversal: exact agreement with a local
    numpy replay, monotone non-increasing selection distances, and the
    coverage radius bounded by the last selection distance."""
    import numpy as np

    from urban_traffic_data_lake_project_spark.sources import load_table

    out = sorted(
        ql.REGISTRY["sample_coreset_kcenter"].fn(spark, sf_dir).collect(),
        key=lambda r: r["round"],
    )
    ids = [r["vec_id"] for r in out]
    assert len(set(ids)) == len(ids)
    dists = [r["sel_dist"] for r in out[1:]]
    assert dists == sorted(dists, reverse=True)
    assert all(r["coverage_radius"] <= dists[-1] + 1e-9 for r in out)

    rows = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding").collect()
    rows.sort(key=lambda r: r["vec_id"])
    V = np.array([[float(x) for x in r["embedding"]] for r in rows], dtype=np.float64)
    vid = np.array([r["vec_id"] for r in rows])
    sel = [0]  # smallest id seeds
    md = ((V - V[0]) ** 2).sum(axis=1)
    want = [(1, int(vid[0]), 0.0)]
    for rnd in range(2, len(out) + 1):
        key = np.round(md, 9)
        best = np.lexsort((vid, -key))[0]
        want.append((rnd, int(vid[best]), round(float(md[best]), 6)))
        md = np.minimum(md, ((V - V[best]) ** 2).sum(axis=1))
    got = [(r["round"], r["vec_id"], r["sel_dist"]) for r in out]
    # numpy's vectorized sums reassociate, so compare distances loosely
    for (gr, gi, gd), (wr, wi, wd) in zip(got, want):
        assert (gr, gi) == (wr, wi)
        assert abs(gd - wd) < 1e-5
    assert abs(out[0]["coverage_radius"] - round(float(md.max()), 6)) < 1e-5


def test_bpe_driver_fit_equals_distributed_loop(spark):
    """r10 (verdict item 6): the driver-side incremental-pair-count fit
    is BIT-equivalent to the distributed job-per-merge loop — same merge
    sequence (counts and tie-breaks), same final symbol table — on a
    corpus with ties, repeated-symbol runs, and near-dup documents."""
    import pyspark.sql.functions as F

    from urban_traffic_data_lake_project_spark.operators import text as T

    tok = lambda i: F.concat(  # noqa: E731
        F.lit("w"), F.pmod(F.xxhash64("id", F.lit(i)), F.lit(40)).cast("string")
    )
    docs = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.array_join(F.array(*[tok(i) for i in range(12)]), " "),
            # repeated-symbol runs: the overlapping-merge edge case
            F.lit(" aaaa bbbb abab"),
        ).alias("text"),
    )
    m_drv, st_drv = T.bpe_train(docs, "text", num_merges=64)
    m_sp, st_sp = T.bpe_train(docs, "text", num_merges=64, driver_fit=False)
    assert m_drv == m_sp
    d1 = {r["word"]: (r["freq"], r["sym"]) for r in st_drv.collect()}
    d2 = {r["word"]: (r["freq"], r["sym"]) for r in st_sp.collect()}
    assert d1 == d2
    # the vocab cap keeps determinism: capping at full size changes nothing
    m_cap, _ = T.bpe_train(docs, "text", num_merges=64, max_vocab_words=10**6)
    assert m_cap == m_drv


def test_bpe_apply_merges_paths_and_oov_semantics(spark):
    """r10 tokenizer inference: (1) the Catalyst replace-chain path and
    the Arrow closure path of bpe_apply_merges are bit-equivalent; (2)
    applying the ordered merge list to an in-vocab word reproduces the
    trained symbol string exactly; (3) bpe_encode_with_oov tokenizes
    unseen words into learned subwords and counts them as OOV."""
    import pyspark.sql.functions as F

    from urban_traffic_data_lake_project_spark.operators import text as T

    docs = spark.createDataFrame(
        [(i, "the cat sat on the mat " * 3) for i in range(6)]
        + [(6, "the catalog sat here unseen catnip")],
        "doc_id long, text string",
    )
    train = docs.filter("doc_id < 6")
    merges, symtab = T.bpe_train(train, "text", num_merges=80)
    assert len(merges) > 64 or len(merges) > 0  # corpus may exhaust early
    words = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .filter("word != ''").distinct()
        .withColumn("sym", F.regexp_replace("word", "(.)", "|$1|"))
    )
    expr_path = {r["word"]: r["sym"] for r in T.bpe_apply_merges(words, merges).collect()}
    # force the Arrow path by padding the merge list past 64 with inert
    # pairs that can never match (symbols outside the alphabet)
    padded = list(merges) + [(f"\x01{i}", f"\x02{i}", 0) for i in range(70)]
    arrow_path = {r["word"]: r["sym"] for r in T.bpe_apply_merges(words, padded).collect()}
    assert expr_path == arrow_path
    # in-vocab words reproduce the trained symbol table bit-for-bit
    trained = {r["word"]: r["sym"] for r in symtab.collect()}
    for w, sym in trained.items():
        assert expr_path[w] == sym, (w, expr_path[w], sym)
    # OOV encode: doc 6 has unseen words that still tokenize (n_tokens>0)
    out = {r["doc_id"]: r for r in T.bpe_encode_with_oov(
        docs, "doc_id", "text", merges, train_vocab=symtab).collect()}
    assert out[6]["n_oov_words"] >= 2  # catalog, unseen, catnip, here
    assert out[6]["n_tokens"] > 0 and out[6]["n_words"] == 6
    for i in range(6):
        assert out[i]["n_oov_words"] == 0


def test_ivf_auto_probe_counts_pre_assignment_projection(spark, sf_dir, tmp_path, monkeypatch):
    """The auto-regime row-count probe must count the PRE-assignment query
    projection: counting the post-assignment frame would execute the full
    centroid-distance scoring over the query table just to count rows that
    are 1:1 with the input, then recompute it in the main plan (r11
    verdict item 2). Spy on DataFrame.count and assert no counted plan
    contains the assignment output column."""
    # patch the CONCRETE class (pyspark 4: pyspark.sql.classic.dataframe
    # .DataFrame overrides count, so patching the abstract base misses)
    SparkDF = type(spark.range(1))

    counted: list[str] = []
    orig = SparkDF.count

    def spy(self):
        counted.append(self._jdf.queryExecution().analyzed().toString())
        return orig(self)

    monkeypatch.setattr(SparkDF, "count", spy)
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)

    S.cosine_topk_ivf(emb, q, k=5, n_centroids=16, nprobe=4, query_regime="auto").collect()
    assert counted, "auto regime must count the query side once"
    assert all("__cids" not in p for p in counted)

    counted.clear()
    d = str(tmp_path / "ivf_idx_probe")
    S.build_ivf_index(emb, d, n_centroids=16)
    S.query_ivf_index(spark, d, q, k=5, nprobe=4, query_regime="auto").collect()
    assert counted, "persisted-index auto regime must count the query side once"
    assert all("__cids" not in p for p in counted)


def test_repetition_ngram_signals_hand_computed(spark):
    """Char-fraction + higher-n repetition family pinned by hand."""
    docs = [
        # 4 lines, 'aaaa bbbb' repeated 3x (9 chars each), 'x' once:
        # line chars = 27 + 1 = 28, distinct = 9 + 1 = 10 -> dup 18/28.
        # tokens: [aaaa,bbbb,aaaa,bbbb,aaaa,bbbb,x] n=7; top trigram
        # 'aaaa bbbb aaaa' (x2) -> share 6/7; 5-grams: 3 total, all
        # distinct -> dup 0... check engine against exactly this math
        (1, "aaaa bbbb\naaaa bbbb\naaaa bbbb\nx"),
        # pure prose, no repetition
        (2, "the quick brown fox jumps over a lazy dog"),
        # phrase-grain repetition: same 5 tokens repeated 3x -> 11
        # 5-grams, 3 occurrences of 'p q r s t' etc.
        (3, " ".join(["p q r s t"] * 3)),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sig = T.repetition_ngram_signals(F.col("text"))
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            sig["dup_line_char_frac"].alias("dl"),
            sig["top_trigram_share"].alias("t3"),
            sig["dup_5gram_frac"].alias("d5"),
        ).collect()
    }
    assert out[1]["dl"] == 18 / 28
    assert out[1]["t3"] == 3 * 2 / 7
    assert out[1]["d5"] == 0.0
    assert out[2]["dl"] == 0.0 and out[2]["d5"] == 0.0
    # doc 3: 15 tokens -> 11 5-grams; the cyclic repeat yields 5 distinct
    # windows ('p q r s t','q r s t p',...) -> dup frac = 6/11
    assert out[3]["d5"] == 6 / 11
    # top trigram 'p q r' occurs 3x -> 9/15
    assert out[3]["t3"] == 9 / 15


def test_bpe_fertility_rollup_matches_per_doc_encode(spark, tmp_path):
    """text_bpe_fertility's per-language rollup must equal the sums of
    bpe_encode's per-doc counts, and fertility the exact ratio — checked
    on a tiny corpus with a known language split."""
    from urban_traffic_data_lake_project_spark.queries.llm import (
        _BPE_MERGES,
        _text_bpe_fertility,
    )
    from urban_traffic_data_lake_project_spark.operators import text as TT

    rows = [
        (1, "the cat sat on the mat", "en"),
        (2, "the the the cat", "en"),
        (3, "der hund lief schnell weg", "de"),
        (4, "", "de"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    out = {r["lang"]: r for r in _text_bpe_fertility(spark, str(tmp_path)).collect()}
    enc = TT.bpe_encode(df, "doc_id", "text", num_merges=_BPE_MERGES).collect()
    per_doc = {r["doc_id"]: r for r in enc}
    langs = {1: "en", 2: "en", 3: "de", 4: "de"}
    for lang in ("en", "de"):
        ids = [d for d, l in langs.items() if l == lang]
        w = sum(per_doc[d]["n_words"] for d in ids)
        t = sum(per_doc[d]["n_tokens"] for d in ids)
        assert out[lang]["n_docs"] == len(ids)
        assert out[lang]["n_words"] == w
        assert out[lang]["n_tokens"] == t
        assert out[lang]["fertility"] == round(t / w, 6)
        # fertility >= 1: a word is at least one token
        assert out[lang]["fertility"] >= 1.0
