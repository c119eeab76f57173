"""Deduplication operators for large-scale text corpora (BASELINE.json
north star: LLM-training-data pipeline ops; absent from the reference,
whose only dedup is keyed drop_duplicates, clean_traffic.py:66-72).

Four tiers, cheapest to most thorough:
- exact_dedup          : md5 of normalized text, keep min id per hash.
- simhash              : 32-bit sign-of-weighted-sum sketch; near-dups have
                         small Hamming distance.
- minhash signatures + LSH banding : Jaccard-similar docs collide in >=1
                         band bucket; candidate pairs verified exactly.
- ngram_jaccard_pairs  : exact Jaccard over word shingles via shingle-key
                         self-join (the verifier; also standalone for
                         moderate corpora).

All hashing uses ``stable_hash64`` (md5-derived) so every step is
reproducible across engines — the DuckDB oracle recomputes identical
signatures, making even the sketch internals hash-checkable.

Scale notes: the shingle self-join shuffles on the shingle string — skew
(stopword shingles) is bounded because shingles are n-grams (n>=3) over
normalized text; LSH banding reduces pair generation from O(n^2) to
near-linear in the number of true near-dups. Everything is built-in
expressions: no Python UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from urban_traffic_data_lake_project_spark.functions import (
    normalize_text,
    stable_hash64,
)
from urban_traffic_data_lake_project_spark.sources.tables import spread_to_parallelism


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One row per distinct normalized text: the smallest id wins.
    Single hash-shuffle on the 32-char digest."""
    fp = F.md5(normalize_text(F.col(text_col))).alias("content_hash")
    return (
        df.select(F.col(id_col), fp)
        .groupBy("content_hash")
        .agg(F.min(id_col).alias(id_col))
    )


def shingle_sets(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, array<shingle>) — the word array is materialized as a column
    BEFORE the shingle lambda (no CSE inside higher-order lambdas)."""
    from urban_traffic_data_lake_project_spark.functions.core import shingles_from_words

    df = spread_to_parallelism(df)
    words = df.select(
        F.col(id_col), F.split(normalize_text(F.col(text_col)), " ").alias("__words")
    )
    return words.select(F.col(id_col), shingles_from_words(F.col("__words"), n).alias("shingles"))


def shingle_table(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) rows — distinct word n-grams per document."""
    return (
        shingle_sets(df, id_col, text_col, n)
        .select(F.col(id_col), F.explode("shingles").alias("shingle"))
        .filter(F.col("shingle") != "")
    )


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, threshold: float = 0.5
) -> DataFrame:
    """Exact Jaccard similarity over word n-gram shingle sets, for all pairs
    sharing at least one shingle. Returns (id_a, id_b, jaccard), id_a < id_b.

    Co-grouped by shingle: only genuinely overlapping pairs are generated,
    so cost is sum over shingles of bucket^2 — near-linear for natural text.
    """
    sh = shingle_table(df, id_col, text_col, n)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sz_a = sizes.select(F.col(id_col).alias("id_a"), F.col("n_shingles").alias("n_a"))
    sz_b = sizes.select(F.col(id_col).alias("id_b"), F.col("n_shingles").alias("n_b"))
    return (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, threshold: float = 0.6
) -> DataFrame:
    """DIRECTED containment |A ∩ B| / |A| over word n-gram shingle sets —
    the quote / sub-document detector. Jaccard divides by the union, so a
    short document wholly embedded in a long one scores near zero; its
    containment in the host is 1.0. Production cleaning runs both: Jaccard
    for near-identical pages, containment for wrapped or quoted reuse.

    Returns (id_src, id_dst, containment) for ordered pairs with
    containment(src -> dst) >= threshold. Same shingle-key cogroup shape
    (and cost bound) as ``ngram_jaccard_pairs``: only pairs that actually
    share a shingle are generated."""
    sh = shingle_table(df, id_col, text_col, n)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col(id_col).alias("id_src"), "shingle")
    b = sh.select(F.col(id_col).alias("id_dst"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_src") != F.col("id_dst"))
        .groupBy("id_src", "id_dst")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    src_sz = sizes.select(F.col(id_col).alias("id_src"), F.col("n_sh").alias("n_src"))
    return (
        inter.join(src_sz, "id_src")
        .withColumn("containment", F.col("n_common") / F.col("n_src"))
        .filter(F.col("containment") >= threshold)
        .select("id_src", "id_dst", "containment")
    )


# Affine MinHash family over the Mersenne prime 2^31 - 1: one md5-derived
# base hash per shingle, then mh_i = min((a_i * h + b_i) mod P). a_i < P and
# h mod P < 2^31 keep every product under 2^62 — no BIGINT overflow, and the
# identical arithmetic is expressible in ANSI SQL for the oracle.
MINHASH_P = (1 << 31) - 1


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    return [
        (((i + 1) * 2654435761) % MINHASH_P, ((i + 1) * 40503) % MINHASH_P)
        for i in range(num_hashes)
    ]


def lsh_candidate_pairs(
    signatures: DataFrame, id_col: str, num_hashes: int = 16, bands: int = 4
) -> DataFrame:
    """Band the signature (bands x rows_per_band = num_hashes); documents
    sharing any band's full sub-signature become candidate pairs.
    Returns distinct (id_a, id_b), id_a < id_b."""
    rows_per_band = num_hashes // bands
    assert bands * rows_per_band == num_hashes, "bands must divide num_hashes"
    # one explode, NOT a union of per-band selects: each union branch would
    # embed (and re-execute) the whole signature-aggregation subtree
    entries = []
    for b in range(bands):
        cols = [F.col(f"mh_{b * rows_per_band + j}") for j in range(rows_per_band)]
        entries.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws(",", *[c.cast("string") for c in cols])).alias("bucket"),
            )
        )
    buckets = signatures.select(
        F.col(id_col), F.explode(F.array(*entries)).alias("__bb")
    ).select(F.col(id_col), F.col("__bb.band").alias("band"), F.col("__bb.bucket").alias("bucket"))
    a = buckets.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b2 = buckets.select(F.col(id_col).alias("id_b"), "band", "bucket")
    return (
        a.join(b2, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_lsh_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures -> banded candidate
    pairs -> exact Jaccard verification >= threshold.

    Verification is restricted to the candidate pairs (each pair joins its
    two pre-computed shingle SETS and intersects them as arrays) — NOT a
    global shingle self-join, which is quadratic in bucket sizes and
    defeats the entire point of LSH on corpora with common shingles."""
    # persist the shingle sets: both the signature aggregation and the
    # verification join consume them — without this the normalize/split/
    # shingle expressions execute twice over the corpus
    sets_df = shingle_sets(df, id_col, text_col, n).persist()
    sh = (
        sets_df.select(F.col(id_col), F.explode("shingles").alias("shingle"))
        .filter(F.col("shingle") != "")
        .withColumn("__h", stable_hash64(F.col("shingle")) % F.lit(MINHASH_P))
    )
    sigs = sh.groupBy(id_col).agg(
        *[
            F.min((F.lit(a) * F.col("__h") + F.lit(b)) % F.lit(MINHASH_P)).alias(f"mh_{i}")
            for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
        ]
    )
    candidates = lsh_candidate_pairs(sigs, id_col, num_hashes, bands)
    a = sets_df.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("__sh_a"))
    b = sets_df.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("__sh_b"))
    inter = F.size(F.array_intersect(F.col("__sh_a"), F.col("__sh_b")))
    union = F.size(F.col("__sh_a")) + F.size(F.col("__sh_b")) - inter
    return (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard", inter.cast("double") / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def dedup_index(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, num_hashes: int = 16
) -> DataFrame:
    """The persistable near-dup INDEX of a corpus: one row per document
    with its shingle set and MinHash signature columns (mh_0..mh_k-1).

    This is the incremental-ingestion primitive: build (and write) the
    index ONCE for the standing corpus; each arriving batch then
    deduplicates against it via ``incremental_dedup_pairs`` without ever
    rescanning or re-hashing corpus text — the cost per batch scales with
    the batch, not the corpus."""
    sets_df = shingle_sets(df, id_col, text_col, n)
    sh = (
        sets_df.select(F.col(id_col), F.explode("shingles").alias("shingle"))
        .filter(F.col("shingle") != "")
        .withColumn("__h", stable_hash64(F.col("shingle")) % F.lit(MINHASH_P))
    )
    sigs = sh.groupBy(id_col).agg(
        *[
            F.min((F.lit(a) * F.col("__h") + F.lit(b)) % F.lit(MINHASH_P)).alias(f"mh_{i}")
            for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
        ]
    )
    return sets_df.join(sigs, id_col)


def incremental_dedup_pairs(
    index_df: DataFrame,
    batch_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs between an arriving BATCH and a pre-built corpus
    INDEX (``dedup_index`` output): batch docs are shingled and signed,
    banded buckets are joined against the index's banded buckets, and
    candidates are verified exactly against the index's stored shingle
    sets. Returns (corpus_id, batch_id, jaccard).

    Scale shape: the corpus index is read, never recomputed — per-batch
    cost is O(batch) hashing + a bucket equi-join whose corpus side can be
    bucketed-by (band, bucket) on disk for a shuffle-free probe. This is
    how a 100 TB standing corpus absorbs a daily feed without an O(corpus)
    rescan per day."""
    batch_idx = dedup_index(batch_df, id_col, text_col, n, num_hashes).persist()
    rows_per_band = num_hashes // bands
    assert bands * rows_per_band == num_hashes, "bands must divide num_hashes"

    def banded(sigs: DataFrame, out_id: str) -> DataFrame:
        entries = []
        for b in range(bands):
            cols = [F.col(f"mh_{b * rows_per_band + j}") for j in range(rows_per_band)]
            entries.append(
                F.struct(
                    F.lit(b).alias("band"),
                    F.md5(F.concat_ws(",", *[c.cast("string") for c in cols])).alias("bucket"),
                )
            )
        return sigs.select(
            F.col(id_col).alias(out_id), F.explode(F.array(*entries)).alias("__bb")
        ).select(out_id, F.col("__bb.band").alias("band"), F.col("__bb.bucket").alias("bucket"))

    cands = (
        banded(index_df, "corpus_id")
        .join(banded(batch_idx, "batch_id"), ["band", "bucket"])
        .select("corpus_id", "batch_id")
        .distinct()
    )
    a = index_df.select(F.col(id_col).alias("corpus_id"), F.col("shingles").alias("__sh_a"))
    b = batch_idx.select(F.col(id_col).alias("batch_id"), F.col("shingles").alias("__sh_b"))
    inter = F.size(F.array_intersect(F.col("__sh_a"), F.col("__sh_b")))
    union = F.size(F.col("__sh_a")) + F.size(F.col("__sh_b")) - inter
    return (
        cands.join(a, "corpus_id")
        .join(b, "batch_id")
        .withColumn("jaccard", inter.cast("double") / union)
        .filter(F.col("jaccard") >= threshold)
        .select("corpus_id", "batch_id", "jaccard")
    )


def substring_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    unit: str = "window",
    window_tokens: int = 50,
    min_span_tokens: int = 8,
) -> DataFrame:
    """(id, span, n_toks) rows — the exact-substring units for span-level
    dedup. ``unit='window'``: maximal non-overlapping ``window_tokens``-wide
    windows over the normalized word sequence (the Lee-et-al-style
    exact-substring granularity, catching boilerplate that crosses line
    breaks); ``unit='paragraph'``: newline-delimited paragraphs, each
    normalized. Spans shorter than ``min_span_tokens`` tokens are dropped
    (trivial short strings would match everywhere).

    The word array is materialized as a column BEFORE the window lambda
    (slices inside the lambda touch the materialized attribute, never
    re-evaluating the split — no CSE inside HOF lambdas)."""
    df = spread_to_parallelism(df)
    if unit == "paragraph":
        paras = F.filter(
            F.transform(F.split(F.col(text_col), "\n"), normalize_text),
            lambda p: p != "",
        )
        out = df.select(F.col(id_col), F.explode(paras).alias("span")).withColumn(
            "n_toks", F.size(F.split(F.col("span"), " "))
        )
        return out.filter(F.col("n_toks") >= min_span_tokens)
    if unit != "window":
        raise ValueError(f"unit must be 'window' or 'paragraph' (got {unit!r})")
    words = df.select(
        F.col(id_col), F.split(normalize_text(F.col(text_col)), " ").alias("__w")
    )
    n = F.size("__w")
    starts = F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(window_tokens))
    win = F.transform(
        starts,
        lambda s: F.struct(
            F.size(F.slice("__w", s, window_tokens)).alias("n_toks"),
            F.array_join(F.slice("__w", s, window_tokens), " ").alias("span"),
        ),
    )
    return (
        words.select(F.col(id_col), F.explode(win).alias("__s"))
        .select(id_col, F.col("__s.span").alias("span"), F.col("__s.n_toks").alias("n_toks"))
        .filter((F.col("n_toks") >= min_span_tokens) & (F.col("span") != ""))
    )


def substring_span_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    unit: str = "window",
    window_tokens: int = 50,
    min_span_tokens: int = 8,
    max_dup_frac: float = 0.5,
) -> DataFrame:
    """Span-level exact-substring dedup profile — the complement to
    document-level MinHash that production cleaning runs alongside it: a
    span (50-token window / paragraph) is DUPLICATED when its hash occurs
    in at least one OTHER document; each document reports the fraction of
    its spans that are duplicated and a keep/drop verdict
    (``dup_span_frac <= max_dup_frac``). Documents with no qualifying
    spans keep trivially (n_spans = 0).

    Returns (id, n_spans, n_dup_spans, dup_span_frac, keep).

    Scale shape: explode spans -> ``stable_hash64`` -> one groupBy on the
    span hash counting distinct owner docs -> equi-join occurrences back
    on the hash -> one groupBy per doc. Two hash shuffles of span rows
    (each doc contributes len/window rows, so span rows ≈ corpus tokens /
    window_tokens) — the standard corpus shape, no all-pairs anywhere;
    within-doc repeats are NOT flagged (that is dup_line_frac's job)."""
    spans = substring_spans(df, id_col, text_col, unit, window_tokens, min_span_tokens)
    hashed = spans.select(F.col(id_col), stable_hash64(F.col("span")).alias("__h"))
    sharers = hashed.groupBy("__h").agg(F.count_distinct(F.col(id_col)).alias("__nd"))
    perdoc = (
        hashed.join(sharers, "__h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.when(F.col("__nd") >= 2, 1).otherwise(0)).alias("n_dup_spans"),
        )
    )
    return (
        df.select(id_col)
        .join(perdoc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.when(
                F.coalesce("n_spans", F.lit(0)) > 0,
                F.col("n_dup_spans").cast("double") / F.col("n_spans"),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_span_frac"),
            (
                F.when(
                    F.coalesce("n_spans", F.lit(0)) > 0,
                    F.col("n_dup_spans").cast("double") / F.col("n_spans"),
                ).otherwise(F.lit(0.0))
                <= max_dup_frac
            ).alias("keep"),
        )
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """SimHash sketch over distinct normalized words: bit j of the sketch is
    the sign of sum(+-1 over word-hash bit j). One explode + one grouped
    aggregate with ``bits`` expressions."""
    words = spread_to_parallelism(df).select(
        F.col(id_col),
        F.explode(F.array_distinct(F.split(normalize_text(F.col(text_col)), " "))).alias("w"),
    ).filter(F.col("w") != "")
    h = stable_hash64(F.col("w"))
    bit_sums = [
        F.sum(F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(f"b_{j}")
        for j in range(bits)
    ]
    sums = words.groupBy(id_col).agg(*bit_sums)
    sketch = None
    for j in range(bits):
        term = F.when(F.col(f"b_{j}") > 0, F.lit(2 ** j)).otherwise(F.lit(0))
        sketch = term if sketch is None else sketch + term
    return sums.select(F.col(id_col), sketch.cast("bigint").alias("simhash"))


def hamming_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs over a 64-bit sketch column (SimHash, image aHash)
    by Hamming distance: band the 64 bits into ``bands`` contiguous
    16*(4/bands)-bit slices, bucket-join on any identical band, verify
    ``bit_count(xor) <= max_hamming`` on the candidates. Pigeonhole makes
    recall EXACT whenever ``max_hamming < bands`` (a pair differing in
    fewer bits than there are bands must agree on some band); wider
    distances trade recall for candidate volume exactly like MinHash-LSH
    banding. Returns (id_a, id_b, hamming), id_a < id_b.

    Scale shape: |bands| rows per document into one equi-join on
    (band, slice) — the same near-linear bucket-join as LSH; the
    arithmetic-shift-plus-mask slices are sign-safe on BIGINT."""
    width = 64 // bands
    mask = (1 << width) - 1
    entries = [
        F.struct(
            F.lit(j).alias("band"),
            F.shiftright(F.col(hash_col), j * width).bitwiseAND(F.lit(mask)).alias("slice"),
        )
        for j in range(bands)
    ]
    buckets = df.select(
        F.col(id_col), F.col(hash_col).alias("__h"), F.explode(F.array(*entries)).alias("__b")
    ).select(id_col, "__h", F.col("__b.band").alias("band"), F.col("__b.slice").alias("slice"))
    a = buckets.select(F.col(id_col).alias("id_a"), F.col("__h").alias("__ha"), "band", "slice")
    b = buckets.select(F.col(id_col).alias("id_b"), F.col("__h").alias("__hb"), "band", "slice")
    return (
        a.join(b, ["band", "slice"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.bit_count(F.col("__ha").bitwiseXOR(F.col("__hb"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def embedding_near_dup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_centroids: int = 16,
    n_assign: int = 2,
    brute_force: bool = False,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine similarity >= threshold
    (id_a < id_b).

    DEFAULT path is IVF-bucketed (the 100 TB shape): every vector is
    assigned to its ``n_assign`` nearest of ``n_centroids`` deterministic
    centroids via a per-row expression (no shuffle — see
    ``similarity.with_nearest_centroids``), then only pairs sharing a bucket
    are scored: one equi-join on centroid_id instead of an O(n²)
    cross-join. Multi-assignment (n_assign > 1) recovers near-dups that
    straddle a bucket boundary; a pair sharing two buckets is scored twice
    and deduplicated (identical sim both times). Approximate by design —
    cross-bucket pairs are missed — which is the standard ANN-dedup trade;
    ``brute_force=True`` keeps the exact O(n²) variant for small corpora."""
    from urban_traffic_data_lake_project_spark.operators.similarity import (
        _as_double,
        _dot,
        _norm,
        centroid_entries,
        with_nearest_centroids,
    )

    sim = _dot(F.col("__va"), F.col("__vb")) / (_norm(F.col("__va")) * _norm(F.col("__vb")))
    if brute_force:
        emb = spread_to_parallelism(emb)
        a = emb.select(F.col(id_col).alias("id_a"), _as_double(F.col(vec_col)).alias("__va"))
        b = emb.select(F.col(id_col).alias("id_b"), _as_double(F.col(vec_col)).alias("__vb"))
        return (
            a.join(b, F.col("id_a") < F.col("id_b"))
            .withColumn("cosine_sim", sim)
            .filter(F.col("cosine_sim") >= threshold)
            .select("id_a", "id_b", "cosine_sim")
        )

    entries = centroid_entries(emb, id_col, vec_col, n_centroids)
    dim = len(entries[0]["vec"])
    v = spread_to_parallelism(emb).select(
        F.col(id_col).alias("__id"), _as_double(F.col(vec_col)).alias("__v")
    ).withColumn("__n", _norm(F.col("__v")))
    buckets = with_nearest_centroids(v, "__v", "__n", entries, n_assign, "__cids").select(
        "__id",
        "__v",
        F.explode("__cids").alias("__cid"),
    )
    a = buckets.select(
        F.col("__id").alias("id_a"), F.col("__v").alias("__va"), "__cid"
    )
    b = buckets.select(
        F.col("__id").alias("id_b"), F.col("__v").alias("__vb"), "__cid"
    )
    cand = a.join(b, ["__cid"]).filter(F.col("id_a") < F.col("id_b"))
    # Pair scoring + threshold as ONE vectorized Arrow stage. The
    # expression form (dim-unrolled dot/norms in a withColumn + filter)
    # blew janino's 64 KB limit: predicate pushdown substitutes the
    # threshold filter's full ~3*dim-term sim expression into the JOIN
    # CONDITION while the projection recomputes it for the output —
    # twice the terms in one fused region, silent interpreted fallback
    # (r7 codegen audit). The numpy folds below replay the SQL arithmetic
    # exactly (0.0-seeded left-assoc dot and power sums), so the DuckDB
    # oracle still hash-matches; the stage streams each candidate batch,
    # keeping memory O(batch), and the threshold prunes before the
    # distinct's exchange.
    import numpy as np

    from pyspark.sql.types import DoubleType, StructField, StructType

    # id dtypes follow the caller's id_col (string ids and narrower ints
    # pass through the pandas stage untouched — ADVICE r7: hardcoded
    # LongType broke non-long ids that the expression path accepted)
    out_schema = StructType(
        [
            StructField("id_a", cand.schema["id_a"].dataType),
            StructField("id_b", cand.schema["id_b"].dataType),
            StructField("cosine_sim", DoubleType()),
        ]
    )
    thr = float(threshold)

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            A = np.stack(pdf["__va"].to_numpy()).astype(np.float64, copy=False)
            B = np.stack(pdf["__vb"].to_numpy()).astype(np.float64, copy=False)
            n = len(pdf)
            dot = np.zeros(n)
            na = np.zeros(n)
            nb = np.zeros(n)
            for i in range(dim):
                dot = dot + A[:, i] * B[:, i]
                na = na + A[:, i] * A[:, i]
                nb = nb + B[:, i] * B[:, i]
            simv = dot / (np.sqrt(na) * np.sqrt(nb))
            keep = simv >= thr
            out = pdf.loc[keep, ["id_a", "id_b"]].copy()
            out["cosine_sim"] = simv[keep]
            yield out

    return cand.select("id_a", "id_b", "__va", "__vb").mapInPandas(
        score, out_schema
    ).distinct()


def dup_clusters(
    df: DataFrame, id_col: str, pairs: DataFrame, max_iter: int = 20
) -> DataFrame:
    """Connected components over the near-dup pair graph: every document
    gets ``cluster_id`` = the smallest id reachable through any chain of
    pairs (singletons map to themselves). This is the exact cluster
    semantics that ``dedup_keep_canonical``'s drop-all-b approximates —
    e.g. pairs (1,3),(2,3) put 1 and 2 in ONE cluster via 3.

    Iterative min-label propagation with POINTER JUMPING: each round every
    vertex takes the min of its own and its neighbors' labels, then
    shortcuts label -> label-of-label. The shortcut halves remaining path
    lengths, so convergence is O(log diameter) rounds — max_iter=20 covers
    diameters up to ~2^20 even on pathological chain graphs (templated /
    boilerplate corpora where near-dups form long paths, not just tiny
    cliques). Each round is two shuffle joins + one grouped min — no
    driver-side graph. ``persist``/``unpersist`` bound the lineage so
    round k does not recompute rounds 0..k-1. If the cap is still hit
    without convergence this raises rather than silently returning split
    clusters."""
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .persist()
    )
    labels = df.select(F.col(id_col).alias("id"), F.col(id_col).alias("label")).persist()
    labels.count()
    changed = 1
    for _ in range(max_iter):
        msgs = (
            edges.join(labels, edges.src == labels.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        propagated = labels.join(msgs, "id", "left").select(
            "id", F.least("label", F.coalesce("nbr_label", "label")).alias("label")
        )
        # pointer jump: label <- label(label). Every label is itself an id
        # (labels start as ids and only ever take mins of ids), so the
        # lookup always resolves; the left join + coalesce is belt-and-
        # braces for ids filtered out of df.
        lookup = propagated.select(
            F.col("id").alias("label"), F.col("label").alias("__jump")
        )
        new_labels = (
            propagated.join(lookup, "label", "left")
            .select("id", F.coalesce("__jump", "label").alias("label"))
            .persist()
        )
        changed = (
            new_labels.join(labels.withColumnRenamed("label", "old"), "id")
            .filter(F.col("label") != F.col("old"))
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    if changed != 0:
        labels.unpersist()
        raise RuntimeError(
            f"dup_clusters: label propagation did not converge in {max_iter} "
            "rounds (graph diameter > 2^max_iter is implausible — check the "
            "pair input for corruption, or raise max_iter)"
        )
    return labels.select(F.col("id").alias(id_col), F.col("label").alias("cluster_id"))


def dedup_keep_canonical(df: DataFrame, id_col: str, pairs: DataFrame) -> DataFrame:
    """Given near-dup pairs (id_a < id_b), drop every id_b — keeping the
    smallest id of each dup cluster that is reachable as a chain of pairs.
    (Single-link transitive closure is iterative; for dedup purposes
    dropping all 'b' sides removes every duplicate — each cluster keeps
    only ids that are never the larger element of a pair, at minimum its
    smallest id.)"""
    drops = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(drops, id_col, "left_anti")


def srp_planes(n_planes: int, dim: int) -> list:
    """Deterministic sign-random-projection hyperplanes: component (j, i)
    is ``(md5int32('srp{j}_{i}') % 2001 - 1000) / 1000.0`` — uniform in
    [-1, 1], reproducible from any engine's md5 (the same derivation trick
    as ``stable_hash64``), so the whole LSH — planes, signatures, bands —
    is oracle-checkable bit-for-bit."""
    import hashlib

    return [
        [
            (int(hashlib.md5(f"srp{j}_{i}".encode()).hexdigest()[:8], 16) % 2001 - 1000)
            / 1000.0
            for i in range(dim)
        ]
        for j in range(n_planes)
    ]


def srp_choose_bands(
    n_rows: int,
    sig_sq_mass: int,
    n_planes: int,
    target_pairs_per_row: float = 8.0,
) -> int:
    """Pick the SRP band count so the banded self-join stays near-linear.

    ``sig_sq_mass`` is ``sum(c^2)`` over full-signature occupancy counts
    (one aggregation pass). Identical-signature mass is IRREDUCIBLE —
    those rows collide in every band at any width, and they are the true
    near-dups the verify step must score anyway. The tunable part is the
    RANDOM collision mass of distinct signatures, modeled uniform:
    ``E[extra candidates] ~= bands * (n^2 - sum_c2) / 2^width``. Choose
    the NARROWEST width (most bands, highest recall) whose extra mass
    stays under ``target_pairs_per_row * n``, from the divisors of
    ``n_planes`` (width <= 32 so band slices stay in integer range).

    Pure driver arithmetic on two scalars — deterministic given the data,
    so auto-tuned runs remain reproducible."""
    extra_mass = max(float(n_rows) * float(n_rows) - float(sig_sq_mass), 0.0)
    budget = target_pairs_per_row * max(n_rows, 1)
    widths = [w for w in range(1, min(n_planes, 32) + 1) if n_planes % w == 0]
    for w in widths:  # ascending width = descending recall
        bands = n_planes // w
        if bands * extra_mass / float(1 << w) <= budget:
            return bands
    return n_planes // widths[-1]


def srp_near_dup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 16,
    bands: int | str = 4,
    threshold: float = 0.95,
    target_pairs_per_row: float = 8.0,
) -> DataFrame:
    """Embedding near-dup pairs via sign-random-projection LSH — the
    angle-preserving cousin of the IVF bucketing in
    ``embedding_near_dup_pairs``: P(bit j agrees) = 1 - angle/pi, so
    near-parallel vectors collide on whole bands. Signature bit j is
    ``dot(v, plane_j) >= 0`` (planes are literal arrays — computing them
    per row would be n_planes * dim md5s per VECTOR; as literals the cost
    is one fused projection, zero shuffle). Band the ``n_planes`` bits
    into ``bands`` slices, bucket-join on any identical slice, verify
    exact cosine >= threshold on candidates only. Returns
    (id_a, id_b, cosine_sim), id_a < id_b.

    Scale shape: |bands| rows per vector into one equi-join — near-linear
    like MinHash-LSH banding PROVIDED band width tracks corpus size:
    expected bucket occupancy is n / 2^(n_planes/bands), so band width
    must be ~log2(n) bits or candidate pairs grow quadratically (measured
    by tools/stress.py: 16-bit signatures that are fine at 5k vectors
    blow up at 20k+; 64 planes / 4 bands keeps 1M vectors near-linear
    with ~90% recall at cosine 0.95). Vectors travel into the join only
    for the verify step. Approximate by design: a pair disagreeing
    somewhere in every band is missed (the standard SRP trade; more
    bands or fewer bits per band raise recall).

    ``bands="auto"`` sizes the bands from the data instead: one
    aggregation over full-signature occupancy (count + sum of squared
    bucket counts) feeds ``srp_choose_bands``, which picks the most
    bands whose expected RANDOM candidate mass stays under
    ``target_pairs_per_row * n`` — the knob the 1M-vector stress case
    showed must track corpus size/density, now turned automatically.
    Costs one extra column-pruned pass over the signature projection;
    the banding plan shape is unchanged."""
    from urban_traffic_data_lake_project_spark.operators.similarity import (
        _as_double,
        _dot,
        _norm,
    )

    if bands != "auto" and n_planes % bands:
        raise ValueError(f"bands must divide n_planes (got {n_planes}/{bands})")
    first = emb.select(F.size(F.col(vec_col)).alias("d")).first()
    if first is None:  # empty corpus: no pairs, stable schema
        return emb.sparkSession.createDataFrame(
            [], "id_a long, id_b long, cosine_sim double"
        )
    dim = first["d"]
    planes = srp_planes(n_planes, dim)
    # materialize the double vector FIRST so the plane dots read a bound
    # column, not per-term copies of the cast transform. The dots stay
    # HOF aggregates here: measured FASTER than unrolled arithmetic for
    # this shape (16 independent dots, no argmax machinery) — the
    # unrolling win belongs to the centroid-argmax path (similarity.py).
    base = spread_to_parallelism(emb).select(
        F.col(id_col).alias("__id"), _as_double(F.col(vec_col)).alias("__v")
    )
    sig = None
    for j, plane in enumerate(planes):
        dot_j = _dot(F.col("__v"), F.array(*[F.lit(h) for h in plane]))
        # bit 63 is the sign bit of a 64-bit signature: adding -2^63 sets
        # it in two's complement (1 << 63 overflows a signed literal)
        bitval = -(1 << 63) if j == 63 else (1 << j)
        bit = F.when(dot_j >= 0, F.lit(bitval)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    sig_type = "int" if n_planes <= 31 else "long"
    signed = base.select("__id", "__v", sig.cast(sig_type).alias("__sig"))
    if bands == "auto":
        occ = (
            signed.groupBy("__sig")
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(
                F.sum(F.col("c") * F.col("c")).alias("c2"),
                F.sum("c").alias("n"),
            )
            .first()
        )
        bands = srp_choose_bands(
            int(occ["n"] or 0), int(occ["c2"] or 0), n_planes, target_pairs_per_row
        )
    width = n_planes // bands
    mask = (1 << width) - 1
    entries = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("__sig"), b * width).bitwiseAND(F.lit(mask)).alias("slice"),
        )
        for b in range(bands)
    ]
    # r12 opt: the norm is computed ONCE per vector in the signature
    # projection and carried as one extra double per banding row, instead
    # of being re-folded (dim multiply-adds) per CANDIDATE PAIR on both
    # sides of the join — same left-assoc fold, bit-identical value.
    signed = signed.withColumn("__n", _norm(F.col("__v")))
    buckets = signed.select(
        "__id", "__v", "__n", F.explode(F.array(*entries)).alias("__b")
    ).select(
        "__id", "__v", "__n",
        F.col("__b.band").alias("band"), F.col("__b.slice").alias("slice"),
    )
    a = buckets.select(
        F.col("__id").alias("id_a"), F.col("__v").alias("__va"),
        F.col("__n").alias("__na"), "band", "slice",
    )
    b = buckets.select(
        F.col("__id").alias("id_b"), F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"), "band", "slice",
    )
    sim = _dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb"))
    return (
        a.join(b, ["band", "slice"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
        .distinct()
    )


def leakage_safe_split(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    eval_permille: int = 100,
    seed: str = "42",
) -> DataFrame:
    """Train/eval split that near-duplicates can NEVER straddle: documents
    are first clustered over the near-dup pair graph (``dup_clusters``),
    then the split decision hashes the CLUSTER id, not the document id —
    every member of a cluster lands on the same side. Splitting by doc id
    leaks: an eval document's near-copy trains the model on the answer,
    which is exactly the contamination decontam screens hunt afterwards.
    Cheaper to never create it.

    Returns (id, cluster_id, split). Same seeded-hash threshold rule as
    ``train_eval_split`` (permille of the hash space) so the two splits
    are directly comparable."""
    from urban_traffic_data_lake_project_spark.functions import stable_hash64

    clusters = dup_clusters(df, id_col, pairs)
    h = stable_hash64(F.col("cluster_id").cast("string"), salt=f"{seed}|")
    return clusters.select(
        id_col,
        "cluster_id",
        F.when(h % 1000 < eval_permille, F.lit("eval"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


def semdedup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    eps: float = 0.05,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, public) — SEMANTIC deduplication:
    cluster the embedding space, then inside each cluster drop every
    vector whose cosine similarity to a higher-priority cluster member
    is >= 1 - eps. Unlike ``embedding_near_dup_pairs`` (which LISTS
    near-dup pairs) this emits the keep/drop DECISION per document under
    the paper's priority rule: within a cluster, items are ranked by
    ascending similarity to their centroid (SemDeDup keeps the examples
    FARTHEST from the centroid — the most informative representatives),
    and an item is dropped iff some higher-priority item sits within its
    eps-ball. Pairwise only — no transitive closure — exactly the
    paper's per-cluster screen.

    Plan shape (the paper's own cost model, Spark-first):
    - centroids: the deterministic first-k seed (``centroid_entries``,
      the oracle-replayable rule shared with the IVF family; swap in
      ``kmeans_centroids`` for trained clusters — same contract);
    - assignment + centroid-cosine: per-row literal arithmetic
      (codegen-unrolled, ZERO corpus shuffle — the centroid vector is
      materialized once per row from a literal map, then an unrolled
      0-based-bracket dot, the ``ivfpq_residual_topk`` idiom);
    - priority rank: one window over (cluster_id) with ROUNDED cosine
      keys (round-then-rank makes the cross-engine ordering exact);
    - the quadratic bit is per-cluster pairwise scoring — ONE Arrow
      pass (``applyInPandas`` grouped on cluster_id): each cluster's
      similarity matrix is built by dim rank-1 numpy updates in index
      order (NOT a blocked ``V @ V.T`` GEMM, which reassociates the
      summation and can flip a keep/drop decision when a sim lands ulps
      from the 1e-6 rounding boundary near tau — ADVICE r6), so every
      pair's dot is bit-identical to the oracle's sequential list_sum.
      The expression-level alternative (self-join + per-pair unrolled
      dot) measured 313 s at 200k x k=256 because Catalyst pushes the
      whole 64-term dot into the join CONDITION — evaluated per probed
      pair on joined rows; the vectorized form does the same 78M
      pair-sims in dim elementwise passes per cluster. At 100 TB you
      scale k with n (the paper uses k ~ n/10k) so cluster groups stay
      executor-sized.

    Returns every input row: (id, cluster_id, cos_centroid, keep).
    """
    from urban_traffic_data_lake_project_spark.operators.similarity import (
        _as_double,
        _f,
        _norm,
        centroid_entries,
        with_nearest_centroids,
    )

    entries = centroid_entries(emb, id_col, vec_col, n_centroids)
    dim = len(entries[0]["vec"])
    tau = 1.0 - eps

    v = spread_to_parallelism(emb).select(
        F.col(id_col).alias("__id"), _as_double(F.col(vec_col)).alias("__v")
    ).withColumn("__n", _norm("__v", dim))
    assigned = with_nearest_centroids(v, "__v", "__n", entries, 1, "__cids").select(
        "__id", "__v", "__n", F.explode("__cids").alias("cluster_id")
    )
    cent_map = (
        "map("
        + ", ".join(
            f"{int(e['cid'])}, array({', '.join(_f(x) for x in e['vec'])})"
            for e in entries
        )
        + ")"
    )
    cnorm_map = (
        "map("
        + ", ".join(f"{int(e['cid'])}, {_f(e['cnorm'])}" for e in entries)
        + ")"
    )
    dot_c = " + ".join(f"(__v[{i}] * __c[{i}])" for i in range(dim))
    scored = (
        assigned.withColumn("__c", F.expr(f"element_at({cent_map}, cluster_id)"))
        .withColumn(
            "cos_centroid",
            F.round(
                F.expr(f"({dot_c})")
                / (F.col("__n") * F.expr(f"element_at({cnorm_map}, cluster_id)")),
                6,
            ),
        )
        .select("__id", "__v", "__n", "cluster_id", "cos_centroid")
    )
    def screen(pdf):
        import numpy as np
        import pandas as pd

        # priority order: ascending rounded centroid-cosine, id tiebreak
        # (same keys the SQL oracle ranks by — rounded keys make the
        # cross-engine order exact)
        pdf = pdf.sort_values(["cos_centroid", "__id"]).reset_index(drop=True)
        s = len(pdf)
        if s < 2:
            keep = np.ones(s, dtype=bool)
        else:
            V = np.stack(pdf["__v"].to_numpy())
            n = pdf["__n"].to_numpy()
            # Rank-1 left-assoc accumulation, NOT a blocked GEMM: V @ V.T
            # reassociates the dot-product summation (SIMD/blocking), so
            # a sim a few ulps from the 1e-6 rounding boundary near tau
            # could round differently than the oracle's sequential
            # list_sum and flip a keep/drop decision. Each rank-1 update
            # adds v_ai * v_bi elementwise in index order — every pair's
            # dot is the exact seedless left-assoc chain both engines
            # compute. ~2x slower than BLAS on the same O(s^2 * dim)
            # work; dot first, THEN divide by the norm product (the
            # oracle's shape).
            D = np.multiply.outer(V[:, 0], V[:, 0])
            for i in range(1, V.shape[1]):
                D = D + np.multiply.outer(V[:, i], V[:, i])
            S = np.round(D / np.outer(n, n), 6)
            # dropped[j] <=> some higher-priority i (row above j) has
            # sim >= tau; strict upper triangle = pairs (i earlier, j)
            keep = ~np.triu(S >= tau, k=1).any(axis=0)
        return pd.DataFrame(
            {
                "__id": pdf["__id"],
                "cluster_id": pdf["cluster_id"],
                "cos_centroid": pdf["cos_centroid"],
                "keep": keep,
            }
        )

    out_schema = (
        f"__id {dict(emb.select(F.col(id_col)).dtypes)[id_col]}, "
        "cluster_id int, cos_centroid double, keep boolean"
    )
    return (
        scored.groupBy("cluster_id")
        .applyInPandas(screen, out_schema)
        .withColumnRenamed("__id", id_col)
    )
