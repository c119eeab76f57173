"""Similarity search over embedding columns (array<float>) — BASELINE.json
north-star surface, absent from the reference.

- ``cosine_topk``        : exact brute-force top-k. Queries broadcast to
                           every candidate partition; the dot product is a
                           JVM-side ``aggregate(zip_with(...))`` expression
                           (no Python, no shuffle of the corpus).
- ``cosine_topk_ivf``    : the scale path. Deterministic IVF: the first
                           ``n_centroids`` vectors (by id) act as centroids;
                           candidates are bucketed by nearest centroid;
                           queries probe the ``nprobe`` nearest buckets
                           only. At 100 TB the corpus shuffles once on
                           centroid id, and each query touches
                           nprobe/n_centroids of the data.

Everything is deterministic (ties broken by id) so results are
oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from urban_traffic_data_lake_project_spark.sources.tables import spread_to_parallelism


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _dot_sql(a: str, b: str, dim: int) -> str:
    """SQL text of the dim-unrolled dot product between two array COLUMNS
    (by name). Same tree the old py4j loop built — ``0.0D`` accumulator,
    left-assoc adds — so results stay bit-identical; but built as ONE
    string parsed by a single ``F.expr`` call. The Column-operator form
    cost ~3 py4j gateway round trips per term, which made PLAN BUILD (not
    execution) dominate ``sim_cosine_topk`` at dim=64 (x4 invocations per
    score expression): +160% on the sf0.1 bench between r5 and r6."""
    return "0.0D + " + " + ".join(
        f"(element_at({a}, {i}) * element_at({b}, {i}))" for i in range(1, dim + 1)
    )


def _norm_sql(a: str, dim: int) -> str:
    return (
        "sqrt(0.0D + "
        + " + ".join(
            f"(element_at({a}, {i}) * element_at({a}, {i}))"
            for i in range(1, dim + 1)
        )
        + ")"
    )


def _dot(a: Column | str, b: Column | str, dim: int | None = None) -> Column:
    """Column-column dot product. With ``dim`` known at plan time the sum
    is UNROLLED into per-index element_at products — a plain arithmetic
    expression that rides whole-stage codegen — instead of the
    ``aggregate(zip_with(...))`` higher-order form, which Spark evaluates
    interpreted (CodegenFallback) and which dominated the IVF scoring
    join at 1M vectors (~6M candidate pairs x one interpreted fold
    each). The unroll starts from the same lit(0.0) accumulator and adds
    in the same left-assoc order, so results are bit-identical and
    oracle parity is unaffected. Pass column NAMES (not Columns) with
    ``dim`` so the unroll is one ``F.expr`` parse — see ``_dot_sql``."""
    if dim:
        if isinstance(a, str) and isinstance(b, str):
            return F.expr(_dot_sql(a, b, dim))
        expr: Column = F.lit(0.0)
        for i in range(1, dim + 1):
            expr = expr + F.element_at(a, i) * F.element_at(b, i)
        return expr
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a: Column | str, dim: int | None = None) -> Column:
    if dim:
        if isinstance(a, str):
            return F.expr(_norm_sql(a, dim))
        expr: Column = F.lit(0.0)
        for i in range(1, dim + 1):
            expr = expr + F.element_at(a, i) * F.element_at(a, i)
        return F.sqrt(expr)
    a = F.col(a) if isinstance(a, str) else a
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def grouped_vector_mean(
    df: DataFrame, group_cols: list, vec_col: str, out_col: str = "centroid"
) -> DataFrame:
    """Element-wise mean of an array column per group (per-class embedding
    centroids — the building block for class-balanced similarity stats and
    IVF training). posexplode -> grouped avg on (group, pos) -> reassemble
    ordered by position. One shuffle on (group, pos) WITH map-side partial
    aggregation — never a collect_list of whole vectors (which would move
    every vector to one reducer per group)."""
    ex = spread_to_parallelism(df).select(
        *group_cols, F.posexplode(_as_double(F.col(vec_col))).alias("__pos", "__v")
    )
    per = ex.groupBy(*group_cols, "__pos").agg(F.avg("__v").alias("__m"))
    return per.groupBy(*group_cols).agg(
        F.array_sort(F.collect_list(F.struct("__pos", "__m")))
        .getField("__m")
        .alias(out_col)
    )


def quantize_embeddings_int8(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-dimension affine int8 quantization of an embedding column — the
    standard 4x storage/bandwidth compression for vector stores at corpus
    scale. Codes are ``floor((v - lo_d) * 255 / (hi_d - lo_d) + 0.5) - 128``
    with global per-dimension bounds (constant dimensions code to 0).

    Returns (id, q_codes array<bigint>, q_errs array<double>,
    mean_abs_err, max_abs_err) — q_errs is the per-element dequantization
    round-trip loss, the summary columns its per-vector mean/max.

    Scale shape: bounds come from ONE posexplode + grouped min/max
    (shuffle of dim-count rows after map-side partials), reassembled into
    a single broadcast row; the quantization itself is a map-side
    ``zip_with`` expression — the corpus is scanned twice (bounds pass +
    code pass), never shuffled. Deterministic, so the codes themselves are
    oracle-checkable."""
    df = spread_to_parallelism(df)
    v = _as_double(F.col(vec_col))
    ex = df.select(F.posexplode(v).alias("__pos", "__v"))
    stats = ex.groupBy("__pos").agg(F.min("__v").alias("lo"), F.max("__v").alias("hi"))
    bounds = stats.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("__pos", "lo", "hi"))).alias("__b")
    )
    code = lambda x, b: F.when(b["hi"] == b["lo"], F.lit(0).cast("bigint")).otherwise(  # noqa: E731
        F.floor((x - b["lo"]) * 255.0 / (b["hi"] - b["lo"]) + 0.5) - 128
    )
    dequant = lambda c, b: (c + 128) * (b["hi"] - b["lo"]) / 255.0 + b["lo"]  # noqa: E731
    qs = F.zip_with(
        v, F.col("__b"),
        lambda x, b: F.struct(
            code(x, b).alias("code"), F.abs(x - dequant(code(x, b), b)).alias("err")
        ),
    )
    out = df.crossJoin(F.broadcast(bounds)).select(
        F.col(id_col), qs.alias("__q")
    )
    errs = F.col("__q").getField("err")
    return out.select(
        id_col,
        F.col("__q").getField("code").alias("q_codes"),
        errs.alias("q_errs"),
        (
            F.aggregate(errs, F.lit(0.0), lambda a, x: a + x) / F.size("__q")
        ).alias("mean_abs_err"),
        F.array_max(errs).alias("max_abs_err"),
    )


def _fold_batches(proj: DataFrame, schema, prune, score=None) -> DataFrame:
    """The one partition-local prune stage: a ``mapInPandas`` over
    ``proj`` that scores each non-empty Arrow batch (``score``, optional),
    prunes it, and folds it into the running survivors. Partition memory
    stays at the survivor count however many batches stream through, and
    the result is lossless whenever the global answer is a subset of the
    union of per-partition survivors (top-k here, k-min in
    ``sketches._partition_local_kmins``)."""
    import pandas as pd

    def per_partition(batches):
        best: pd.DataFrame | None = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cur = prune(pdf if score is None else score(pdf))
            best = cur if best is None else prune(pd.concat([best, cur]))
        if best is not None:
            yield best

    return proj.mapInPandas(per_partition, schema)


def _partition_local_topk(
    df: DataFrame, k: int, score=None, score_col: str = "cosine_sim"
) -> DataFrame:
    """Phase-1 prune for exact top-k: within each partition keep only the k
    best rows per query in THE top-k order — ``score_col`` DESC, ties to
    the smaller neighbor_id (``_rank_topk`` is the same order as a
    window). The global top-k is necessarily a subset of the union of
    per-partition top-ks, so this is lossless; the exchange feeding the
    rank window carries <= partitions * queries * k rows instead of
    |corpus| * q.

    Without ``score`` the stage runs over the three SCALAR columns of an
    already-scored frame. With ``score`` (batch -> float64 score array)
    ``df`` carries the scorer's inputs and each batch is scored inside the
    same Arrow stage before it is pruned."""
    import pandas as pd

    from pyspark.sql.types import DoubleType, StructField, StructType

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["query_id", score_col, "neighbor_id"],
            ascending=[True, False, True],
            kind="mergesort",
        )
        return pdf.groupby("query_id", sort=False).head(k)

    if score is None:
        proj = df.select("query_id", "neighbor_id", score_col)
        return _fold_batches(proj, proj.schema, prune)

    def scored(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "query_id": pdf["query_id"].to_numpy(),
                "neighbor_id": pdf["neighbor_id"].to_numpy(),
                score_col: score(pdf),
            }
        )

    schema = StructType(
        [
            StructField("query_id", df.schema["query_id"].dataType),
            StructField("neighbor_id", df.schema["neighbor_id"].dataType),
            StructField(score_col, DoubleType()),
        ]
    )
    return _fold_batches(df, schema, prune, scored)


def _rank_topk(
    df: DataFrame, k: int, score_col: str = "cosine_sim", rank_col: str = "rank"
) -> DataFrame:
    """Phase-2 global cut: ``rank_col`` = row_number per query_id in the
    same order as ``_partition_local_topk``'s prune (``score_col`` DESC,
    neighbor_id ASC), keeping ranks <= k. One order in both phases is what
    makes the two-phase top-k exact."""
    w = Window.partitionBy("query_id").orderBy(
        F.col(score_col).desc(), F.col("neighbor_id").asc()
    )
    return df.withColumn(rank_col, F.row_number().over(w)).filter(
        F.col(rank_col) <= k
    )


def _query_index(ids):
    """query_id -> row of the driver-collected query arrays, as a
    vectorized lookup (searchsorted on the sorted ids; a python-dict lookup
    per candidate row was a hidden serial cost at millions of candidates).
    Ids keep the caller's type, so string ids work as well as integers.

    searchsorted is only valid when every candidate id exists in the
    collected query set (the join invariant: candidates are born by
    joining against the probes). A broken invariant is a loud
    ``ValueError``, never a silent wrong-row lookup: clip, then verify the
    round trip against the uncast batch ids (a cast to a shorter string
    dtype truncates, so the cast ids alone could match the wrong query)."""
    import numpy as np

    sort_idx = np.argsort(ids)
    ids_sorted = ids[sort_idx]

    def lookup(batch_ids):
        pos = np.clip(
            np.searchsorted(ids_sorted, np.asarray(batch_ids, dtype=ids_sorted.dtype)),
            0,
            len(ids_sorted) - 1,
        )
        if not (ids_sorted[pos] == batch_ids).all():
            raise ValueError("candidate query_id absent from the collected query set")
        return sort_idx[pos]

    return lookup


def _query_arrays(q_rows: list):
    """(ids, Q, qn) numpy arrays of the closure regime's collected
    (query_id, __qv, __qn) rows — all the float scorer's task closure
    ever captures (never the Rows, so e.g. their ``__cids`` stay on the
    driver)."""
    import numpy as np

    ids = np.asarray([r["query_id"] for r in q_rows])
    Q = np.array([[float(x) for x in r["__qv"]] for r in q_rows], dtype=np.float64)
    qn = np.array([float(r["__qn"]) for r in q_rows], dtype=np.float64)
    return ids, Q, qn


def _score_local_topk_arrow(
    cand: DataFrame,
    queries,
    k: int,
    dim: int,
    vec_col: str = "__cv",
    norm_col: str = "__cn",
) -> DataFrame:
    """Candidate cosine scoring + partition-local top-k as ONE vectorized
    Arrow stage, for both query regimes. ``cand`` carries (query_id,
    neighbor_id, vec_col, norm_col); the query side comes from either

    - ``queries = (ids, Q, qn)`` (closure regime, ``_query_arrays``): the
      bounded driver-collected query set travels in the task closure
      instead of being duplicated onto every candidate row, halving the
      Arrow transfer; or
    - ``queries = None`` (join regime): ``__qv``/``__qn`` arrive ON the
      candidate row, joined upstream from the distributed query table, so
      nothing query-sized is ever driver-collected — the price is the
      duplicated query vector per candidate row in the exchange.

    Either way the dot products run as float64 column sweeps (``acc = acc
    + q_i * c_i`` from a 0.0 seed — the same left-assoc order as the
    ``_dot_sql`` unroll), so both regimes and the SQL form agree on every
    double and the DuckDB oracle replay still hash-matches.

    Why not the expression form: 6.1M candidate pairs x a 65-term
    element_at chain measured ~8 s at the 1M-vector stress even when the
    stage COMPILES (each element_at pays null+bounds checks), and the
    unrolled projection is what kept tripping janino's 64 KB method
    limit. Here there is nothing to JIT, and the prune streams each batch
    (``_partition_local_topk``), so the global rank window still only
    sees partitions * q * k survivor rows."""
    import numpy as np

    if queries is None:
        proj = cand.select(
            "query_id", "neighbor_id", "__qv", "__qn", vec_col, norm_col
        )

        def query_side(pdf):
            Qr = np.stack(pdf["__qv"].to_numpy()).astype(np.float64, copy=False)
            return Qr, pdf["__qn"].to_numpy(dtype=np.float64)

    else:
        proj = cand.select("query_id", "neighbor_id", vec_col, norm_col)
        ids, Q, qn = queries
        lookup = _query_index(ids)

        def query_side(pdf):
            qidx = lookup(pdf["query_id"].to_numpy())
            return Q[qidx], qn[qidx]

    def score(pdf):
        V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64, copy=False)
        cn = pdf[norm_col].to_numpy(dtype=np.float64)
        Qr, qnr = query_side(pdf)
        acc = np.zeros(len(pdf), dtype=np.float64)
        for i in range(dim):
            acc = acc + Qr[:, i] * V[:, i]
        den = qnr * cn
        # zero-norm vectors (e.g. an all-zero d_coarse prefix under the
        # Matryoshka screen) get an explicit -2.0 sentinel — below any
        # cosine and identical on both engines (numpy would emit NaN/inf
        # here while DuckDB turns x/0.0 into NULL, whose DESC sort position
        # is a config knob) — same guard as the int8 scorer
        return np.where(den > 0, acc / den, -2.0)

    return _partition_local_topk(proj, k, score)


# Above this many query vectors, collecting the query side to the driver
# and shipping it in every task closure stops scaling (closure serialization
# is per-task and the driver holds q * dim doubles): the ANN paths switch to
# a JOIN of the query vectors onto the candidate rows instead — the same
# auto-regime pattern as srp_choose_bands / choose_block_width. 65,536
# vectors x 64 dims x 8 B = 32 MB closure — the budget sits where closure
# shipping is still clearly cheaper than duplicating the query vector onto
# every candidate row.
QUERY_BROADCAST_BUDGET = 65_536


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector over the corpus.
    Returns (query_id, neighbor_id, cosine_sim, rank); self-matches are
    excluded; ties break to the smaller neighbor id.

    Two-phase: queries broadcast to every corpus partition and similarities
    are computed JVM-side (codegen-unrolled when ``dim`` is known, else
    ``aggregate(zip_with)``), then each partition pre-prunes to its local
    top-k (``_partition_local_topk``) so the global rank window only
    exchanges partitions*q*k survivor rows — at corpus scale the
    all-scores shuffle, not the dot products, is the bottleneck this
    removes. Identical ordering keys in both phases keep it exact."""
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("__qv")
    )
    # the dot-product stage is CPU-bound per corpus row; never let a
    # single-file parquet input serialize it on one core
    c = spread_to_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("__cv")
    )
    # expression scorer, NOT the fused Arrow scorer used by the IVF
    # paths: the Arrow variant needs a driver collect of the query set
    # (an extra Spark job, ~0.3 s fixed), which the IVF paths amortize
    # against probe selection but which dominates this bounded exact
    # path at bench scale (measured 1.6 s vs 1.2 s at sf0.1). With dim
    # known the dot/norms build as ONE F.expr SQL string (_dot_sql) —
    # the py4j Column loop cost ~1 s of PLAN BUILD per invocation and
    # was the r6 +160% regression.
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine_sim",
            _dot("__qv", "__cv", dim)
            / (_norm("__qv", dim) * _norm("__cv", dim))
            if dim
            else _dot(F.col("__qv"), F.col("__cv"))
            / (_norm(F.col("__qv")) * _norm(F.col("__cv"))),
        )
    )
    pruned = _partition_local_topk(scored, k)
    return _rank_topk(pruned, k).select("query_id", "neighbor_id", "cosine_sim", "rank")


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
    dim: int | None = None,
) -> DataFrame:
    """Contrastive hard-negative mining: for each query vector, the k most
    similar corpus vectors with a DIFFERENT label — the pairs that teach a
    contrastive/embedding model the most (easy negatives are already far;
    same-label neighbors are positives, not negatives).

    Same two-phase exact shape as ``cosine_topk`` — broadcast queries,
    JVM-side dot products, partition-local prune, then a rank window over
    only the survivor rows — with the label inequality pushed into the
    broadcast-join condition so off-label rows never reach the scorer."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("__ql"),
        _as_double(F.col(vec_col)).alias("__qv"),
    )
    c = spread_to_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("__cl"),
        _as_double(F.col(vec_col)).alias("__cv"),
    )
    # same expression-scorer rationale as cosine_topk (the Arrow
    # scorer's extra driver job dominates this bounded exact path)
    scored = c.join(
        F.broadcast(q),
        (F.col("neighbor_id") != F.col("query_id"))
        & (F.col("__cl") != F.col("__ql")),
    ).withColumn(
        "cosine_sim",
        _dot("__qv", "__cv", dim)
        / (_norm("__qv", dim) * _norm("__cv", dim))
        if dim
        else _dot(F.col("__qv"), F.col("__cv"))
        / (_norm(F.col("__qv")) * _norm(F.col("__cv"))),
    )
    pruned = _partition_local_topk(scored, k)
    return _rank_topk(pruned, k).select("query_id", "neighbor_id", "cosine_sim", "rank")


def embedding_bucket_drift(
    a: DataFrame,
    b: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    eps: float = 1e-6,
) -> DataFrame:
    """Embedding-distribution drift between two corpus snapshots — the
    curation monitor that catches a source, scraper, or encoder change
    shifting WHERE new data lands in embedding space before it skews a
    training mix. Both snapshots are assigned to SHARED buckets (the
    deterministic first-k centroids of snapshot ``a`` — the reference
    frame), and the bucket histograms are compared by PSI: psi_term =
    (p_a - p_b) * ln(p_a / p_b) per bucket (proportions floored at
    ``eps`` so empty buckets stay finite; sum the column for the overall
    index — >0.2 is the conventional "investigate" line).

    Scale shape: two zero-shuffle assignment scans (the Arrow path) into
    bucket-count aggregates (map-side partials; n_centroids rows each),
    then all arithmetic happens on the k-row joined frame — the global
    total/proportion window runs over k rows, never the corpus."""
    entries = centroid_entries(a, id_col, vec_col, n_centroids)
    spark = a.sparkSession

    def bucket_counts(df: DataFrame, out: str) -> DataFrame:
        v = spread_to_parallelism(df).select(
            _as_double(F.col(vec_col)).alias("__v")
        ).withColumn("__n", _norm(F.col("__v")))
        asn = with_nearest_centroids(v, "__v", "__n", entries, 1, "__cids").select(
            F.explode("__cids").alias("centroid_id")
        )
        return asn.groupBy("centroid_id").agg(F.count(F.lit(1)).alias(out))

    base = spark.createDataFrame(
        [(int(e["cid"]),) for e in entries], "centroid_id long"
    )
    j = (
        base.join(bucket_counts(a, "n_a"), "centroid_id", "left")
        .join(bucket_counts(b, "n_b"), "centroid_id", "left")
        .fillna(0, subset=["n_a", "n_b"])
    )
    w = Window.partitionBy()  # k rows total — the window never sees the corpus
    pa = F.greatest(F.col("n_a") / F.sum("n_a").over(w), F.lit(float(eps)))
    pb = F.greatest(F.col("n_b") / F.sum("n_b").over(w), F.lit(float(eps)))
    return j.select(
        "centroid_id",
        "n_a",
        "n_b",
        F.round((pa - pb) * F.log(pa / pb), 6).alias("psi_term"),
    )


def cosine_topk_coarse_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int | None = None,
    d_coarse: int = 16,
    depth: int = 50,
) -> DataFrame:
    """Two-stage retrieval with a truncated-dimension prefilter — the
    Matryoshka-representation pattern (Kusupati et al. 2022, public):
    stage 1 scores every (query, candidate) pair on only the FIRST
    ``d_coarse`` dimensions (embeddings trained front-loaded make the
    prefix a usable coarse score; for generic embeddings it is still a
    cheap correlated screen) and keeps the top ``depth`` per query;
    stage 2 re-ranks only those ``depth`` survivors with the EXACT
    full-dimension cosine. Stage 1 does dim/d_coarse less arithmetic per
    pair and stage 2 touches q * depth rows instead of q * n — the
    classic retrieve-then-rerank split, complementary to IVF (which
    prunes by bucket rather than by dimension).

    SCALE REGIME: stage 1 here still VISITS every (query, candidate)
    pair — the brute-force shape with a smaller constant. That is the
    right trade only when the corpus side is modest or the query set
    huge; for corpus-scale retrieval use
    ``cosine_topk_ivf_coarse_rerank``, which runs the same coarse screen
    strictly AFTER an IVF probe cut so non-probed candidates are never
    scored at all.

    Deterministic end-to-end (coarse ties to the smaller neighbor id,
    exact ties likewise), so the DuckDB oracle replays both stages.
    Returns (query_id, neighbor_id, cosine_sim, rank) like
    ``cosine_topk``; approximate exactly insofar as a true top-k member
    can fall outside the coarse top-``depth``."""
    if not dim:
        raise ValueError("cosine_topk_coarse_rerank requires dim")
    d_coarse = min(d_coarse, dim)
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("__qv")
    )
    c = spread_to_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("__cv")
    )
    # stage 1: prefix-dim cosine on every pair; same expression-scorer +
    # partition-local-prune shape as cosine_topk, just on d_coarse dims
    # zero-norm d_coarse prefixes (an all-zero leading block is plausible
    # even for a nonzero vector) get the -2.0 sentinel — below any cosine
    # and identical on both engines (ADVICE r8; same guard as the Arrow
    # scorer and the int8 screen). coalesce(dot/nullif(den,0), -2.0), not
    # when(den>0,...): conditional branch values defeat codegen common-
    # subexpression elimination, so the when-form evaluated the two
    # unrolled d_coarse-term norms TWICE per pair on the all-pairs screen
    # (~10% on sim_matryoshka_rerank at sf0.1, r9 bench regression).
    # nanvl wrap (ADVICE r10, low): coalesce passes NaN through (NaN is not
    # NULL), so a NaN/Inf embedding component would otherwise propagate NaN
    # into cosine_sim and the rank window, diverging from the documented
    # below-any-cosine sentinel the old when(den > 0, ...) form preserved.
    coarse_den = _norm("__qv", d_coarse) * _norm("__cv", d_coarse)
    coarse = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine_sim",
            F.nanvl(
                F.coalesce(
                    _dot("__qv", "__cv", d_coarse)
                    / F.nullif(coarse_den, F.lit(0.0)),
                    F.lit(-2.0),
                ),
                F.lit(-2.0),
            ),
        )
    )
    survivors = _rank_topk(
        _partition_local_topk(coarse, depth), depth, rank_col="__crank"
    ).select("query_id", "neighbor_id")
    # stage 2: exact cosine on the q*depth survivors only. Survivors are
    # bounded (q * depth rows) -> broadcast them against the corpus; the
    # full-dim arithmetic never runs on non-candidates.
    rerank = (
        c.join(F.broadcast(survivors), "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .withColumn(
            "cosine_sim",
            _dot("__qv", "__cv", dim)
            / (_norm("__qv", dim) * _norm("__cv", dim)),
        )
    )
    return _rank_topk(rerank, k).select("query_id", "neighbor_id", "cosine_sim", "rank")


def cosine_topk_ivf_coarse_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int | None = None,
    n_centroids: int = 16,
    nprobe: int = 4,
    d_coarse: int = 16,
    depth: int = 50,
    train_iters: int = 0,
) -> DataFrame:
    """IVF-composed Matryoshka retrieval — the scale path for the
    coarse+rerank pattern (r7 verdict: ``cosine_topk_coarse_rerank``'s
    stage 1 coarse-scores EVERY (query, candidate) pair, O(q*n) at any
    corpus size). Three stages, each cutting the candidate set before
    the next pays its arithmetic:

    1. **IVF probe cut** (bucket pruning): corpus vectors are assigned
       to their nearest of ``n_centroids`` centroids by the zero-shuffle
       Arrow assignment stage; each query probes only its ``nprobe``
       buckets via a broadcast (query_id, centroid_id) join — candidates
       drop to ~nprobe/n_centroids of the corpus before ANY scoring.
    2. **Matryoshka coarse screen** (dimension pruning, Kusupati et al.
       2022, public): the probed candidates are scored on only the first
       ``d_coarse`` dims (prefix cosine) by the same fused Arrow
       score+prune stage the plain IVF uses — dim/d_coarse less
       arithmetic per surviving pair — keeping the top ``depth`` per
       query.
    3. **Exact rerank**: full-dim cosine on the bounded q*depth
       survivor set only (broadcast joins, unrolled expression dots).

    The probe cut runs UPSTREAM of the coarse score (the broadcast
    probes join feeds the Arrow screen), so unlike the all-pairs parent
    neither stage ever touches a non-probed candidate: per-query work is
    O(n*nprobe/n_centroids * d_coarse + depth*dim) instead of O(n*dim)
    (exact) or O(n*d_coarse + depth*dim) (all-pairs Matryoshka).
    Deterministic end-to-end (assignment/probe ties to the smaller cid,
    score ties to the smaller neighbor id), so the DuckDB oracle replays
    all three stages. Recall composes multiplicatively: a true neighbor
    survives iff its bucket is probed AND its prefix score makes the
    depth cut — dial ``nprobe``/``depth`` up for recall, down for
    speed."""
    if not dim:
        raise ValueError("cosine_topk_ivf_coarse_rerank requires dim")
    d_coarse = min(d_coarse, dim)
    if train_iters > 0:
        entries = kmeans_centroids(
            corpus, id_col, vec_col, k=n_centroids, iters=train_iters
        )
    else:
        entries = centroid_entries(corpus, id_col, vec_col, n_centroids)

    # stage 1: identical probe shape to cosine_topk_ivf (the Arrow
    # assignment stage is the pushdown barrier; probes are a broadcast
    # equi-join)
    c = spread_to_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("__cv")
    ).withColumn("__cn", _norm(F.col("__cv")))
    assigned = with_nearest_centroids(c, "__cv", "__cn", entries, 1, "__cids").select(
        "neighbor_id",
        "__cv",
        # the coarse screen divides by PREFIX norms; computed here (a
        # d_coarse-term unroll riding the same projection) so the Arrow
        # stage gets it as a plain column, exactly like the full-dim path
        F.expr(_norm_sql("__cv", d_coarse)).alias("__ccn"),
        F.explode("__cids").alias("centroid_id"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("__qv")
    ).withColumn("__qn", _norm(F.col("__qv")))
    probed = with_nearest_centroids(q, "__qv", "__qn", entries, nprobe, "__cids")
    # bounded collect: query vectors + PREFIX norms travel in the coarse
    # scorer's task closure (aliased __qn — the scorer's norm contract);
    # the probe pairs ride the SAME collect and the broadcast probe table
    # is rebuilt driver-side (r13 — see cosine_topk_ivf), so the scoring
    # job no longer re-runs the query assignment in its probe subtree
    q_rows = probed.select(
        "query_id", "__qv",
        F.expr(_norm_sql("__qv", d_coarse)).alias("__qn"), "__cids",
    ).collect()
    probes = _probes_table_from_rows(corpus.sparkSession, q_rows, probed.schema)

    # stage 2: prefix-dim score + partition-local prune as ONE Arrow
    # stage over the PROBED candidates only, then the global depth cut
    cand = assigned.join(F.broadcast(probes), "centroid_id").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    coarse = _score_local_topk_arrow(
        cand, _query_arrays(q_rows), depth, d_coarse, "__cv", "__ccn"
    )
    survivors = _rank_topk(coarse, depth, rank_col="__crank").select(
        "query_id", "neighbor_id"
    )

    # stage 3: exact full-dim cosine on the bounded survivor set
    rerank = (
        c.join(F.broadcast(survivors), "neighbor_id")
        .join(
            F.broadcast(q.select("query_id", "__qv")), "query_id"
        )
        .withColumn(
            "cosine_sim",
            _dot("__qv", "__cv", dim) / (_norm("__qv", dim) * _norm("__cv", dim)),
        )
    )
    return _rank_topk(rerank, k).select("query_id", "neighbor_id", "cosine_sim", "rank")


def cosine_topk_ivf_int8_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int | None = None,
    n_centroids: int = 16,
    nprobe: int = 4,
    depth: int = 50,
    train_iters: int = 0,
) -> DataFrame:
    """IVF-probed retrieval with an INT8-quantized screen — the
    scalar-quantization counterpart of PQ (the standard production
    memory/bandwidth dial: 4x smaller candidate rows than float32, 8x
    smaller than the double arrays the exact path scans):

    1. **IVF probe cut**: same zero-corpus-shuffle assignment +
       broadcast probe join as ``cosine_topk_ivf``.
    2. **int8 screen**: probed candidates ship ONLY their code array
       (``floor(x * 127 / A + 0.5)`` with one global max-abs scale A —
       a single corpus aggregate) plus ids; the fused Arrow stage
       scores int64 dot products of the codes and prunes to ``depth``
       per query. Everything in the screen is INTEGER arithmetic plus
       one exactly-representable int->double conversion, a
       correctly-rounded sqrt and one division — bit-identical across
       engines BY CONSTRUCTION (no float summation-order hazard at
       all), so the oracle replay is exact even at tie boundaries.
    3. **exact rerank**: full-precision cosine over the bounded
       q*depth survivors, joined back to the float vectors by id — the
       wide float arrays are only ever read for survivor rows.

    Approximation error: quantization can demote a true neighbor below
    the depth cut (dial ``depth`` up) and probing can miss its bucket
    (dial ``nprobe`` up) — same dials as IVF-PQ, but with a screen that
    preserves relative dot-product geometry to ~0.4% (1/2 ulp of 127)
    instead of PQ's codebook distortion."""
    if not dim:
        raise ValueError("cosine_topk_ivf_int8_rerank requires dim")
    from urban_traffic_data_lake_project_spark.functions.concurrency import (
        overlap_jobs,
    )

    c = spread_to_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("__cv")
    ).withColumn("__cn", _norm(F.col("__cv")))

    def _entries():
        if train_iters > 0:
            return kmeans_centroids(
                corpus, id_col, vec_col, k=n_centroids, iters=train_iters
            )
        return centroid_entries(corpus, id_col, vec_col, n_centroids)

    # the centroid seed/training and the global max-abs scale aggregate
    # have no data dependency: overlap them (guide §2.6, r13) — two
    # bounded fit jobs, one latency
    entries, a_row = overlap_jobs(
        _entries,
        lambda: c.agg(
            F.max(F.array_max(F.transform("__cv", lambda x: F.abs(x)))).alias("a")
        ).collect()[0],
    )
    # an empty corpus aggregates to NULL — degrade to the same empty
    # result the sibling paths return instead of float(None) (ADVICE r8)
    scale = float(a_row["a"]) if a_row["a"] is not None else 1.0
    scale = scale or 1.0

    q8 = lambda v: F.transform(  # noqa: E731
        v, lambda x: F.floor(x * 127.0 / F.lit(scale) + 0.5).cast("long")
    )
    assigned = with_nearest_centroids(c, "__cv", "__cn", entries, 1, "__cids").select(
        "neighbor_id",
        q8(F.col("__cv")).alias("__c8"),
        F.explode("__cids").alias("centroid_id"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("__qv")
    ).withColumn("__qn", _norm(F.col("__qv")))
    probed = with_nearest_centroids(q, "__qv", "__qn", entries, nprobe, "__cids")
    # one bounded collect carries the query codes AND the probe pairs;
    # the broadcast probe table is rebuilt driver-side (r13 — see
    # cosine_topk_ivf), so the screen job stops re-running the query
    # assignment in its probe subtree
    q_rows = probed.select(
        "query_id", q8(F.col("__qv")).alias("__q8"), "__cids"
    ).collect()
    probes = _probes_table_from_rows(corpus.sparkSession, q_rows, probed.schema)

    cand = assigned.join(F.broadcast(probes), "centroid_id").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    screened = _score_local_topk_int8_arrow(cand, q_rows, depth)
    survivors = _rank_topk(screened, depth, "q_sim", "__qrank").select(
        "query_id", "neighbor_id"
    )

    rerank = (
        c.join(F.broadcast(survivors), "neighbor_id")
        .join(F.broadcast(q.select("query_id", "__qv")), "query_id")
        .withColumn(
            "cosine_sim",
            _dot("__qv", "__cv", dim) / (_norm("__qv", dim) * _norm("__cv", dim)),
        )
    )
    return _rank_topk(rerank, k).select("query_id", "neighbor_id", "cosine_sim", "rank")


def _score_local_topk_int8_arrow(
    cand: DataFrame, q_rows: list, depth: int
) -> DataFrame:
    """Quantized screen: the int8 counterpart of ``_score_local_topk_arrow``
    in the closure regime. Scores int64 code dots (exact — no
    accumulation-order hazard) normalized by the code-space norms, pruning
    each partition to ``depth`` rows per query as batches stream.
    Candidate rows carry only (ids, int8 codes); the query codes travel in
    the task closure."""
    import numpy as np

    Q = np.array([[int(x) for x in r["__q8"]] for r in q_rows], dtype=np.int64)
    qn = np.sqrt((Q * Q).sum(axis=1).astype(np.float64))
    lookup = _query_index(np.asarray([r["query_id"] for r in q_rows]))

    def score(pdf):
        V = np.stack(pdf["__c8"].to_numpy()).astype(np.int64, copy=False)
        qidx = lookup(pdf["query_id"].to_numpy())
        dots = (V * Q[qidx]).sum(axis=1)
        cn = np.sqrt((V * V).sum(axis=1).astype(np.float64))
        den = qn[qidx] * cn
        # zero-norm code vectors (every |x| < A/254) get an explicit
        # -2.0 sentinel — below any cosine, and identical on both
        # engines (Spark numpy would give -inf here but DuckDB turns
        # x/0.0 into NULL, whose DESC sort position is a config knob)
        return np.where(den > 0, dots.astype(np.float64) / den, -2.0)

    proj = cand.select("query_id", "neighbor_id", "__c8")
    return _partition_local_topk(proj, depth, score, "q_sim")


def l2_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k by squared L2 distance — the ground truth for the
    ADC/PQ diagnostics, which rank in L2 (cosine_topk's ground truth
    doesn't apply across metrics). Same two-phase shape as cosine_topk;
    self-matches are KEPT (distance 0, rank 1) to mirror PQ's corpus
    semantics. The prune reuses the cosine path by feeding it the
    negated distance (it keeps per-partition maxima)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("__qv")
    )
    c = spread_to_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("__cv")
    )
    if dim:
        # same left-assoc fold as the HOF form, codegen-unrolled; one
        # F.expr parse, not py4j per-term ops (see _dot_sql)
        dist: Column = F.expr(
            "0.0D + "
            + " + ".join(
                f"((element_at(__qv, {i}) - element_at(__cv, {i}))"
                f" * (element_at(__qv, {i}) - element_at(__cv, {i})))"
                for i in range(1, dim + 1)
            )
        )
    else:
        dist = F.aggregate(
            F.zip_with(F.col("__qv"), F.col("__cv"), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    scored = c.crossJoin(F.broadcast(q)).withColumn("cosine_sim", -dist)
    pruned = _partition_local_topk(scored, k)
    return _rank_topk(pruned, k).select(
        "query_id",
        "neighbor_id",
        (-F.col("cosine_sim")).alias("l2_sq"),
        "rank",
    )


def centroid_entries(
    corpus: DataFrame, id_col: str, vec_col: str, n_centroids: int
) -> list:
    """Deterministic IVF centroids — the ``n_centroids`` smallest-id corpus
    vectors — collected to the driver WITH their norms (norms computed by
    the same Spark expression used row-side, so literal-vs-column float
    behavior is identical)."""
    return (
        corpus.orderBy(F.col(id_col).asc())
        .limit(n_centroids)
        .select(
            F.col(id_col).alias("cid"),
            _as_double(F.col(vec_col)).alias("vec"),
            _norm(_as_double(F.col(vec_col))).alias("cnorm"),
        )
        .collect()
    )


def kmeans_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
    round_to: int = 6,
    train_sample_cap: int | None = 65536,
    sample_seed: int = 17,
) -> list:
    """Spherical k-means IVF training — the production upgrade over the
    deterministic first-k seed: ``iters`` Lloyd rounds of (assign every
    vector to its max-cosine centroid in the ``with_nearest_centroids``
    Arrow stage — zero corpus shuffle) then (recompute per-cluster
    element-wise means as ONE wide grouped aggregate: dim avg() columns
    over the assigned frame — map-side partials, one shuffle of k rows x
    dim columns, no posexplode row blow-up). Each round collects only k*dim doubles to
    the driver.

    TRAINING SAMPLE (r7 verdict item 4): when the corpus exceeds
    ``train_sample_cap`` rows, Lloyd rounds run over a deterministic
    hash-RANGE sample of ~cap vectors: one cheap corpus count sizes an
    integer threshold t = floor(2^20 * cap / n), and a row trains iff
    ``stable_hash64(seed|id) mod 2^20 < t`` — a stateless map-side
    filter, fully parallel, no sort and no single-node merge (the
    first-cut ``orderBy(hash).limit(cap)`` form was a
    TakeOrderedAndProject whose driver merge of partitions*cap array
    rows cost MORE than full-corpus training at 1M). Public FAISS
    practice trains coarse quantizers on a small sample (~tens of
    k-multiples of vectors, not the corpus) because centroid positions
    converge long before the millionth training point; the full corpus
    still gets ONE exact assignment pass downstream of training
    wherever the centroids are used. A corpus within the cap trains
    unsampled — bit-identical to the historical behavior (every
    registry oracle stays unchanged; the test tables are far below the
    cap). ``None`` disables sampling. Both the count and the hash
    filter are replayable in ANSI SQL, so sampled training remains
    oracle-checkable.

    Determinism/oracle notes: new centroids are ROUNDED to ``round_to``
    decimals so cross-engine ulp drift in the (order-sensitive) grouped
    mean cannot cascade into different assignments next round; empty
    clusters keep their previous centroid; centroid ids are re-keyed
    0..k-1. Returns entries consumable by ``with_nearest_centroids``."""
    import math

    from urban_traffic_data_lake_project_spark.functions import stable_hash64
    from urban_traffic_data_lake_project_spark.functions.concurrency import (
        overlap_jobs,
    )

    train = corpus
    sampled = False
    seed = None
    if train_sample_cap is not None:
        # Overlap the cap-check count with a SPECULATIVE unsampled seed
        # (guide §2.6) — but only in the small regime (input at or below
        # defaultParallelism splits, the clean_full_kernel guard): there
        # the two bounded jobs cost one latency instead of two, and a
        # mispredict (a small-split input still over the cap) wastes only
        # a cheap TakeOrdered over a bounded table. A 100 TB corpus has
        # thousands of splits, never speculates, and keeps today's
        # count-then-sampled-seed order — no full-corpus scan is ever
        # run at risk of being discarded.
        sc = corpus.sparkSession.sparkContext
        if corpus.rdd.getNumPartitions() <= sc.defaultParallelism:
            n_corpus, seed = overlap_jobs(
                lambda: corpus.select(id_col).count(),
                lambda: centroid_entries(corpus, id_col, vec_col, k),
            )
        else:
            n_corpus = corpus.select(id_col).count()
        if n_corpus > int(train_sample_cap):
            h = stable_hash64(
                F.concat_ws(
                    "|", F.lit(f"kmtrain{sample_seed}"), F.col(id_col).cast("string")
                )
            )
            m = 1 << 20
            t = (m * int(train_sample_cap)) // n_corpus
            train = corpus.filter(F.pmod(h, F.lit(m)) < F.lit(t))
            sampled = True
            seed = None  # the speculative unsampled seed does not apply

    if seed is None:
        seed = centroid_entries(train, id_col, vec_col, k)
    entries = [
        {"cid": i, "vec": [float(x) for x in r["vec"]], "cnorm": float(r["cnorm"])}
        for i, r in enumerate(seed)
    ]
    # NO spread_to_parallelism on the training frame (r13): the Lloyd
    # assignment is numpy-vectorized (microseconds per row), so on a
    # bounded single-split training set the round-robin exchange + 32-way
    # Arrow fan-out costs more than the parallelism buys — measured
    # 1.19-1.72 s/round with the spread vs 0.73-0.88 s without at sf0.1
    # (2 000 vectors), with bit-identical rounded means (round_to absorbs
    # the partial-sum order change, same as the cross-engine oracle
    # replay). At healthy split counts the spread was a no-op anyway, and
    # the sampled branch keeps the filter's inherited partitioning.
    v = train.select(
        _as_double(F.col(vec_col)).alias("__v")
    ).withColumn("__n", _norm(F.col("__v")))
    # Persist ONLY the sampled branch (r12 opt note: persisting the
    # unsampled small-corpus branch too was tried and REVERTED — the
    # memory-store materialization/unpersist churn repeated across the
    # family's many trainings, e.g. 1 IVF + m PQ codebooks per IVFPQ
    # query, measurably crept the family's bench minimums while the
    # single-query win stayed inside noise). The sampled branch keeps
    # the persist: there it saves a full-corpus re-scan plus the
    # hash-range filter per Lloyd round.
    persisted = sampled and iters > 1
    if persisted:
        v = v.persist()
    for _ in range(iters):
        assigned = with_nearest_centroids(v, "__v", "__n", entries, 1, "__cids").select(
            F.element_at("__cids", 1).alias("cid"), "__v"
        )
        dim = len(entries[0]["vec"])
        means = assigned.groupBy("cid").agg(
            *[
                F.expr(f"avg(element_at(__v, {i + 1}))").alias(f"m{i}")
                for i in range(dim)
            ]
        ).collect()
        by_cid = {
            int(r["cid"]): [round(float(r[f"m{i}"]), round_to) for i in range(dim)]
            for r in means
        }
        entries = [
            {
                "cid": e["cid"],
                "vec": by_cid.get(e["cid"], e["vec"]),
                "cnorm": math.sqrt(sum(x * x for x in by_cid.get(e["cid"], e["vec"]))),
            }
            for e in entries
        ]
    if persisted:
        v.unpersist()
    return entries


def _f(x) -> str:
    """A DOUBLE literal as SQL text. repr() is the shortest round-trip
    representation and Spark's parser reads it back to the identical
    IEEE-754 double (verified bitwise); the D suffix forces DoubleType
    (a bare decimal literal parses as DECIMAL). Parenthesized so
    negative values compose."""
    return f"({float(x)!r}D)"


def with_nearest_centroids(
    df: DataFrame,
    vec_col: str,
    norm_col: str,
    entries: list,
    top: int,
    out_col: str,
) -> DataFrame:
    """Adds ``out_col`` = array of the ``top`` nearest centroid ids (by
    cosine, ties to the smaller cid) for every row — a pure per-row
    computation against the driver-side ``entries`` list: zero joins,
    zero shuffles, so at 100 TB the corpus is scanned once and never
    repartitioned for assignment.

    One vectorized ``mapInPandas`` stage. Each Arrow batch computes all
    k dots as ``acc = acc + V[:, i] * c_i`` column sweeps — float64
    elementwise, seeded by the first term, left-assoc adds — one fixed
    order, so the DuckDB oracle replay hash-matches. Nothing is
    code-generated, so there is no janino 64 KB cliff at any k x dim.
    The Python stage is also a pushdown barrier, which is what the
    downstream join needs anyway (see cosine_topk_ivf).
    """
    import numpy as np

    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    # centroid ids inherit the corpus id type (they are seeded from
    # corpus rows): ints keep the historical int32 path bit-for-bit;
    # string ids sort/tie-break lexicographically
    int_cids = all(isinstance(e["cid"], (int, np.integer)) for e in entries)
    elem_type = IntegerType() if int_cids else StringType()
    if int_cids:
        ents = sorted(entries, key=lambda e: int(e["cid"]))
        cids = np.array([int(e["cid"]) for e in ents], dtype=np.int32)
    else:
        ents = sorted(entries, key=lambda e: str(e["cid"]))
        cids = np.asarray([str(e["cid"]) for e in ents])
    cvecs = [[float(x) for x in e["vec"]] for e in ents]
    cnorms = [float(e["cnorm"]) for e in ents]
    dim, k = len(cvecs[0]), len(ents)
    # fresh StructType: StructType.add MUTATES (and returns) self, which
    # would pollute the input DataFrame's cached schema object
    schema = StructType(
        list(df.schema.fields) + [StructField(out_col, ArrayType(elem_type), False)]
    )

    def assign(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64, copy=False)
            norms = pdf[norm_col].to_numpy(dtype=np.float64)
            neg = np.empty((n, k), dtype=np.float64)
            for j in range(k):
                cv = cvecs[j]
                # seeded by the FIRST term (not 0.0), left-assoc adds
                acc = V[:, 0] * cv[0]
                for i in range(1, dim):
                    acc = acc + V[:, i] * cv[i]
                neg[:, j] = -(acc / (norms * cnorms[j]))
            if top == 1:
                # argmin returns the FIRST minimum; columns are in
                # ascending-cid order, so ties break to the smaller cid
                picks = cids[np.argmin(neg, axis=1)][:, None]
            else:
                order = np.argsort(neg, axis=1, kind="stable")[:, :top]
                picks = cids[order]
            yield pdf.assign(**{out_col: list(picks)})

    return df.mapInPandas(assign, schema)


def _probes_table_from_rows(spark, q_rows: list, probed_schema) -> DataFrame:
    """(query_id, centroid_id) broadcast-probe table built DRIVER-SIDE from
    the already-collected probed rows (each carrying its ``__cids`` array)
    — the exact rows the in-plan ``explode("__cids")`` produced, without
    re-running the query-side assignment stage inside the scoring job.
    Closure-regime only: the probed rows are bounded by contract there,
    and the collect this feeds was already happening for the scorer's
    task closure (r13: the two uses now share ONE collect)."""
    from pyspark.sql.types import StructField, StructType

    schema = StructType(
        [
            StructField("query_id", probed_schema["query_id"].dataType),
            StructField(
                "centroid_id", probed_schema["__cids"].dataType.elementType
            ),
        ]
    )
    data = [(r["query_id"], c) for r in q_rows for c in r["__cids"]]
    # ONE slice: a bare createDataFrame(list) parallelizes into
    # defaultParallelism slices, so the broadcast build schedules 32 tiny
    # tasks for a handful of probe rows (measured ~2x the whole join's
    # steady-state time at sf0.1)
    rdd = spark.sparkContext.parallelize(data, 1)
    return spark.createDataFrame(rdd, schema)


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    train_iters: int = 0,
    query_regime: str = "auto",
    query_broadcast_budget: int = QUERY_BROADCAST_BUDGET,
) -> DataFrame:
    """Approximate top-k: IVF with deterministic centroids — the
    ``n_centroids`` smallest-id corpus vectors, optionally refined by
    ``train_iters`` spherical k-means rounds (``kmeans_centroids``), which
    tightens buckets and recall at the same probe budget. Centroid
    assignment is a per-row Arrow stage against the driver-side centroid
    list (zero shuffle of the corpus); each query probes only its ``nprobe``
    nearest centroid buckets via a broadcast join. At 100 TB the corpus is
    scanned once and never re-partitioned for assignment."""
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("__qv")
    ).withColumn("__qn", _norm(F.col("__qv")))

    def _entries():
        if train_iters > 0:
            return kmeans_centroids(
                corpus, id_col, vec_col, k=n_centroids, iters=train_iters
            )
        return centroid_entries(corpus, id_col, vec_col, n_centroids)

    # Regime switch (r10 verdict item 4, same auto-sizing pattern as
    # srp_choose_bands): "closure" driver-collects the query vectors and
    # ships them in the scorer's task closure — optimal while the query
    # set is bounded (the retrieval-eval regime); "join" keeps the query
    # side fully distributed and joins vectors onto candidates — the path
    # for corpus-sized query sets. "auto" counts the queries (one cheap
    # job) and picks by QUERY_BROADCAST_BUDGET. The count runs on the
    # PRE-probe projection (1:1 with the probed rows): Catalyst prunes
    # every column out of a bare count, so the centroid-distance
    # expressions never execute for the probe job (r11 verdict item 2).
    # The count has no dependency on the centroids, so it OVERLAPS the
    # centroid seed/training jobs (guide §2.6).
    if query_regime == "auto":
        from urban_traffic_data_lake_project_spark.functions.concurrency import (
            overlap_jobs,
        )

        entries, n_q = overlap_jobs(_entries, q.count)
        regime = "closure" if n_q <= query_broadcast_budget else "join"
    else:
        entries = _entries()
        regime = query_regime

    c = spread_to_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("__cv")
    ).withColumn("__cn", _norm(F.col("__cv")))
    # centroid_id is derived by exploding the 1-element assignment array.
    # The join below makes InferFiltersFromConstraints add
    # isnotnull(centroid_id) to this side; the Arrow assignment stage is a
    # predicate-pushdown barrier, so that filter stays a cheap reference
    # above it and never substitutes into the assignment itself.
    assigned = with_nearest_centroids(c, "__cv", "__cn", entries, 1, "__cids").select(
        "neighbor_id",
        "__cv",
        "__cn",
        F.explode("__cids").alias("centroid_id"),
    )

    probed = with_nearest_centroids(q, "__qv", "__qn", entries, nprobe, "__cids")
    dim = len(entries[0]["vec"])
    if regime == "closure":
        # bounded driver collect (queries are small by contract): the query
        # vectors+norms travel in the scorer's task closure, so the
        # broadcast probe table is (query_id, centroid_id) only and
        # candidate rows never carry a duplicated query vector. The probe
        # pairs ride the SAME collect (__cids) and the broadcast probe
        # table is rebuilt driver-side from them — one bounded job where
        # r12 ran the collect AND re-ran the query assignment inside the
        # scoring job's probe subtree (r13, guide §2.4 "share one pass").
        q_rows = probed.select("query_id", "__qv", "__qn", "__cids").collect()
        probes = _probes_table_from_rows(corpus.sparkSession, q_rows, probed.schema)

        # scoring + partition-local prune as ONE Arrow stage (see
        # _score_local_topk_arrow): bit-identical left-assoc dots, no 64 KB
        # codegen cliff, and the rank-window exchange still only carries
        # partitions*q*k survivor rows — probing already cut candidates to
        # ~nprobe/n_centroids of the corpus, the prune bounds the rest
        cand = assigned.join(F.broadcast(probes), "centroid_id").filter(
            F.col("neighbor_id") != F.col("query_id")
        )
        pruned = _score_local_topk_arrow(cand, _query_arrays(q_rows), k, dim)
    else:
        probes = probed.select("query_id", F.explode("__cids").alias("centroid_id"))
        # large-query regime: NO driver collect of the query side. The
        # probe table joins on centroid_id (AQE picks the strategy + skew
        # splits), then the query vectors join onto the candidates by
        # query_id and the same Arrow scorer reads them off the row
        # (queries=None) for the identical left-assoc dots.
        qv_tab = probed.select("query_id", "__qv", "__qn")
        cand = assigned.join(probes, "centroid_id").filter(
            F.col("neighbor_id") != F.col("query_id")
        )
        cand = cand.join(qv_tab, "query_id")
        pruned = _score_local_topk_arrow(cand, None, k, dim)
    return _rank_topk(pruned, k).select("query_id", "neighbor_id", "cosine_sim", "rank")


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the memory-side ANN compression: split each
# d-dim vector into m subvectors, quantize each against a per-subspace
# codebook of k centroids, store m small codes instead of d floats
# (64 floats -> 8 bytes at m=8/k<=256). Query-time ADC (asymmetric
# distance computation) scores compressed vectors against EXACT query
# subvectors through a per-query lookup table.
# ---------------------------------------------------------------------------


def pq_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
) -> list:
    """Deterministic PQ codebooks: the ``k`` lowest-id vectors' subvectors
    seed each subspace (same rule as the IVF centroid seed — replayable by
    the SQL oracle; production would Lloyd-refine per subspace exactly as
    ``kmeans_centroids`` does for IVF). Collects k vectors to the driver
    (orderBy+limit = TakeOrderedAndProject, bounded).

    Returns ``cb[j][c]`` = centroid ``c`` of subspace ``j`` (python lists
    of doubles, length d/m each)."""
    rows = (
        corpus.orderBy(id_col)
        .limit(k)
        .select(_as_double(F.col(vec_col)).alias("__v"))
        .collect()
    )
    vecs = [list(r["__v"]) for r in rows]
    d = len(vecs[0])
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    return [[v[j * sub : (j + 1) * sub] for v in vecs] for j in range(m)]


def pq_encode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list,
    codes_col: str = "codes",
) -> DataFrame:
    """Attach a PQ code array (one int per subspace) to every row — the
    per-subspace nearest-centroid argmin, NO join, NO shuffle: the whole
    encode rides the corpus scan. One vectorized mapInPandas stage with a
    left-assoc squared-distance fold per (subspace, centroid); nothing is
    code-generated, so there is no janino 64 KB limit at any m x k x sub.
    Ties go to the smaller code."""
    import numpy as np

    from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

    m = len(codebooks)
    sub = len(codebooks[0][0])
    cbs = [[[float(x) for x in cent] for cent in cb] for cb in codebooks]
    schema = StructType(
        list(df.schema.fields) + [StructField(codes_col, ArrayType(IntegerType()), False)]
    )

    def encode(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64, copy=False)
            codes = np.empty((n, m), dtype=np.int32)
            for j in range(m):
                base = j * sub
                dmat = np.empty((n, len(cbs[j])), dtype=np.float64)
                for c, cent in enumerate(cbs[j]):
                    # seeded by the first term, left-assoc adds, (x - c)^2
                    # per element, float64 elementwise
                    t = V[:, base] - cent[0]
                    acc = t * t
                    for i in range(1, sub):
                        t = V[:, base + i] - cent[i]
                        acc = acc + t * t
                    dmat[:, c] = acc
                # first minimum = smaller code on ties
                codes[:, j] = np.argmin(dmat, axis=1)
            yield pdf.assign(**{codes_col: list(codes)})

    return df.mapInPandas(encode, schema)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list,
    n_centroids: int = 16,
    nprobe: int = 4,
    k_top: int = 5,
) -> DataFrame:
    """IVF-PQ retrieval — the production ANN shape (FAISS ``IVFx,PQy``):
    a coarse quantizer buckets the corpus by nearest centroid, queries
    probe only their ``nprobe`` nearest buckets, and candidates are
    scored by ADC over m-byte PQ codes instead of d-float raw vectors.
    At corpus scale this multiplies the two savings the standalone
    operators provide separately: the probe join cuts candidates to
    ~nprobe/n_centroids of the corpus (``cosine_topk_ivf``), and each
    scored candidate touches only the code array and a literal LUT
    (``pq_adc_topk``) — the raw-vector column is never read past encode.

    Codes quantize the RAW vectors (not bucket residuals) so the
    per-subspace assignment stays replayable by the SQL oracle; residual
    encoding is the recall refinement a production system layers on top.

    Plan shape: zero corpus shuffles before the rank window — coarse
    assignment and PQ encode are per-row Arrow stages (a pushdown
    barrier under the bucket key), probes broadcast, the ADC
    distance is m map-free literal-array lookups, and the partition-local
    prune bounds the window exchange to partitions*q*k rows. Self-match
    is kept (distance 0) exactly like ``pq_adc_topk``; its bucket always
    probes first, so it is always a candidate."""
    from urban_traffic_data_lake_project_spark.functions.concurrency import (
        overlap_jobs,
    )

    m, sub = len(codebooks), len(codebooks[0][0])
    n_codes = len(codebooks[0])
    # the coarse-centroid seed and the bounded query collect (which feeds
    # only the driver-computed ADC LUTs) are data-independent: overlap
    # them (guide §2.6, r13) — same results, one job latency
    entries, q_rows = overlap_jobs(
        lambda: centroid_entries(corpus, id_col, vec_col, n_centroids),
        lambda: (
            queries.orderBy(id_col)
            .select(
                F.col(id_col).alias("__qid"), _as_double(F.col(vec_col)).alias("__qv")
            )
            .collect()
        ),
    )
    dim = len(entries[0]["vec"])

    c = spread_to_parallelism(corpus).select(
        F.col(id_col).alias("corpus_id"), _as_double(F.col(vec_col)).alias("__v")
    ).withColumn("__n", _norm("__v", dim))
    # the Arrow assignment stage keeps the join's inferred
    # isnotnull(centroid_id) above it (see cosine_topk_ivf)
    assigned = with_nearest_centroids(c, "__v", "__n", entries, 1, "__cids").select(
        "corpus_id", "__v", F.explode("__cids").alias("centroid_id")
    )
    enc = pq_encode(assigned, "corpus_id", "__v", codebooks, codes_col="__codes").select(
        "corpus_id", "centroid_id", "__codes"
    )

    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("__qv")
    ).withColumn("__qn", _norm("__qv", dim))
    probes = with_nearest_centroids(q, "__qv", "__qn", entries, nprobe, "__cids").select(
        "query_id", F.explode("__cids").alias("centroid_id")
    )

    # Per-(query, subspace, code) ADC LUT computed once on the driver from
    # the collected (bounded) query set (q_rows, overlapped with the seed
    # above), shipped as one literal map keyed by query_id — after the
    # bucket join each candidate row evaluates m element_at lookups; raw
    # query vectors never reach the corpus side.
    def lut_flat(qv: list) -> list:
        out = []
        for j in range(m):
            base = j * sub
            for cdx in range(n_codes):
                total = 0.0
                for i, cv in enumerate(codebooks[j][cdx]):
                    total += (qv[base + i] - float(cv)) ** 2
                out.append(total)
        return out

    # The LUT travels as a COLUMN of a broadcast per-query table, not as
    # a literal map: CollapseProject inlines a `lut_map[query_id]` alias
    # into every one of the m ADC terms, re-running the map lookup (and
    # re-materializing the m*k-double array) m times per candidate row —
    # measured 5.2 s vs 2.75 s for the residual variant at sf0.1 before
    # this; the broadcast-column form does zero per-row lookups.
    lut_df = corpus.sparkSession.createDataFrame(
        [(int(r["__qid"]), lut_flat(list(r["__qv"]))) for r in q_rows],
        "query_id long, __lut array<double>",
    )
    cand = enc.join(F.broadcast(probes), "centroid_id").join(
        F.broadcast(lut_df), "query_id"
    )
    dist = None
    for j in range(m):
        term = F.element_at(F.col("__lut"), F.lit(j * n_codes + 1) + F.col("__codes")[j])
        dist = term if dist is None else dist + term
    scored = cand.select(
        "query_id",
        F.col("corpus_id").alias("neighbor_id"),
        (-F.round(dist, 6)).alias("cosine_sim"),
    )
    pruned = _partition_local_topk(scored, k_top)
    return _rank_topk(pruned, k_top).select(
        "query_id",
        F.col("neighbor_id").alias("corpus_id"),
        (-F.col("cosine_sim")).alias("adc_dist"),
        "rank",
    )


def ivfpq_residual_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int = 16,
    m: int = 8,
    k_codes: int = 16,
    nprobe: int = 4,
    k_top: int = 5,
) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding — the full production recipe
    (FAISS ``IVFx,PQy`` trains PQ on r = v - c_assigned, not on raw
    vectors): residuals cluster tightly around zero, so the same code
    budget spends its resolution on the within-bucket detail that
    actually distinguishes neighbors, recovering most of the recall the
    raw-vector variant (``ivfpq_topk``) loses to coarse quantization.

    Query-time ADC must then be PER-PROBED-BUCKET: the query's residual
    against each probed centroid feeds its own lookup table, keyed here
    by (query_id, centroid_id) in one literal map — candidates still
    evaluate m array lookups and never see a raw query vector.

    Same scale posture as ``ivfpq_topk``: assignment, residual, and
    encode are per-row projections over one corpus scan (the residual is
    an unrolled subtract against a literal centroid map — codegen, no
    HOF), probes broadcast, partition-local prune before the bounded
    rank window. Codebooks seed from the ``k_codes`` lowest-id vectors'
    RESIDUAL subvectors (the deterministic seed rule the SQL oracle
    replays; production would Lloyd-refine per subspace)."""
    from urban_traffic_data_lake_project_spark.functions.concurrency import (
        overlap_jobs,
    )

    # the centroid seed and the bounded raw-query collect (which feeds
    # only the driver-computed per-bucket LUTs) are data-independent:
    # overlap them (guide §2.6, r13)
    entries, q_raw = overlap_jobs(
        lambda: centroid_entries(corpus, id_col, vec_col, n_centroids),
        lambda: (
            queries.select(
                F.col(id_col).alias("query_id"),
                _as_double(F.col(vec_col)).alias("__qv"),
            ).collect()
        ),
    )
    dim = len(entries[0]["vec"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m

    c = spread_to_parallelism(corpus).select(
        F.col(id_col).alias("corpus_id"), _as_double(F.col(vec_col)).alias("__v")
    ).withColumn("__n", _norm("__v", dim))
    assigned = with_nearest_centroids(c, "__v", "__n", entries, 1, "__cids").select(
        "corpus_id", "__v", F.explode("__cids").alias("centroid_id")
    )
    # residual r = v - c_assigned: literal centroid map -> one unrolled
    # subtract (codegen; a zip_with here would be an interpreted island)
    cent_map = (
        "map("
        + ", ".join(
            f"{int(e['cid'])}, array({', '.join(_f(x) for x in e['vec'])})"
            for e in entries
        )
        + ")"
    )
    resid = assigned.withColumn("__c", F.expr(f"element_at({cent_map}, centroid_id)")).withColumn(
        "__r",
        F.expr(
            "array("
            + ", ".join(f"__v[{i}] - __c[{i}]" for i in range(dim))
            + ")"
        ),
    ).select("corpus_id", "centroid_id", "__r")

    # Codebook seeds DRIVER-SIDE: the seed rule is "the k_codes lowest-id
    # vectors' residual subvectors", and those vectors are already in
    # hand (entries; one bounded RAW collect if k_codes > n_centroids).
    # Replaying their assignment + residual in Python — same left-assoc
    # dots, same (neg_sim, cid) tie order, correctly-rounded sqrt — is
    # bit-identical to the Spark expressions, and avoids the FULL corpus
    # assignment+residual pass that `pq_codebooks(resid, ...)` ran just
    # to harvest k_codes rows (measured ~1/3 of the 1M-vector stress).
    import math

    cent_by_id = {int(e["cid"]): e["vec"] for e in entries}
    if k_codes <= len(entries):
        seeds = [(list(e["vec"]), float(e["cnorm"])) for e in entries[:k_codes]]
    else:
        raw = (
            corpus.orderBy(F.col(id_col).asc())
            .limit(k_codes)
            .select(_as_double(F.col(vec_col)).alias("__v"))
            .collect()
        )
        seeds = []
        for r in raw:
            vv = list(r["__v"])
            acc = vv[0] * vv[0]
            for x in vv[1:]:
                acc += x * x
            seeds.append((vv, math.sqrt(acc)))

    def _assign_py(vv: list, nv: float) -> int:
        best = None
        for e in entries:
            cvec = e["vec"]
            d = vv[0] * float(cvec[0])
            for i in range(1, dim):
                d += vv[i] * float(cvec[i])
            key = (-(d / (nv * float(e["cnorm"]))), int(e["cid"]))
            if best is None or key < best:
                best = key
        return best[1]

    seed_resid = []
    for vv, nv in seeds:
        ct = cent_by_id[_assign_py(vv, nv)]
        seed_resid.append([vv[i] - float(ct[i]) for i in range(dim)])
    codebooks = [
        [rv[j * sub : (j + 1) * sub] for rv in seed_resid] for j in range(m)
    ]

    enc = pq_encode(resid, "corpus_id", "__r", codebooks, codes_col="__codes").select(
        "corpus_id", "centroid_id", "__codes"
    )

    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("__qv")
    ).withColumn("__qn", _norm("__qv", dim))
    probes = with_nearest_centroids(q, "__qv", "__qn", entries, nprobe, "__cids").select(
        "query_id", F.explode("__cids").alias("centroid_id")
    )

    # per-(query, probed bucket) ADC LUT from the collected (bounded)
    # query set (q_raw, overlapped with the seed above) + probe list;
    # Python's IEEE doubles and left-assoc sums are bit-identical to the
    # SQL replay
    q_rows = {int(r["query_id"]): list(r["__qv"]) for r in q_raw}
    probe_rows = probes.collect()

    def lut_flat(qv: list, ctv: list) -> list:
        qr = [qv[i] - float(ctv[i]) for i in range(dim)]
        out = []
        for j in range(m):
            base = j * sub
            for cdx in range(k_codes):
                total = 0.0
                for i, cv in enumerate(codebooks[j][cdx]):
                    total += (qr[base + i] - float(cv)) ** 2
                out.append(total)
        return out

    # The LUT travels as a COLUMN of the broadcast probes table, not as a
    # string-keyed literal map: the map form cost O(|probes|) string
    # compares per lookup, and CollapseProject inlined the lookup into
    # every one of the m ADC terms (measured 49.6 s for the 1M-vector
    # stress; the broadcast-column form does zero per-row lookups).
    probes_lut = corpus.sparkSession.createDataFrame(
        [
            (
                int(r["query_id"]),
                int(r["centroid_id"]),
                lut_flat(q_rows[int(r["query_id"])], cent_by_id[int(r["centroid_id"])]),
            )
            for r in probe_rows
        ],
        "query_id long, centroid_id int, __lut array<double>",
    )
    cand = enc.join(F.broadcast(probes_lut), "centroid_id")
    dist = None
    for j in range(m):
        term = F.element_at(F.col("__lut"), F.lit(j * k_codes + 1) + F.col("__codes")[j])
        dist = term if dist is None else dist + term
    scored = cand.select(
        "query_id",
        F.col("corpus_id").alias("neighbor_id"),
        (-F.round(dist, 6)).alias("cosine_sim"),
    )
    pruned = _partition_local_topk(scored, k_top)
    return _rank_topk(pruned, k_top).select(
        "query_id",
        F.col("neighbor_id").alias("corpus_id"),
        (-F.col("cosine_sim")).alias("adc_dist"),
        "rank",
    )


def pq_reconstruction_mse(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list,
    codes_col: str = "codes",
) -> DataFrame:
    """Per-vector quantization distortion: mean over dimensions of the
    squared gap between the vector and its codebook reconstruction.
    One vectorized mapInPandas stage over the encoded frame (no shuffle)
    emits the raw squared-gap sum: per subspace, gather each row's
    assigned centroid and fold (x - c)^2 left-assoc from the first term,
    then add the subspace sums left to right. ``code_str`` and the
    division + 6-dp rounding stay in Spark (HALF_UP ``round``)."""
    import numpy as np

    from pyspark.sql.types import DoubleType, StructField, StructType

    m, sub = len(codebooks), len(codebooks[0][0])
    d = m * sub
    cbs = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    acc = "__mse_acc"
    schema = StructType(
        [df.schema[id_col], df.schema[codes_col], StructField(acc, DoubleType(), False)]
    )

    def distortion(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64, copy=False)
            codes = np.stack(pdf[codes_col].to_numpy())
            total = None
            for j in range(m):
                base = j * sub
                cent = cbs[j][codes[:, j]]  # (n, sub) assigned centroids
                t = V[:, base] - cent[:, 0]
                s = t * t
                for i in range(1, sub):
                    t = V[:, base + i] - cent[:, i]
                    s = s + t * t
                total = s if total is None else total + s
            yield pdf[[id_col, codes_col]].assign(**{acc: total})

    summed = df.select(id_col, vec_col, codes_col).mapInPandas(distortion, schema)
    return summed.select(
        F.col(id_col),
        F.concat_ws(",", F.transform(F.col(codes_col), lambda x: x.cast("string"))).alias(
            "code_str"
        ),
        F.round(F.col(acc) / F.lit(float(d)), 6).alias("mse"),
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list,
    k_top: int = 5,
) -> DataFrame:
    """ADC top-k: score every (query, corpus) pair as the sum over
    subspaces of ||q_sub - centroid[code]||^2, where the per-(query,
    subspace, centroid) distances form a LUT computed ONCE on the driver
    from the collected (bounded) query set. The corpus side therefore
    never touches raw query vectors — each candidate row evaluates m
    ``element_at`` lookups against the LUT, the PQ promise that makes
    compressed scans cheap. Ranking is per-query partition-local top-k
    first (bounded pre-prune), then the global rank window sees only the
    pruned candidates.

    The LUT travels as a COLUMN of a broadcast per-query table (the
    ``ivfpq_topk`` idiom), attached by a deliberate broadcast
    nested-loop join (|queries| rows — every corpus vector pairs with
    every query by definition of exact ADC). The previous delivery —
    per-query literal structs in the projections — put m*k literal
    doubles per query into the generated code (janino 64 KB hazard,
    ~1 MB of plan text at 10 queries);
    the broadcast-column form has none of that and is plan-size O(1) in
    the query count."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    n_codes = len(codebooks[0])
    q_rows = (
        queries.orderBy(id_col)
        .select(F.col(id_col).alias("__qid"), _as_double(F.col(vec_col)).alias("__qv"))
        .collect()
    )
    enc = pq_encode(corpus, id_col, vec_col, codebooks, codes_col="__codes")

    def lut_flat(qv: list) -> list:
        out = []
        for j in range(m):
            base = j * sub
            for cdx in range(n_codes):
                total = 0.0
                for i, cv in enumerate(codebooks[j][cdx]):
                    total += (qv[base + i] - float(cv)) ** 2
                out.append(total)
        return out

    lut_df = corpus.sparkSession.createDataFrame(
        [(int(r["__qid"]), lut_flat(list(r["__qv"]))) for r in q_rows],
        "query_id long, __lut array<double>",
    )
    cand = enc.select(F.col(id_col).alias("neighbor_id"), "__codes").crossJoin(
        F.broadcast(lut_df)
    )
    dist = None
    for j in range(m):
        term = F.element_at(F.col("__lut"), F.lit(j * n_codes + 1) + F.col("__codes")[j])
        dist = term if dist is None else dist + term
    # _partition_local_topk's contract is (query_id, neighbor_id,
    # cosine_sim DESC); negated distance satisfies it (same tie rule)
    scored = cand.select(
        "query_id",
        "neighbor_id",
        (-F.round(dist, 6)).alias("cosine_sim"),
    )
    pruned = _partition_local_topk(scored, k_top)
    return _rank_topk(pruned, k_top).select(
        "query_id",
        F.col("neighbor_id").alias("corpus_id"),
        (-F.col("cosine_sim")).alias("adc_dist"),
        "rank",
    )


def build_ivf_index(
    corpus: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    train_iters: int = 0,
    meta_cols: tuple = (),
) -> list:
    """Build and PERSIST an IVF index — the "index once, query many"
    production shape ``cosine_topk_ivf`` recomputes per call:

    - postings: one parquet table PARTITIONED BY centroid_id, carrying
      (neighbor_id, vector, norm). Norms are computed ONCE at build time
      with the same expression the live path uses and round-trip exactly
      through parquet doubles, so a query against the index is
      bit-identical to a query against the live corpus.
    - centroids: a JSON sidecar (k * dim doubles — the whole trained
      model, exactly like the DSIR LUT this engine ships as literals).

    At 100 TB the build is the same single corpus scan + zero-shuffle
    assignment as the live path plus one partitioned write; every later
    query skips corpus assignment entirely and reads ONLY its probed
    partitions (real partition pruning — see ``query_ivf_index``)."""
    import json
    import os

    if train_iters > 0:
        entries = kmeans_centroids(
            corpus, id_col, vec_col, k=n_centroids, iters=train_iters
        )
    else:
        entries = centroid_entries(corpus, id_col, vec_col, n_centroids)
    # meta_cols ride the postings row (label/domain/source/timestamp —
    # whatever query-time predicates need): FILTERED vector search then
    # pushes the predicate into the postings scan instead of post-
    # filtering scored results (see query_ivf_index(where=...))
    c = spread_to_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        *meta_cols,
        _as_double(F.col(vec_col)).alias("vec"),
    ).withColumn("norm", _norm(F.col("vec")))
    assigned = with_nearest_centroids(c, "vec", "norm", entries, 1, "__cids").select(
        "neighbor_id", *meta_cols, "vec", "norm",
        F.explode("__cids").alias("centroid_id"),
    )
    # One shuffle on centroid_id before the partitioned write — paid
    # deliberately at build time: (1) each bucket becomes ONE file per
    # reducer instead of tasks x buckets small files; (2) the write's
    # partition sort lands in its own post-exchange stage — fused with
    # the assignment projection it put sort_addToSorter over janino's
    # 64 KB method limit (observed compile failure -> silent interpreted
    # write at 16 centroids x dim 64). ingest_batch=-1 marks the base
    # build; append_ivf_index lands appends under ingest_batch=0.
    assigned.withColumn("ingest_batch", F.lit(-1)).repartition(
        "centroid_id"
    ).write.mode("overwrite").partitionBy("centroid_id", "ingest_batch").parquet(
        os.path.join(index_dir, "postings")
    )
    with open(os.path.join(index_dir, "centroids.json"), "w") as f:
        json.dump(
            [
                {
                    "cid": int(e["cid"]),
                    "vec": [float(x) for x in e["vec"]],
                    "cnorm": float(e["cnorm"]),
                }
                for e in entries
            ],
            f,
        )
    return entries


def query_ivf_index(
    spark,
    index_dir: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 4,
    where: str | None = None,
    query_regime: str = "auto",
    query_broadcast_budget: int = QUERY_BROADCAST_BUDGET,
) -> DataFrame:
    """Query a persisted IVF index (``build_ivf_index``): probe selection
    against the sidecar centroids, then a scan of ONLY the probed
    partitions — the centroid_id IN (...) predicate lands in the parquet
    scan's PartitionFilters (plan-asserted in tests), so a 32-bucket
    index with nprobe=4 reads ~1/8 of the postings bytes; non-probed
    buckets are never opened. Scoring/prune/rank identical to the live
    ``cosine_topk_ivf`` — same expressions, same results, including the
    closure/join ``query_regime`` switch (the probed-bucket id collect is
    bounded by n_centroids in EITHER regime, so partition pruning is kept
    for corpus-sized query sets too)."""
    import json
    import os

    with open(os.path.join(index_dir, "centroids.json")) as f:
        entries = json.load(f)
    dim = len(entries[0]["vec"])

    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("__qv")
    ).withColumn("__qn", _norm(F.col("__qv")))
    probed_df = with_nearest_centroids(q, "__qv", "__qn", entries, nprobe, "__cids")
    # regime probe counts the pre-assignment projection — 1:1 row count,
    # zero centroid-distance work (r11 verdict item 2)
    if query_regime == "auto":
        regime = "closure" if q.count() <= query_broadcast_budget else "join"
    else:
        regime = query_regime

    def _postings(probed_cids: list):
        p = spark.read.parquet(os.path.join(index_dir, "postings")).filter(
            F.col("centroid_id").isin(probed_cids)
        )
        if where:
            # FILTERED vector search: the metadata predicate applies to the
            # postings SCAN (PushedFilters — row groups of non-matching
            # metadata are skipped via footer stats), so at 100 TB the
            # filter prunes bytes read, not just scored candidates; recall
            # within the filtered slice is exact for the probed buckets
            p = p.filter(F.expr(where))
        return p

    if regime == "closure":
        # ONE bounded driver collect (r13): the query vectors ride the
        # scorer's closure, the probe pairs AND the partition-pruning
        # bucket list derive from the same collected __cids rows — where
        # r12 ran a distinct-collect job for the bucket list plus this
        # collect plus an in-plan re-assignment for the probe table
        q_rows = probed_df.select("query_id", "__qv", "__qn", "__cids").collect()
        probed = sorted({int(c) for r in q_rows for c in r["__cids"]})
        probes = _probes_table_from_rows(spark, q_rows, probed_df.schema)
        cand = _postings(probed).join(F.broadcast(probes), "centroid_id").filter(
            F.col("neighbor_id") != F.col("query_id")
        )
        pruned = _score_local_topk_arrow(
            cand, _query_arrays(q_rows), k, dim, "vec", "norm"
        )
    else:
        # large-query regime: query vectors join onto the probed postings;
        # nothing query-sized is driver-collected (the scorer reads the
        # query side off the row, queries=None) — only the bounded distinct
        # bucket list (<= n_centroids rows in either regime)
        probes = probed_df.select(
            "query_id", F.explode("__cids").alias("centroid_id")
        )
        probed = sorted(
            int(r["centroid_id"])
            for r in probes.select("centroid_id").distinct().collect()
        )
        qv_tab = probed_df.select("query_id", "__qv", "__qn")
        cand = _postings(probed).join(probes, "centroid_id").filter(
            F.col("neighbor_id") != F.col("query_id")
        )
        cand = cand.join(qv_tab, "query_id")
        pruned = _score_local_topk_arrow(cand, None, k, dim, "vec", "norm")
    return _rank_topk(pruned, k).select("query_id", "neighbor_id", "cosine_sim", "rank")


def append_ivf_index(
    new_batch: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incrementally maintain a persisted IVF index: assign ONLY the new
    batch against the frozen sidecar centroids (no retrain, no recluster,
    no touch of existing postings) and append it under the
    ``ingest_batch=0`` partitions. Cost is O(batch) regardless of index
    size — the production ingest path; periodic re-train/re-build
    handles centroid drift."""
    import json
    import os

    with open(os.path.join(index_dir, "centroids.json")) as f:
        entries = json.load(f)
    c = spread_to_parallelism(new_batch).select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("vec")
    ).withColumn("norm", _norm(F.col("vec")))
    assigned = with_nearest_centroids(c, "vec", "norm", entries, 1, "__cids").select(
        "neighbor_id", "vec", "norm", F.explode("__cids").alias("centroid_id")
    )
    (
        assigned.withColumn("ingest_batch", F.lit(0))
        .repartition("centroid_id")
        .write.mode("append")
        .partitionBy("centroid_id", "ingest_batch")
        .parquet(os.path.join(index_dir, "postings"))
    )


def build_ivfpq_index(
    corpus: DataFrame,
    index_dir: str,
    codebooks: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    train_iters: int = 0,
    meta_cols: tuple = (),
) -> list:
    """Build and persist the COMPRESSED index — IVF postings that store
    m PQ codes per vector instead of the raw floats (64 float32 -> 8
    small ints at m=8: the representation that makes a 100 TB corpus's
    index fit a fraction of the footprint). Layout mirrors
    ``build_ivf_index`` (postings partitioned by (centroid_id,
    ingest_batch); centroid + codebook JSON sidecars), and queries run
    ADC over the codes — raw vectors never need to be read again.

    ``train_iters > 0`` refines the coarse quantizer with that many
    spherical k-means rounds (``kmeans_centroids``) before assignment —
    the production FAISS ``IVFx,PQy`` shape trains the coarse level too
    (the deterministic first-k seed is the oracle-replayable default);
    ``build_ivf_index`` has had the same dial since r6 (ADVICE parity)."""
    import json
    import os

    if train_iters > 0:
        entries = kmeans_centroids(
            corpus, id_col, vec_col, k=n_centroids, iters=train_iters
        )
    else:
        entries = centroid_entries(corpus, id_col, vec_col, n_centroids)
    # meta_cols ride the postings row (label/domain/source — whatever
    # query-time predicates need), exactly like build_ivf_index: FILTERED
    # compressed search then pushes the predicate into the postings scan
    # (see query_ivfpq_index(where=...))
    c = spread_to_parallelism(corpus).select(
        F.col(id_col).alias("corpus_id"),
        *meta_cols,
        _as_double(F.col(vec_col)).alias("__v"),
    ).withColumn("__n", _norm(F.col("__v")))
    assigned = with_nearest_centroids(c, "__v", "__n", entries, 1, "__cids").select(
        "corpus_id", *meta_cols, "__v", F.explode("__cids").alias("centroid_id")
    )
    enc = pq_encode(assigned, "corpus_id", "__v", codebooks, codes_col="codes").select(
        "corpus_id", *meta_cols, "centroid_id", "codes"
    )
    enc.withColumn("ingest_batch", F.lit(-1)).repartition(
        "centroid_id"
    ).write.mode("overwrite").partitionBy("centroid_id", "ingest_batch").parquet(
        os.path.join(index_dir, "postings")
    )
    with open(os.path.join(index_dir, "centroids.json"), "w") as f:
        json.dump(
            [
                {"cid": int(e["cid"]), "vec": [float(x) for x in e["vec"]],
                 "cnorm": float(e["cnorm"])}
                for e in entries
            ],
            f,
        )
    with open(os.path.join(index_dir, "codebooks.json"), "w") as f:
        json.dump(
            [[[float(x) for x in cent] for cent in sub] for sub in codebooks], f
        )
    return entries


def query_ivfpq_index(
    spark,
    index_dir: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 4,
    k_top: int = 5,
    where: str | None = None,
) -> DataFrame:
    """Query the compressed persisted index: probe the sidecar
    centroids, scan ONLY the probed postings partitions (the codes are
    all that's read — the scan is both partition-pruned AND narrow), and
    score by ADC with per-query LUTs shipped as a broadcast column —
    arithmetic identical to the live ``ivfpq_topk``, so results are
    bit-identical to a fresh run over the raw corpus.

    ``where`` filters on metadata columns persisted at build time
    (``build_ivfpq_index(meta_cols=...)``); applied directly to the
    postings scan so it lands in PushedFilters — bytes are pruned
    BEFORE any ADC arithmetic, same shape as ``query_ivf_index``."""
    import json
    import os

    with open(os.path.join(index_dir, "centroids.json")) as f:
        entries = json.load(f)
    with open(os.path.join(index_dir, "codebooks.json")) as f:
        codebooks = json.load(f)
    m, sub = len(codebooks), len(codebooks[0][0])
    n_codes = len(codebooks[0])

    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("__qv")
    ).withColumn("__qn", _norm(F.col("__qv")))
    probed_df = with_nearest_centroids(q, "__qv", "__qn", entries, nprobe, "__cids")
    # ONE bounded collect (r13): query vectors (for the driver LUTs), the
    # probe pairs, and the partition-pruning bucket list all derive from
    # the same collected rows — r12 ran a distinct-collect job plus a
    # separate ordered query collect
    q_rows = probed_df.select("query_id", "__qv", "__cids").collect()
    probed = sorted({int(c) for r in q_rows for c in r["__cids"]})
    probes = _probes_table_from_rows(spark, q_rows, probed_df.schema)

    def lut_flat(qv: list) -> list:
        out = []
        for j in range(m):
            base = j * sub
            for cdx in range(n_codes):
                total = 0.0
                for i, cv in enumerate(codebooks[j][cdx]):
                    total += (qv[base + i] - float(cv)) ** 2
                out.append(total)
        return out

    lut_df = spark.createDataFrame(
        [(int(r["query_id"]), lut_flat(list(r["__qv"]))) for r in q_rows],
        "query_id long, __lut array<double>",
    )
    postings = spark.read.parquet(os.path.join(index_dir, "postings")).filter(
        F.col("centroid_id").isin(probed)
    )
    if where is not None:
        postings = postings.filter(F.expr(where))
    cand = postings.join(F.broadcast(probes), "centroid_id").join(
        F.broadcast(lut_df), "query_id"
    )
    dist = None
    for j in range(m):
        term = F.element_at(F.col("__lut"), F.lit(j * n_codes + 1) + F.col("codes")[j])
        dist = term if dist is None else dist + term
    scored = cand.select(
        "query_id",
        F.col("corpus_id").alias("neighbor_id"),
        (-F.round(dist, 6)).alias("cosine_sim"),
    )
    pruned = _partition_local_topk(scored, k_top)
    return _rank_topk(pruned, k_top).select(
        "query_id",
        F.col("neighbor_id").alias("corpus_id"),
        (-F.col("cosine_sim")).alias("adc_dist"),
        "rank",
    )


def build_int8_index(
    corpus: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    train_iters: int = 0,
    meta_cols: tuple = (),
) -> list:
    """Build and persist the scalar-quantized index: IVF postings carrying
    the int8 codes NEXT TO the raw vectors, plus the global max-abs scale
    in a JSON sidecar. This moves ``cosine_topk_ivf_int8_rerank``'s one
    per-call full-corpus aggregate (the max-abs scale fit,
    r8 verdict item 5) to build time: a query against the index touches
    ONLY its probed partitions — screen reads just (ids, codes) via
    column pruning, the exact rerank re-reads (ids, vec) for the bounded
    survivor join — and never re-aggregates the corpus.

    Layout mirrors ``build_ivf_index`` (postings partitioned by
    (centroid_id, ingest_batch); sidecars ``centroids.json`` +
    ``int8.json``); ``meta_cols`` ride the postings rows so filtered
    search pushes predicates into the scan."""
    import json
    import os

    if train_iters > 0:
        entries = kmeans_centroids(
            corpus, id_col, vec_col, k=n_centroids, iters=train_iters
        )
    else:
        entries = centroid_entries(corpus, id_col, vec_col, n_centroids)
    c = spread_to_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        *meta_cols,
        _as_double(F.col(vec_col)).alias("vec"),
    ).withColumn("norm", _norm(F.col("vec")))
    # the global symmetric scale: ONE corpus aggregate, paid here at
    # build time instead of once per query (empty corpus -> NULL -> 1.0)
    a_row = c.agg(
        F.max(F.array_max(F.transform("vec", lambda x: F.abs(x)))).alias("a")
    ).collect()[0]
    scale = float(a_row["a"]) if a_row["a"] is not None else 1.0
    scale = scale or 1.0
    q8 = lambda v: F.transform(  # noqa: E731
        v, lambda x: F.floor(x * 127.0 / F.lit(scale) + 0.5).cast("long")
    )
    assigned = with_nearest_centroids(c, "vec", "norm", entries, 1, "__cids").select(
        "neighbor_id",
        *meta_cols,
        "vec",
        "norm",
        q8(F.col("vec")).alias("c8"),
        F.explode("__cids").alias("centroid_id"),
    )
    assigned.withColumn("ingest_batch", F.lit(-1)).repartition(
        "centroid_id"
    ).write.mode("overwrite").partitionBy("centroid_id", "ingest_batch").parquet(
        os.path.join(index_dir, "postings")
    )
    with open(os.path.join(index_dir, "centroids.json"), "w") as f:
        json.dump(
            [
                {"cid": int(e["cid"]), "vec": [float(x) for x in e["vec"]],
                 "cnorm": float(e["cnorm"])}
                for e in entries
            ],
            f,
        )
    # float repr round-trips exactly through json, so query-time
    # quantization is bit-identical to build-time
    with open(os.path.join(index_dir, "int8.json"), "w") as f:
        json.dump({"scale": scale}, f)
    return entries


def query_int8_index(
    spark,
    index_dir: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 4,
    depth: int = 50,
    where: str | None = None,
) -> DataFrame:
    """Query the persisted int8 index: probe the sidecar centroids, run
    the integer-exact quantized screen over ONLY the probed postings
    partitions (scan reads just ids + codes — partition-pruned AND
    narrow), then the exact full-precision rerank over the bounded
    q*depth survivors (a second probed-partition scan of ids + vec).
    Arithmetic identical to the live ``cosine_topk_ivf_int8_rerank``
    minus the per-call scale aggregate — the scale comes from the
    sidecar, so NO full-corpus pass happens at query time (plan-asserted
    in tests). ``where`` filters on metadata persisted at build time,
    pushed into both postings scans."""
    import json
    import os

    with open(os.path.join(index_dir, "centroids.json")) as f:
        entries = json.load(f)
    with open(os.path.join(index_dir, "int8.json")) as f:
        scale = float(json.load(f)["scale"])
    dim = len(entries[0]["vec"])

    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("__qv")
    ).withColumn("__qn", _norm(F.col("__qv")))
    probed_df = with_nearest_centroids(q, "__qv", "__qn", entries, nprobe, "__cids")
    q8 = lambda v: F.transform(  # noqa: E731
        v, lambda x: F.floor(x * 127.0 / F.lit(scale) + 0.5).cast("long")
    )
    # ONE bounded collect (r13): the quantized query codes travel in the
    # screen's closure; the probe pairs and the partition-pruning bucket
    # list derive from the same collected __cids rows (r12 ran a separate
    # distinct-collect job and re-ran the query assignment in-plan)
    q_rows = probed_df.select(
        "query_id", q8(F.col("__qv")).alias("__q8"), "__cids"
    ).collect()
    probed = sorted({int(c) for r in q_rows for c in r["__cids"]})
    probes = _probes_table_from_rows(spark, q_rows, probed_df.schema)

    def postings_scan():
        p = spark.read.parquet(os.path.join(index_dir, "postings")).filter(
            F.col("centroid_id").isin(probed)
        )
        return p.filter(F.expr(where)) if where else p

    cand = (
        postings_scan()
        .select("neighbor_id", F.col("c8").alias("__c8"), "centroid_id")
        .join(F.broadcast(probes), "centroid_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    screened = _score_local_topk_int8_arrow(cand, q_rows, depth)
    survivors = _rank_topk(screened, depth, "q_sim", "__qrank").select(
        "query_id", "neighbor_id"
    )

    rerank = (
        postings_scan()
        .select("neighbor_id", F.col("vec").alias("__cv"))
        .join(F.broadcast(survivors), "neighbor_id")
        .join(F.broadcast(q.select("query_id", "__qv")), "query_id")
        .withColumn(
            "cosine_sim",
            _dot("__qv", "__cv", dim) / (_norm("__qv", dim) * _norm("__cv", dim)),
        )
    )
    return _rank_topk(rerank, k).select("query_id", "neighbor_id", "cosine_sim", "rank")
