"""Benchmark/eval-set decontamination (BASELINE.json north star: the
training-data pipeline op every LLM corpus build runs before training —
absent from the reference, whose pipeline stops at keyed dedup).

Semantics: a training document is *contaminated* when it shares at least
one word n-gram with any document in the evaluation/benchmark set. The
standard production recipe (e.g. GPT-3 appendix C, PaLM §7) uses 8-13-gram
overlap; ``n`` is a parameter because the right value depends on document
length.

Scale shape (the part that matters at 100 TB):
- The eval set is always tiny relative to the corpus (thousands of
  benchmark documents vs billions of training documents), so its distinct
  n-gram set is broadcast — the corpus-side membership test is a map-side
  ``left_semi`` broadcast join: NO shuffle of the training corpus.
- The only shuffle is the per-document hit-count re-aggregation, keyed on
  the document id (partial counts map-side first).
- Everything is built-in expressions over ``shingle_table``; no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from urban_traffic_data_lake_project_spark.operators.dedup import shingle_table


def eval_ngram_set(eval_df: DataFrame, id_col: str, text_col: str, n: int = 8) -> DataFrame:
    """The distinct word n-grams of the eval/benchmark corpus — the
    blocklist side of the decontamination join. Small by construction;
    callers broadcast it."""
    return shingle_table(eval_df, id_col, text_col, n).select("shingle").distinct()


def ngram_overlap_flags(
    train_df: DataFrame,
    eval_ngrams: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
) -> DataFrame:
    """Per training document: how many of its distinct n-grams appear in
    the eval set, and whether it survives (``keep`` = zero overlap).

    Returns (id, n_eval_hits, keep) for every training document — docs too
    short to produce an n-gram count as clean (0 hits)."""
    doc_sh = shingle_table(train_df, id_col, text_col, n)
    hits = (
        doc_sh.join(F.broadcast(eval_ngrams), "shingle", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_eval_hits"))
    )
    return (
        train_df.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_eval_hits", F.lit(0)).alias("n_eval_hits"),
            (F.coalesce("n_eval_hits", F.lit(0)) == 0).alias("keep"),
        )
    )


def embedding_overlap_flags(
    train_emb: DataFrame,
    eval_emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """SEMANTIC decontamination — the companion to the n-gram check for
    paraphrased/translated benchmark leakage that shares no surface
    n-grams: a training vector is contaminated when its max cosine
    against ANY eval vector reaches ``threshold``. Returns
    (id, max_eval_sim, keep).

    Scale shape: the eval side is tiny (benchmarks, not corpora), so it
    BROADCASTS into the similarity join; the train side is scanned once
    and the per-row max re-aggregates on the train id (map-side partial
    max) — no shuffle of train vectors, mirroring the n-gram recipe. At
    very large eval sets, swap the broadcast join for the IVF bucketing
    in ``similarity.cosine_topk_ivf`` — same contract."""
    from urban_traffic_data_lake_project_spark.operators.similarity import (
        _as_double,
        _dot,
        _norm,
    )

    t = train_emb.select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("__tv")
    ).withColumn("__tn", _norm(F.col("__tv")))
    e = eval_emb.select(_as_double(F.col(vec_col)).alias("__ev")).withColumn(
        "__en", _norm(F.col("__ev"))
    )
    sim = _dot(F.col("__tv"), F.col("__ev")) / (F.col("__tn") * F.col("__en"))
    per_train = (
        t.crossJoin(F.broadcast(e))
        .select(F.col(id_col), sim.alias("__sim"))
        .groupBy(id_col)
        .agg(F.max("__sim").alias("max_eval_sim"))
    )
    return per_train.select(
        F.col(id_col),
        "max_eval_sim",
        (F.col("max_eval_sim") < threshold).cast("int").alias("keep"),
    )
