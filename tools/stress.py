"""Scale stress harness — runs the heaviest operator families on
synthetically generated inputs 1-3 orders of magnitude past sf0.1 (data
built with spark.range + hash expressions, directly in executors: no
driver materialization, no files) and prints rows/sec per case.

This measures SCALING, not correctness (the oracle gate owns that): each
case's wall time should grow ~linearly with rows while the plan shape
(shuffles, broadcasts) stays fixed. Results are recorded in SCALING.md.

Usage: python tools/stress.py [--scale 1.0]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from urban_traffic_data_lake_project_spark.session import get_spark  # noqa: E402


def synth_events(spark, n: int):
    """n synthetic events: ~150k users, 5 types, timestamps over 30 days."""
    return spark.range(n).select(
        F.col("id").alias("event_id"),
        F.timestamp_micros(
            F.lit(1704067200_000000) + (F.xxhash64("id") % (30 * 86400)) * 1_000_000
        ).alias("ts"),
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(150_000)).alias("user_id"),
        F.element_at(
            F.array(*[F.lit(t) for t in ("view", "click", "purchase", "error", "signup")]),
            (F.pmod(F.xxhash64("id", F.lit(2)), F.lit(5)) + 1).cast("int"),
        ).alias("event_type"),
        (F.pmod(F.xxhash64("id", F.lit(3)), F.lit(10_000)) / 100.0).alias("value"),
    )


def synth_docs(spark, n: int, words: int = 60):
    """n synthetic documents of ~`words` tokens from a 1000-word vocab,
    with every 10th doc a near-duplicate of its predecessor (one token
    changed) so LSH has real work."""
    base = F.expr("id - (id % 10) * cast(id % 10 = 1 as int)")  # pair 10k+1 with 10k
    tok = lambda i: F.concat(  # noqa: E731
        F.lit("w"),
        F.pmod(F.xxhash64(base, F.lit(i)), F.lit(1000)).cast("string"),
    )
    toks = F.array(*[tok(i) for i in range(words)])
    # perturb one token on the near-dup copies
    toks = F.when(
        F.expr("id % 10 = 1"), F.concat(F.slice(toks, 1, words - 1), F.array(F.lit("zzz")))
    ).otherwise(toks)
    return spark.range(n).select(
        F.col("id").alias("doc_id"), F.array_join(toks, " ").alias("text")
    )


def synth_vectors(spark, n: int, dim: int = 32):
    comp = lambda i: (F.pmod(F.xxhash64("id", F.lit(i)), F.lit(2001)) - 1000) / 1000.0  # noqa: E731
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(*[comp(i) for i in range(dim)]).alias("embedding"),
    )


def synth_mrl_vectors(spark, n: int, dim: int = 64, half_life: float = 16.0):
    """Front-loaded vectors for the Matryoshka stress rows: component i
    is scaled by 2^(-i/half_life), so the 16-dim prefix carries most of
    the energy — the property MRL training (Kusupati et al. 2022)
    produces by construction and the prefix screen's recall depends on.
    On uniform-random vectors (synth_vectors) a d_coarse=16 prefix is an
    uninformative screen (measured recall ~0.02 at 1M) and would make
    any recall comparison meaningless."""
    comp = lambda i: (  # noqa: E731
        (F.pmod(F.xxhash64("id", F.lit(i)), F.lit(2001)) - 1000)
        / 1000.0
        * float(2.0 ** (-i / half_life))
    )
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(*[comp(i) for i in range(dim)]).alias("embedding"),
    )


def run_case(name: str, n: int, build):
    t0 = time.time()
    cnt = build().write.format("noop").mode("overwrite").save()
    dt = time.time() - t0
    print(
        json.dumps(
            {"case": name, "rows_in": n, "sec": round(dt, 2), "rows_per_sec": int(n / dt)}
        ),
        flush=True,
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--only", type=str, default="", help="comma list of case names")
    args = ap.parse_args()
    s = args.scale
    only = {x for x in args.only.split(",") if x}

    global run_case
    base_run = run_case

    def run_case(name, n, build):  # noqa: F811 — selective wrapper
        if only and name not in only:
            return
        base_run(name, n, build)

    spark = get_spark("stress")
    spark.sparkContext.setLogLevel("ERROR")

    # 1. exact dedup at 50M rows (one digest shuffle)
    n = int(50_000_000 * s)

    def exact_dedup():
        from urban_traffic_data_lake_project_spark.operators.dedup import exact_dedup

        df = spark.range(n).select(
            F.col("id").alias("doc_id"),
            F.pmod(F.xxhash64("id"), F.lit(n // 2)).cast("string").alias("text"),
        )
        return exact_dedup(df, "doc_id", "text")

    run_case("exact_dedup", n, exact_dedup)

    # 2. grouped aggregate at 100M rows (map-side partials, 5k groups)
    n2 = int(100_000_000 * s)

    def grouped_agg():
        df = synth_events(spark, n2)
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("sv"),
            F.avg("value").alias("av"),
        )

    run_case("grouped_agg", n2, grouped_agg)

    # 3. session windows at 20M events
    n3 = int(20_000_000 * s)

    def sessions():
        df = synth_events(spark, n3)
        return df.groupBy(
            "user_id", F.session_window("ts", "10 minutes")
        ).agg(F.count(F.lit(1)).alias("n"))

    run_case("session_window", n3, sessions)

    # 3b. attribution + seasonal screen at 20M events with a HEAVY-USER
    # skew: one user owns 1% of all events (~200k rows in one window
    # partition — r10 verdict item 6). The per-user ordered window is a
    # streaming running-last over a sorted partition (O(rows log rows) in
    # ONE task for the whale); this case proves the wall-time holds and
    # the plan shape stays fixed under that skew.
    n3b = int(20_000_000 * s)

    def synth_events_skewed(n: int):
        df = synth_events(spark, n)
        return df.withColumn(
            "user_id",
            F.when(F.pmod(F.xxhash64("event_id", F.lit(9)), F.lit(100)) == 0, F.lit(0))
            .otherwise(F.col("user_id")),
        )

    def attribution_skew():
        from urban_traffic_data_lake_project_spark.queries.analytics import (
            attribution_rollup,
        )

        return attribution_rollup(synth_events_skewed(n3b))

    run_case("attribution_skew", n3b, attribution_skew)

    def seasonal_skew():
        from urban_traffic_data_lake_project_spark.queries.analytics import (
            seasonal_anomaly_screen,
        )

        return seasonal_anomaly_screen(synth_events_skewed(n3b))

    run_case("seasonal_anomalies_skew", n3b, seasonal_skew)

    def multitouch_skew():
        from urban_traffic_data_lake_project_spark.queries.analytics import (
            multitouch_attribution,
        )

        return multitouch_attribution(synth_events_skewed(n3b))

    run_case("multitouch_attribution_skew", n3b, multitouch_skew)

    # 3c. the r11-born analytics at 20M events (r11 verdict item 6): each
    # reduces row-scale input to a BOUNDED intermediate before any
    # ordered/pairwise stage — survival KM to the duration-grain risk
    # table (<= hours-of-history rows), Theil-Sen to the day grain
    # (days^2/2 pairs, ~435 at 30 days), split-conformal to six
    # whole-data agg passes + one percentile. The skewed-user synth
    # reuses the 3b whale (1% of events on one user).
    def survival_km_skew():
        from urban_traffic_data_lake_project_spark.queries.analytics import (
            survival_km,
        )

        return survival_km(synth_events_skewed(n3b))

    run_case("survival_km_skew", n3b, survival_km_skew)

    def theilsen_20m():
        from urban_traffic_data_lake_project_spark.queries.analytics import (
            theilsen_trend,
        )

        return theilsen_trend(synth_events(spark, n3b))

    run_case("theilsen_trend", n3b, theilsen_20m)

    def conformal_20m():
        from urban_traffic_data_lake_project_spark.queries.analytics import (
            conformal_interval,
        )

        data = spark.range(n3b).select(
            (
                (F.pmod(F.xxhash64("id"), F.lit(10_000)) / 100.0)
                + (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(50)))
                + (F.pmod(F.xxhash64("id", F.lit(2)), F.lit(1000)) / 1000.0)
            ).alias("y"),
            (F.pmod(F.xxhash64("id"), F.lit(10_000)) / 100.0).alias("x1"),
            F.pmod(F.xxhash64("id", F.lit(1)), F.lit(50)).cast("double").alias("x2"),
            F.pmod(F.xxhash64("id", F.lit(3)), F.lit(4)).alias("__s"),
        )
        return conformal_interval(data)

    run_case("conformal_interval", n3b, conformal_20m)

    # 3d. the r12-borns at scale: the funnel rollup at 20M events (three
    # per-user aggs + user-grain joins — no row-scale window), and the
    # KMV quantile sample at 100M rows (one TakeOrdered pass of
    # (hash, col) — the at-scale shape vs the exact reference)
    def funnel_20m():
        from urban_traffic_data_lake_project_spark.queries.analytics import (
            funnel_steps,
        )

        return funnel_steps(synth_events_skewed(n3b))

    run_case("funnel_rollup_skew", n3b, funnel_20m)

    n3d = int(100_000_000 * s)

    def quantile_kmv_100m():
        from urban_traffic_data_lake_project_spark.functions import stable_hash64

        df = spark.range(n3d).select(
            (F.pmod(F.xxhash64("id"), F.lit(1_000_000)) / 7.0).alias("x"),
            stable_hash64(F.col("id").cast("string"), salt="qs|").alias("h"),
        )
        samp = df.orderBy("h").limit(1024)
        return samp.agg(
            *[F.percentile("x", F.lit(p)).alias(f"p{int(p*100)}")
              for p in (0.25, 0.5, 0.75, 0.95)]
        )

    run_case("quantile_kmv_sample", n3d, quantile_kmv_100m)

    def repetition_200k():
        from urban_traffic_data_lake_project_spark.operators.text import (
            repetition_ngram_signals,
        )

        docs = synth_docs(spark, int(200_000 * s))
        sig = repetition_ngram_signals(F.col("text"))
        return docs.select(
            "doc_id",
            sig["dup_line_char_frac"].alias("dl"),
            sig["top_trigram_share"].alias("t3"),
            sig["dup_5gram_frac"].alias("d5"),
        )

    run_case("repetition_signals", int(200_000 * s), repetition_200k)

    # 3e. STREAMING throughput at 20M events (r12): the full Structured
    # Streaming lifecycle — file source -> watermark -> tumbling count ->
    # stateful sink — executed to completion under Trigger.AvailableNow.
    # Unlike the batch cases this measures the streaming runtime's real
    # overheads (offset tracking, state store commits per micro-batch),
    # the number that bounds a backfill/replay of historical data through
    # the streaming path. Special-cased because the timed unit is the
    # query lifecycle, not a noop write.
    def streaming_tumbling_20m():
        import shutil
        import tempfile

        n = int(20_000_000 * s)
        staged = tempfile.mkdtemp(prefix="stress_stream_")
        try:
            src = os.path.join(staged, "events")
            synth_events(spark, n).write.mode("overwrite").parquet(src)
            schema = spark.read.parquet(src).schema
            t0 = time.time()
            stream = spark.readStream.schema(schema).parquet(src)
            agg = (
                stream.withWatermark("ts", "2 hours")
                .groupBy(F.window("ts", "1 hour"), "event_type")
                .agg(F.count(F.lit(1)).alias("n"))
            )
            q = (
                agg.writeStream.format("memory")
                .queryName("stress_stream_sink")
                .outputMode("complete")
                .trigger(availableNow=True)
                .option(
                    "checkpointLocation", os.path.join(staged, "ckpt")
                )
                .start()
            )
            assert q.awaitTermination(600), "stream did not finish"
            dt = time.time() - t0
            rows = spark.table("stress_stream_sink").count()
            print(
                json.dumps(
                    {
                        "case": "streaming_tumbling",
                        "rows_in": n,
                        "sec": round(dt, 2),
                        "rows_per_sec": int(n / dt),
                        "result_rows": rows,
                    }
                ),
                flush=True,
            )
        finally:
            shutil.rmtree(staged, ignore_errors=True)

    if not only or "streaming_tumbling" in only:
        streaming_tumbling_20m()

    # 4. MinHash-LSH near-dedup at 200k docs (true near-dups present)
    n4 = int(200_000 * s)

    def lsh():
        from urban_traffic_data_lake_project_spark.operators.dedup import (
            minhash_lsh_dedup_pairs,
        )

        return minhash_lsh_dedup_pairs(synth_docs(spark, n4), "doc_id", "text")

    run_case("minhash_lsh", n4, lsh)

    # 5. IVF cosine top-k over 1M vectors, 50 queries
    n5 = int(1_000_000 * s)

    def ivf():
        from urban_traffic_data_lake_project_spark.operators.similarity import (
            cosine_topk_ivf,
        )

        corpus = synth_vectors(spark, n5)
        queries = corpus.filter(F.col("vec_id") < 50)
        return cosine_topk_ivf(corpus, queries, k=5, n_centroids=32, nprobe=4)

    run_case("ivf_topk", n5, ivf)

    # 5b. the k-means-TRAINED IVF path at 1M vectors: 2 spherical rounds
    # (each one grouped vector-mean over the chunk-assigned corpus) then
    # the same zero-corpus-shuffle assignment + probe join. Exercises the
    # Arrow with_nearest_centroids at k=32 x dim=32 inside every Lloyd
    # round.
    def ivf_trained():
        from urban_traffic_data_lake_project_spark.operators.similarity import (
            cosine_topk_ivf,
        )

        corpus = synth_vectors(spark, n5)
        queries = corpus.filter(F.col("vec_id") < 50)
        return cosine_topk_ivf(
            corpus, queries, k=5, n_centroids=32, nprobe=4, train_iters=2
        )

    run_case("ivf_topk_trained", n5, ivf_trained)

    # 5c. PQ encode + ADC top-k at 1M x 64-dim vectors (registry shape:
    # m=8 subspaces, k=16 codes). Encode is one Arrow stage of m*k*sub =
    # 1024 squared-gap sweeps per batch; ADC scores are m LUT lookups.
    n5c = int(1_000_000 * s)

    def pq_adc():
        from urban_traffic_data_lake_project_spark.operators.similarity import (
            pq_adc_topk,
            pq_codebooks,
        )

        corpus = synth_vectors(spark, n5c, dim=64)
        queries = corpus.filter(F.col("vec_id") < 10)
        cb = pq_codebooks(corpus, "vec_id", "embedding", m=8, k=16)
        return pq_adc_topk(corpus, queries, "vec_id", "embedding", cb, k_top=5)

    run_case("pq_adc_topk", n5c, pq_adc)

    # 5d. the composed IVF-PQ retrieval at 1M x 64-dim: coarse-bucket
    # probe (nprobe/n_centroids of the corpus reaches scoring) + ADC over
    # m=8 codes — candidates AND bytes-per-candidate both cut; the two
    # standalone stress cases above are its upper bounds.
    def ivfpq():
        from urban_traffic_data_lake_project_spark.operators.similarity import (
            ivfpq_topk,
            pq_codebooks,
        )

        corpus = synth_vectors(spark, n5c, dim=64)
        queries = corpus.filter(F.col("vec_id") < 10)
        cb = pq_codebooks(corpus, "vec_id", "embedding", m=8, k=16)
        return ivfpq_topk(
            corpus, queries, "vec_id", "embedding", cb,
            n_centroids=32, nprobe=4, k_top=5,
        )

    run_case("ivfpq_topk", n5c, ivfpq)

    # 5e. residual-encoding IVF-PQ at 1M x 64-dim (the full FAISS recipe):
    # adds the unrolled residual subtract to the corpus scan and swaps the
    # single ADC LUT for per-(query, probed-bucket) LUTs in one literal map
    # — candidate volume identical to ivfpq_topk, so the delta vs 5d is
    # the residual/LUT overhead itself.
    def ivfpq_residual():
        from urban_traffic_data_lake_project_spark.operators.similarity import (
            ivfpq_residual_topk,
        )

        corpus = synth_vectors(spark, n5c, dim=64)
        queries = corpus.filter(F.col("vec_id") < 10)
        return ivfpq_residual_topk(
            corpus, queries, "vec_id", "embedding",
            n_centroids=32, m=8, k_codes=16, nprobe=4, k_top=5,
        )

    run_case("ivfpq_residual", n5c, ivfpq_residual)

    # 5e2. Matryoshka coarse+rerank at 1M x 64-dim, both shapes, same
    # dials (d_coarse=16, depth=50, 50 queries): the all-pairs form
    # coarse-scores every (query, candidate) pair — the O(q*n) screen the
    # r7 verdict flagged — while the IVF-composed form probes 4/32
    # buckets first so the coarse screen touches ~1/8 of the corpus. The
    # delta between these two rows IS the probe cut's value; ivf_topk
    # above is the other parent (same probe, full-dim scoring). Vectors
    # are FRONT-LOADED (synth_mrl_vectors) — the regime the prefix
    # screen exists for; recall numbers live in SCALING.md.
    def matryoshka_allpairs():
        from urban_traffic_data_lake_project_spark.operators.similarity import (
            cosine_topk_coarse_rerank,
        )

        corpus = synth_mrl_vectors(spark, n5c, dim=64)
        queries = corpus.filter(F.col("vec_id") < 50)
        return cosine_topk_coarse_rerank(
            corpus, queries, k=5, dim=64, d_coarse=16, depth=50
        )

    run_case("matryoshka_allpairs", n5c, matryoshka_allpairs)

    def matryoshka_ivf():
        from urban_traffic_data_lake_project_spark.operators.similarity import (
            cosine_topk_ivf_coarse_rerank,
        )

        corpus = synth_mrl_vectors(spark, n5c, dim=64)
        queries = corpus.filter(F.col("vec_id") < 50)
        return cosine_topk_ivf_coarse_rerank(
            corpus, queries, k=5, dim=64,
            n_centroids=32, nprobe=4, d_coarse=16, depth=50,
        )

    run_case("matryoshka_ivf", n5c, matryoshka_ivf)

    # 5e3. int8 scalar-quantized screen over the same probe cut: probed
    # candidates ship 8x smaller rows (int8 codes, not double arrays) to
    # the screen; the exact rerank joins floats back for survivors only.
    def int8_rerank():
        from urban_traffic_data_lake_project_spark.operators.similarity import (
            cosine_topk_ivf_int8_rerank,
        )

        corpus = synth_vectors(spark, n5c, dim=64)
        queries = corpus.filter(F.col("vec_id") < 50)
        return cosine_topk_ivf_int8_rerank(
            corpus, queries, k=5, dim=64,
            n_centroids=32, nprobe=4, depth=50,
        )

    run_case("int8_rerank", n5c, int8_rerank)

    # 5f. SemDeDup at 200k vectors, k=256 clusters: the quadratic bit is
    # per-cluster pairwise scoring (~n^2/k pairs/cluster x k) — the knob
    # that keeps it linear-ish at scale is k ~ n (paper: k ~ n/10k; here
    # ~780/cluster -> ~78M scored pairs). Assignment is the chunked
    # zero-shuffle literal path (k x dim = 8192 terms across 8 stages).
    n5f = int(200_000 * s)

    def semdedup_case():
        from urban_traffic_data_lake_project_spark.operators.dedup import semdedup

        return semdedup(
            synth_vectors(spark, n5f, dim=32), n_centroids=256, eps=0.05
        )

    run_case("semdedup", n5f, semdedup_case)

    # 5g. persisted IVF index lifecycle at 1M x 64-dim: build (assignment
    # + one centroid_id shuffle + partitioned write), append a 100k batch
    # against the frozen centroids, then query — the query's scan reads
    # only the probed partitions (PartitionFilters INSET).
    def ivf_index_lifecycle():
        import shutil
        import tempfile

        from urban_traffic_data_lake_project_spark.operators.similarity import (
            append_ivf_index,
            build_ivf_index,
            query_ivf_index,
        )

        d = tempfile.mkdtemp(prefix="stress_ivf_index_")
        corpus = synth_vectors(spark, n5c, dim=64).filter(F.col("vec_id") >= 100_000)
        batch = synth_vectors(spark, n5c, dim=64).filter(
            (F.col("vec_id") >= 10) & (F.col("vec_id") < 100_000)
        )
        build_ivf_index(corpus, d, n_centroids=32)
        append_ivf_index(batch, d)
        out = query_ivf_index(
            spark, d,
            synth_vectors(spark, n5c, dim=64).filter(F.col("vec_id") < 10),
            k=5, nprobe=4,
        )
        import atexit

        atexit.register(lambda: shutil.rmtree(d, ignore_errors=True))
        return out

    run_case("ivf_index_lifecycle", n5c, ivf_index_lifecycle)

    # 5h. the TRAINED compressed persisted index at 1M x 64-dim — the
    # production FAISS IVFx,PQy lifecycle: 2 spherical k-means rounds
    # refine the coarse quantizer, PQ codes land in the postings
    # (partitioned by centroid_id), the query ADCs over ONLY the probed
    # partitions. Exercises build_ivfpq_index(train_iters=) end-to-end.
    def ivfpq_index_trained_lifecycle():
        import atexit
        import shutil
        import tempfile

        from urban_traffic_data_lake_project_spark.operators.similarity import (
            build_ivfpq_index,
            pq_codebooks,
            query_ivfpq_index,
        )

        d = tempfile.mkdtemp(prefix="stress_ivfpq_trained_")
        corpus = synth_vectors(spark, n5c, dim=64)
        cb = pq_codebooks(corpus, "vec_id", "embedding", m=8, k=16)
        build_ivfpq_index(
            corpus, d, cb, n_centroids=32, train_iters=2
        )
        out = query_ivfpq_index(
            spark, d, corpus.filter(F.col("vec_id") < 10), nprobe=4, k_top=5
        )
        atexit.register(lambda: shutil.rmtree(d, ignore_errors=True))
        return out

    run_case("ivfpq_index_trained_lifecycle", n5c, ivfpq_index_trained_lifecycle)

    # 6. histogram quantile sketch at 100M values
    n6 = int(100_000_000 * s)

    def hist():
        from urban_traffic_data_lake_project_spark.operators.sketches import (
            hist_quantiles,
            hist_sketch_table,
        )

        df = synth_events(spark, n6)
        sk = hist_sketch_table(df, ["event_type"], "value", 0.0, 100.0, 256)
        return hist_quantiles(sk, ["event_type"], (0.5, 0.99), 0.0, 100.0, 256)

    run_case("hist_sketch", n6, hist)

    # 7. SRP-LSH embedding near-dup at 1M vectors. Band width MUST track
    # corpus size (expected bucket occupancy n / 2^bits_per_band): 64
    # planes / 4 bands = 16-bit bands -> ~15 vectors per bucket at 1M,
    # which made this case verify-bound (~27M candidates, 96.5 s in r4).
    # bands="auto" sizes the bands from one signature-occupancy agg
    # (srp_choose_bands); the registry query's fixed parameterization is
    # for the sf corpora.
    n7 = int(1_000_000 * s)

    def srp():
        from urban_traffic_data_lake_project_spark.operators.dedup import (
            srp_near_dup_pairs,
        )

        return srp_near_dup_pairs(
            synth_vectors(spark, n7), n_planes=64, bands="auto", threshold=0.9
        )

    run_case("srp_near_dup_auto", n7, srp)

    # 7b. the pathological density regime from the r4 verdict: every
    # vector has 9 near-copies (ids sharing id//10 differ by a tiny
    # deterministic perturbation). The copy mass is IRREDUCIBLE — same
    # signature in every band at any width — so the chooser must not
    # waste width fighting it, and runtime must stay bounded by the true
    # pair count (45 pairs per copy-group), never corpus^2.
    n7b = int(200_000 * s)

    def srp_dense():
        from urban_traffic_data_lake_project_spark.operators.dedup import (
            srp_near_dup_pairs,
        )

        comp = lambda i: (  # noqa: E731
            (F.pmod(F.xxhash64(F.col("base"), F.lit(i)), F.lit(2001)) - 1000) / 1000.0
            + (F.pmod(F.xxhash64("vec_id", F.lit(1000 + i)), F.lit(21)) - 10) / 1e7
        )
        dense = spark.range(n7b).select(
            F.col("id").alias("vec_id"),
            (F.col("id") / 10).cast("long").alias("base"),
        ).select("vec_id", F.array(*[comp(i) for i in range(32)]).alias("embedding"))
        return srp_near_dup_pairs(dense, n_planes=64, bands="auto", threshold=0.999)

    run_case("srp_dense_dups_auto", n7b, srp_dense)

    # 8. WAV PCM16 codec round trip at 300k clips (Arrow-heavy path:
    # encode -> chunk walk -> whole-clip features)
    n8 = int(300_000 * s)

    def wav():
        from urban_traffic_data_lake_project_spark.operators.multimodal import (
            decode_wav_audio,
            encode_wav_audio,
        )

        clips = spark.range(n8).select(
            F.col("id").alias("media_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(63)),
                lambda i: (F.pmod(F.xxhash64("id", i), F.lit(65536)) - 32768).cast("int"),
            ).alias("samples"),
            F.lit(8000).alias("rate"),
        )
        dec = decode_wav_audio(encode_wav_audio(clips, "media_id", "samples", "rate"))
        return dec.select("media_id", "rms", "peak", "zero_cross")

    run_case("wav_codec", n8, wav)

    # 9. boilerplate line removal at 2M docs (3 lines each; the header is
    # corpus-wide chrome, bodies are unique)
    n9 = int(2_000_000 * s)

    def boiler():
        from urban_traffic_data_lake_project_spark.operators.text import (
            remove_boilerplate_lines,
        )

        docs = spark.range(n9).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit("nav home about\n"),
                F.lit("body "), F.xxhash64("id").cast("string"),
                F.when(F.expr("id % 7 = 0"), F.lit("\nsubscribe footer")).otherwise(F.lit("")),
            ).alias("text"),
        )
        return remove_boilerplate_lines(docs, "doc_id", "text", 0.05)

    run_case("boilerplate_lines", n9, boiler)

    # 10. KMV sketch at 50M rows / 25M distinct — the partition-local
    # k-min prune must keep the post-Python exchange at partitions*k rows
    n10 = int(50_000_000 * s)

    def kmv():
        from urban_traffic_data_lake_project_spark.operators.sketches import (
            kmv_estimate,
            kmv_sketch_table,
        )

        df = spark.range(n10).select(
            F.pmod(F.xxhash64("id"), F.lit(max(n10 // 2, 1))).cast("string").alias("v")
        )
        return kmv_estimate(kmv_sketch_table(df, [], "v", k=256), [], k=256)

    run_case("kmv_sketch", n10, kmv)

    # 11. CM heavy hitters at 50M rows, zipf-ish: 20 hot values over a
    # 1M-value tail — screen is broadcast joins; exact groupBy sees only
    # survivors
    n11 = int(50_000_000 * s)

    def heavy():
        from urban_traffic_data_lake_project_spark.operators.sketches import (
            cm_heavy_hitters,
        )

        df = spark.range(n11).select(
            F.when(
                F.expr("id % 2 = 0"), F.pmod(F.xxhash64("id"), F.lit(20))
            )
            .otherwise(F.pmod(F.xxhash64("id", F.lit(7)), F.lit(1_000_000)) + 100)
            .cast("string")
            .alias("v")
        )
        return cm_heavy_hitters(df, "v", min_frac=0.01, depth=4, width=1024)

    run_case("cm_heavy_hitters", n11, heavy)

    # 11b. persisted int8 index lifecycle at 1M vectors: build (scale fit
    # + assignment + codes next to vectors + partitioned write), then a
    # query that must touch ONLY probed partitions — the per-call
    # max-abs corpus aggregate is gone (r8 verdict item 5)
    def int8_index_lifecycle():
        import shutil
        import tempfile

        from urban_traffic_data_lake_project_spark.operators.similarity import (
            build_int8_index,
            query_int8_index,
        )

        d = tempfile.mkdtemp(prefix="stress_int8_idx_")
        try:
            corpus = synth_vectors(spark, n5c, dim=64)
            build_int8_index(corpus, d, "vec_id", "embedding", n_centroids=32)
            out = query_int8_index(
                spark, d, corpus.filter(F.col("vec_id") < 50),
                k=5, nprobe=4, depth=50,
            )
            out.write.format("noop").mode("overwrite").save()
        finally:
            shutil.rmtree(d, ignore_errors=True)
        return spark.range(0)  # work already executed above

    run_case("int8_index_lifecycle", n5c, int8_index_lifecycle)

    # 12. BPE training at 256 merges over 200k docs (~1.1k-word synthetic
    # vocab, so all 256 rounds stay productive). The merge loop's replace
    # chain is lineage-truncated every _BPE_CHECKPOINT_EVERY merges (r8
    # verdict item 4): per-round cost must stay ~flat instead of growing
    # with the merge index. A/B the unbounded chain with
    # SPARK_GRAFT_BPE_CKPT_EVERY=100000.
    n12 = int(200_000 * s)

    def bpe256():
        from urban_traffic_data_lake_project_spark.operators.text import bpe_train

        _, symtab = bpe_train(synth_docs(spark, n12), "text", num_merges=256)
        return symtab

    run_case("bpe_train_256", n12, bpe256)

    # 12b. BPE at REALISTIC vocab (r9 verdict item 6): 4,096 merges over
    # 200k docs drawn from a 20k-word vocabulary (the 1k-word corpus of
    # case 12 exhausts its pair space before 4k merges). driver_fit=True
    # (the r10 default): ONE corpus pass builds the word table, then the
    # incremental-pair-count fit runs the whole merge loop driver-side —
    # vs ~0.5 s of job scheduling PER MERGE in the distributed loop
    # (4,096 merges would be ~35 min; measured here in seconds).
    def bpe4096():
        from urban_traffic_data_lake_project_spark.operators.text import bpe_train

        tok = lambda i: F.concat(  # noqa: E731
            F.lit("w"),
            F.pmod(F.xxhash64("id", F.lit(i)), F.lit(20_000)).cast("string"),
        )
        docs = spark.range(n12).select(
            F.col("id").alias("doc_id"),
            F.array_join(F.array(*[tok(i) for i in range(60)]), " ").alias("text"),
        )
        merges, symtab = bpe_train(docs, "text", num_merges=4096)
        print(json.dumps({"case": "bpe_train_4096.merges", "n": len(merges)}), flush=True)
        return symtab

    run_case("bpe_train_4096", n12, bpe4096)

    # 13. embedding covariance + PCA-whitening lifecycle at 1M×64 (r9):
    # the one-scan Arrow GEMM moment pass must stay scan-bound (its merge
    # state is O(d²) regardless of rows), and the fit's collect is the
    # bounded 2,145-row moment table — so fit+project should cost ~one
    # corpus scan each at any scale.
    n13 = int(1_000_000 * s)

    def emb_cov():
        from urban_traffic_data_lake_project_spark.operators.embedding_stats import (
            embedding_covariance,
        )

        return embedding_covariance(synth_vectors(spark, n13, dim=64), "embedding", 64)

    run_case("embedding_covariance_1m", n13, emb_cov)

    def pca_whiten():
        from urban_traffic_data_lake_project_spark.operators.embedding_stats import (
            pca_fit,
            pca_project,
        )

        v = synth_vectors(spark, n13, dim=64)
        fit = pca_fit(v, "embedding", 64, k=8)
        return pca_project(v, "embedding", fit, whiten=True).select(
            *[f"pc{c}" for c in range(1, 9)]
        )

    run_case("pca_fit_whiten_1m", n13, pca_whiten)

    # 14. shingle-IDF doc-doc cosine at 200k docs (same corpus shape as
    # the minhash_lsh case — 10% engineered near-dups): the posting
    # self-join is the widest string-keyed shuffle in the engine; the df
    # band keeps pair fan-out ∝ shared-shingle density, never n².
    n14 = int(200_000 * s)

    def docsim():
        from urban_traffic_data_lake_project_spark.operators.text import (
            tfidf_docsim_topk,
        )

        return tfidf_docsim_topk(synth_docs(spark, n14), "doc_id", "text", k=5)

    run_case("docsim_topk", n14, docsim)

    # 15. greedy k-center coreset at 1M vectors: k argmax passes (each a
    # TakeOrderedAndProject of one row) + literal-center distance
    # projections, lineage truncated per round by localCheckpoint.
    def kcenter():
        from urban_traffic_data_lake_project_spark.operators.sampling import (
            kcenter_coreset,
        )

        return kcenter_coreset(synth_vectors(spark, n5, dim=32), "vec_id", "embedding", 32, k=8)

    run_case("kcenter_coreset_1m", n5, kcenter)

    # 16. Fellegi-Sunter linkage shape at 500k records with
    # scale-appropriate blocking: the registry query blocks on
    # (nation, last name char) — fine at 15k customers, quadratic-in-block
    # at millions. Here the block key carries TWO preserved name chars
    # (25k blocks at 500k rows -> ~20 records/side/block -> ~10M candidate
    # pairs), demonstrating the rule the operator docstring states: the
    # blocking-key cardinality must scale with n.
    n16 = int(500_000 * s)

    def linkage():
        base = spark.range(n16).select(
            F.col("id"),
            F.concat(F.lit("P"), F.lpad(F.col("id").cast("string"), 9, "0")).alias("name"),
            F.pmod(F.xxhash64("id"), F.lit(250)).alias("nation"),
            (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(10_000)) * 1.0).alias("bal"),
            F.element_at(
                F.array(*[F.lit(x) for x in "ABCDE"]),
                (F.pmod(F.xxhash64("id", F.lit(2)), F.lit(5)) + 1).cast("int"),
            ).alias("seg"),
        )
        dirty = base.select(
            F.col("id").alias("d_key"),
            "nation",
            F.concat(
                F.col("name").substr(1, 5),
                F.col("name").substr(F.lit(7), F.length("name")),
            ).alias("d_name"),
            (F.col("bal") + F.pmod("id", F.lit(7)) - 3).alias("d_bal"),
            F.when(F.col("id") % 11 == 0, F.lit("X"))
            .otherwise(F.col("seg"))
            .alias("d_seg"),
        ).withColumn("__blk", F.expr("right(d_name, 2)"))
        clean = base.withColumn("__blk", F.expr("right(name, 2)"))
        cand = dirty.join(clean, ["nation", "__blk"])
        na = F.levenshtein("d_name", "name", 1) >= 0
        ba = F.floor(F.col("d_bal") / 100) == F.floor(F.col("bal") / 100)
        sa = F.col("d_seg") == F.col("seg")
        score = (
            F.when(na, F.lit(8.9)).otherwise(F.lit(-4.3))
            + F.when(ba, F.lit(6.5)).otherwise(F.lit(-3.3))
            + F.when(sa, F.lit(2.2)).otherwise(F.lit(-3.0))
        )
        scored = cand.select("d_key", score.alias("sc"), F.col("id").alias("ck"))
        return scored.groupBy("d_key").agg(
            F.max(
                F.struct(F.col("sc"), (-F.col("ck")).alias("nk"), F.col("ck"))
            ).alias("b")
        )

    run_case("record_linkage_500k", n16, linkage)

    # 17. AUTO-BLOCKED linkage at 5M records (r9 verdict item 5): the
    # width is not hand-picked — choose_block_width profiles block
    # occupancy at widths 1..5 in one aggregation pass and picks the
    # narrowest whose candidate mass stays under 8 pairs/probe. At 5M
    # rows / 250 nations the digit-suffix occupancy makes it pick w=4
    # (~2 candidates/probe, ~10M pairs); at the registry's 15k rows the
    # same chooser picks w=1-2. Same score+resolve as case 16.
    n17 = int(5_000_000 * s)

    def linkage_auto():
        from urban_traffic_data_lake_project_spark.operators.merge import (
            choose_block_width,
        )

        base = spark.range(n17).select(
            F.col("id"),
            F.concat(F.lit("P"), F.lpad(F.col("id").cast("string"), 9, "0")).alias("name"),
            F.pmod(F.xxhash64("id"), F.lit(250)).alias("nation"),
            (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(10_000)) * 1.0).alias("bal"),
            F.element_at(
                F.array(*[F.lit(x) for x in "ABCDE"]),
                (F.pmod(F.xxhash64("id", F.lit(2)), F.lit(5)) + 1).cast("int"),
            ).alias("seg"),
        )
        w = choose_block_width(
            base, "name", ["nation"], max_width=5, target_pairs_per_row=8.0
        )
        print(json.dumps({"case": "linkage_auto_5m.chosen_width", "w": w}), flush=True)
        dirty = base.select(
            F.col("id").alias("d_key"),
            "nation",
            F.concat(
                F.col("name").substr(1, 5),
                F.col("name").substr(F.lit(7), F.length("name")),
            ).alias("d_name"),
            (F.col("bal") + F.pmod("id", F.lit(7)) - 3).alias("d_bal"),
            F.when(F.col("id") % 11 == 0, F.lit("X"))
            .otherwise(F.col("seg"))
            .alias("d_seg"),
        ).withColumn("__blk", F.expr(f"right(d_name, {w})"))
        clean = base.withColumn("__blk", F.expr(f"right(name, {w})"))
        cand = dirty.join(clean, ["nation", "__blk"])
        na = F.levenshtein("d_name", "name", 1) >= 0
        ba = F.floor(F.col("d_bal") / 100) == F.floor(F.col("bal") / 100)
        sa = F.col("d_seg") == F.col("seg")
        score = (
            F.when(na, F.lit(8.9)).otherwise(F.lit(-4.3))
            + F.when(ba, F.lit(6.5)).otherwise(F.lit(-3.3))
            + F.when(sa, F.lit(2.2)).otherwise(F.lit(-3.0))
        )
        scored = cand.select("d_key", score.alias("sc"), F.col("id").alias("ck"))
        return scored.groupBy("d_key").agg(
            F.max(
                F.struct(F.col("sc"), (-F.col("ck")).alias("nk"), F.col("ck"))
            ).alias("b")
        )

    run_case("linkage_auto_5m", n17, linkage_auto)

    # 18. Exact vs sketch Gini at 20M rows (r10): the exact rank formula
    # needs a global sort (every row to ONE task — the shape the plan
    # lint polices); the binned-Lorenz sketch needs one hash aggregate +
    # a 512-bin window. Run both to quantify the gap the annotation
    # claims. Spend distribution: lognormal-ish via exp of summed hashes.
    n18 = int(20_000_000 * s)

    def gini_exact():
        v = spark.range(n18).select(
            F.col("id"),
            F.exp(
                (F.pmod(F.xxhash64("id"), F.lit(1000)) / 250.0)
            ).alias("spend"),
        )
        w_rank = Window.orderBy(F.asc("spend"), F.asc("id"))
        ranked = v.select(
            "spend", F.row_number().over(w_rank).alias("i")
        ).withColumn("n", F.max("i").over(Window.partitionBy()))
        n = F.max("n").cast("double")
        return ranked.agg(
            F.round(
                2.0 * F.sum(F.col("i") * F.col("spend")) / (n * F.sum("spend"))
                - (n + 1.0) / n,
                6,
            ).alias("gini")
        )

    def gini_sketch():
        v = spark.range(n18).select(
            F.col("id"),
            F.exp(
                (F.pmod(F.xxhash64("id"), F.lit(1000)) / 250.0)
            ).alias("spend"),
        )
        lo, hi, b = 0.0, 60.0, 512
        bin_ = F.least(
            F.greatest(F.floor((F.col("spend") - lo) * b / (hi - lo)), F.lit(0)),
            F.lit(b - 1),
        ).cast("int")
        hist = v.groupBy(bin_.alias("bin")).agg(
            F.count(F.lit(1)).alias("n"), F.sum("spend").alias("sv")
        )
        w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
        tot = Window.partitionBy()
        c = hist.select(
            "n", "sv",
            F.sum("sv").over(w).alias("cs"),
            F.sum("n").over(tot).alias("nn"), F.sum("sv").over(tot).alias("ss"),
        )
        term = (F.col("n") / F.col("nn")) * (
            (F.col("cs") - F.col("sv")) / F.col("ss") + F.col("cs") / F.col("ss")
        )
        return c.agg(F.round(F.lit(1.0) - F.sum(term), 6).alias("gini"))

    run_case("gini_exact_20m", n18, gini_exact)
    run_case("gini_sketch_20m", n18, gini_sketch)


if __name__ == "__main__":
    main()
