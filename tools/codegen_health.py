"""Codegen compile-health runner for the unrolled similarity/ANN family.

Executes each query with ``spark.sql.codegen.fallback=false`` so a
whole-stage method that exceeds janino's 64 KB limit is a HARD error
instead of a silent interpreted fallback, and (belt and braces) scans its
own stderr afterwards for ``Failed to compile`` markers from subsystems
that fall back without consulting that conf.

MUST run as a fresh subprocess with stderr redirected at spawn time: the
JVM inherits the parent's fd 2 when the gateway launches, so an
in-process ``os.dup2`` AFTER SparkSession creation retargets only
Python's fd and captures nothing from the JVM — the r6 fd-capture test
asserted against an empty file and passed while 17 compile failures
scrolled by (diagnosed r7). ``tests/test_plans.py`` spawns this script
with ``stderr=<file>`` so the child JVM writes where the test can read.

Usage: python tools/codegen_health.py [--sf-dir DIR] [--consumer toPandas|collect] [name ...]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# every registry query whose plan carries dim-unrolled dots, ADC LUT
# lookups, or the Arrow assignment / encode / scorer stages — the
# shapes that have historically tripped the 64 KB method limit
FAMILY = [
    "sim_cosine_topk",
    "sim_hard_negatives",
    "sim_cosine_topk_ivf",
    "sim_cosine_topk_ivf_trained",
    "sim_ivf_recall",
    "sim_pq_encode",
    "sim_pq_topk",
    "sim_pq_recall",
    "sim_ivfpq_topk",
    "sim_ivfpq_recall",
    "sim_ivfpq_residual_topk",
    "sim_ivf_index_persisted",
    "sim_ivf_index_incremental",
    "sim_ivfpq_index_persisted",
    "sim_retrieval_metrics",
    "dedup_embedding_cosine",
    "dedup_semantic",
    "dedup_embedding_srp",
    # r7-born unrolled shapes (ADVICE r7): the Matryoshka rerank fuses a
    # 192-term element_at scorer with two broadcast joins + a rank
    # window; the Morton interleave repeats its scale expression 32x in
    # one projection; the filtered/trained index queries and the drift
    # monitor run the Arrow assignment + unrolled PSI arithmetic
    "sim_matryoshka_rerank",
    "sim_matryoshka_ivf",
    "sim_int8_rerank",
    "lakehouse_zorder_codes",
    "sim_ivf_index_filtered",
    "sim_ivfpq_index_filtered",
    "sim_embedding_drift",
    "sim_ivfpq_index_trained",
    # r9-born: the persisted int8 index's query path carries the 64-dim
    # exact-rerank unroll plus the quantize transform over the probed
    # postings scan
    "sim_int8_index",
    # r9-born: the PCA projection is k unrolled 64-term literal dot
    # products in one Project (the widest pure-expression node in the
    # engine at full rank k=d)
    "sim_embedding_pca",
    # r9-born: 16 chained simultaneous projections of multiply-referenced
    # state columns — the shape that would blow up 6^16 if CollapseProject
    # ever substituted them (and the deepest Project chain in the engine)
    "lakehouse_hilbert_codes",
    # r9-born: DCT-hash HOF loops over a broadcast weight matrix — the
    # unrolled literal form hard-failed janino (64 KB processNext); this
    # pin keeps the compiled HOF form honest
    "image_phash",
    # r9-born: per-round 64-term literal distance unrolls; the
    # localCheckpoint per round is what keeps each stage at one round's
    # terms — this pin would catch a regression that lets the least-chain
    # accumulate back into a single >64 KB stage
    "sample_coreset_kcenter",
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--consumer", default="toPandas", choices=["toPandas", "collect"])
    ap.add_argument(
        "--all",
        action="store_true",
        help="sweep EVERY registry query (engine-wide compile health), "
        "not just the unrolled similarity family; pair with a small "
        "--sf-dir (compilation is plan-shaped, not data-sized)",
    )
    ap.add_argument("names", nargs="*", default=None)
    args = ap.parse_args()

    from urban_traffic_data_lake_project_spark.queries import REGISTRY
    from urban_traffic_data_lake_project_spark.session import get_spark

    names = args.names or (list(REGISTRY) if args.all else FAMILY)

    spark = get_spark(
        "codegen-health",
        extra_conf={"spark.sql.codegen.fallback": "false"},
    )
    bad = 0
    for name in names:
        try:
            df = REGISTRY[name].fn(spark, args.sf_dir)
            n = len(df.toPandas()) if args.consumer == "toPandas" else len(df.collect())
            print(f"OK   {name} {args.consumer} rows={n}", flush=True)
        except Exception as e:  # noqa: BLE001 — report and keep sweeping
            bad += 1
            print(
                f"FAIL {name} {args.consumer}: {str(e).splitlines()[0][:300]}",
                flush=True,
            )
    print(f"DONE bad={bad}", flush=True)
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
