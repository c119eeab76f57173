"""Margin-to-boundary audit for rounding-gated strict oracles (r11 ADVICE).

Several strict hash matches rely on N-dp rounding absorbing cross-path FP
differences (Spark stddev vs the SQL moment identity; np.linalg.solve LU vs
Cramer CTEs). That is the repo's documented posture — but a corpus value
landing exactly on a rounding boundary would flake the gate, and the
correctness artifact alone can't tell a boundary flake from a real bug.

This tool re-runs the flagged queries with ``F.round`` neutralized (the
wrapper records each call's scale and returns the UNROUNDED column), then
reports, per query, the minimum distance of any produced cell to its own
rounding boundary (|frac(v * 10^dp) - 0.5| in ulps of the dp grid). A
margin near 0 means the strict gate for that query is one FP wobble from
flaking — re-derive the fed-forward literals before trusting a mismatch.

Usage: python tools/rounding_margin.py [--sf-dir DIR] [name ...]
Writes ROUNDING_MARGINS.json at the repo root and prints one line per query.
Named queries update their entries in an existing file for the same
--sf-dir and leave the other entries in place.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# the queries whose strict match the r11 ADVICE flagged as rounding-carried
FLAGGED = [
    "fa_scores_summary",
    "fa_loadings",
    "ml_huber_regression",
    "ml_conformal_interval",
    "events_theilsen_trend",
    "bootstrap_ci",
    "bootstrap_ci_grouped",
    # r12-borns whose strict match also flows through a round():
    # interpolated sample quantiles, latency/fertility ratios,
    # repetition fractions
    "sketch_quantile_kmv",
    "events_funnel",
    "text_bpe_fertility",
    "text_repetition",
    # the oracle's per-vector distortion is an unordered group sum
    # (sum(best.d)); the engine's is a left-assoc fold
    "sim_pq_encode",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*", default=None)
    args = ap.parse_args()
    names = args.names or FLAGGED

    import pyspark.sql.functions as F

    from urban_traffic_data_lake_project_spark.queries import REGISTRY
    from urban_traffic_data_lake_project_spark.session import get_spark

    spark = get_spark("rounding-margin")
    spark.sparkContext.setLogLevel("ERROR")

    orig_round = F.round
    scales: list[int] = []

    def spy_round(col, scale=0):
        scales.append(int(scale))
        if isinstance(col, str):
            col = F.col(col)
        return col.cast("double")  # unrounded

    out: dict[str, dict] = {}
    for name in names:
        spec = REGISTRY.get(name)
        if spec is None:
            print(f"SKIP {name}: not registered", flush=True)
            continue
        scales.clear()
        F.round = spy_round
        try:
            pdf = spec.fn(spark, args.sf_dir).toPandas()
        finally:
            F.round = orig_round
        dps = sorted(set(scales))
        min_margin = math.inf
        n_cells = 0
        for c in pdf.columns:
            if pdf[c].dtype.kind != "f":
                continue
            for v in pdf[c].dropna():
                # the query may round different columns at different dps;
                # a cell's binding margin is the tightest over the scales
                # the query actually used
                for dp in dps or [4]:
                    frac = (abs(v) * 10.0**dp) % 1.0
                    min_margin = min(min_margin, abs(frac - 0.5))
                n_cells += 1
        out[name] = {
            "dps_used": dps,
            "n_float_cells": n_cells,
            # in units of the dp grid (0.5 = mid-cell, safest; 0 = on the
            # boundary, one FP wobble from a strict-gate flake)
            "min_margin": None if min_margin is math.inf else round(min_margin, 6),
        }
        print(f"{name}: dps={dps} cells={n_cells} min_margin={out[name]['min_margin']}", flush=True)

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(here, "ROUNDING_MARGINS.json")
    if args.names and os.path.exists(path):
        with open(path) as f:
            prev = json.load(f)
        if prev.get("sf_dir") == args.sf_dir:
            out = {**prev["queries"], **out}
    with open(path, "w") as f:
        json.dump({"sf_dir": args.sf_dir, "queries": out}, f, indent=1)


if __name__ == "__main__":
    main()
