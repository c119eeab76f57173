"""Write the benchmark's expected outputs:

- ``perfbench/oracle_hashes.json``: the DuckDB oracle's output hash for
  every query of the query workload, at each table size it runs;
- ``perfbench/medallion_counts.json``: the silver and merged row counts of
  one medallion pass at every fixture seed.

Run from the repository root after a change to the query list, the tables,
a query's oracle SQL or the pipeline's cleaning rules:

    python3 perfbench/oracle.py [hashes|counts]

The inputs do not depend on ``--seed`` beyond a choice among fixed ones, so
the expectations are computed once here rather than in every run; some
oracles take minutes in DuckDB (``bootstrap_ci`` replays 1,000 replicate
weights per row).
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.run import (  # noqa: E402
    COUNTS, DATA, FIT_ARROW, FIXTURE_SEEDS, HASHES, MEDALLION_ROWS, QUERY_SF, SMOKE_QUERY_SF,
    Medallion, Run, work_dir,
)


def oracle_hashes(sf: float) -> dict[str, str]:
    import duckdb

    from tools.check_oracle import frame_hash, normalize
    from urban_traffic_data_lake_project_spark.queries import REGISTRY
    from urban_traffic_data_lake_project_spark.sources import TESTDATA_TABLES

    out = {}
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA / f'sf{sf}' / t}.parquet'")
    for name in FIT_ARROW:
        t0 = time.perf_counter()
        out[name] = frame_hash(normalize(con.execute(REGISTRY[name].oracle).df()))
        print(f"sf{sf} {name}: {time.perf_counter() - t0:.1f} s", file=sys.stderr, flush=True)
    con.close()
    return out


def medallion_counts() -> dict[str, dict[str, int]]:
    from urban_traffic_data_lake_project_spark.plans import pipeline as P

    run = Run(argparse.Namespace(trace=0), work_dir())
    out = {}
    try:
        run.start_session()
        for seed in FIXTURE_SEEDS:
            wl = Medallion(run, MEDALLION_ROWS, seed)
            paths = P.LayerPaths(str(run.work / "lake"))
            for step in wl.steps(paths).values():
                step()
            bad, out[str(seed)] = wl.check(paths)
            shutil.rmtree(paths.base)
            if bad:
                raise SystemExit(f"fixture seed {seed}: invariants fail after {bad}")
            print(f"seed {seed}: {out[str(seed)]}", file=sys.stderr, flush=True)
    finally:
        run.stop_session()
        shutil.rmtree(run.work, ignore_errors=True)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("what", nargs="?", choices=("hashes", "counts"))
    what = ap.parse_args().what
    if what in (None, "hashes"):
        hashes = {str(sf): oracle_hashes(sf) for sf in (SMOKE_QUERY_SF, QUERY_SF)}
        HASHES.write_text(json.dumps(hashes, indent=2, sort_keys=True) + "\n")
    if what in (None, "counts"):
        counts = {str(MEDALLION_ROWS): medallion_counts()}
        COUNTS.write_text(json.dumps(counts, indent=2, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
