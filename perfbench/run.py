"""Lake benchmark: the medallion pipeline and the fit/Arrow query mix.

Run from the repository root:

    python3 perfbench/run.py --workload medallion_200rows --seed 1 --seconds 1 --trace 0

One process, one SparkSession on ``local[4]`` and one closed-loop client:
the next operation starts when the previous one has finished. An operation
is a pipeline stage or a registry query.

Workloads:

- ``medallion_200rows``: one pass is ``run_bronze -> run_silver ->
  run_merge -> run_gold`` at ``MEDALLION_ROWS`` rows into a fresh lake
  directory, with a fixture seed drawn from ``--seed``.
- ``queries_fit_arrow``: one pass runs ``FIT_ARROW`` once each, in that
  order, over the repository's reference star-schema tables at ``QUERY_SF``
  (a copy under ``perfbench/data``). The inputs do not depend on
  ``--seed``.

Set-up is the session start; then passes start until ``--seconds`` have
elapsed (at least one). The first pass runs cold, paying JIT and
code-generation warm-up as every fresh run of a batch job does. A pass
right after it is still on the JIT's warm-up slope and times less steadily
than a cold one, and a warm-up pass on top would take a run past a minute;
so at the benchmark's run length a run measures one cold pass.

Every operation's output is checked: query results against the DuckDB oracle's
hash under ``tools/check_oracle.py``'s normalisation, pipeline passes
against the invariants of ``tests/test_pipeline.py`` and against the silver
and merged row counts recorded for their fixture seed. A mismatch or an
exception counts as a failed operation, never as a timing.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` reads Spark's
status stores around every operation and prints the per-layer metrics.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--smoke`` shrinks the query tables so the
harness can be checked quickly.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from collections import Counter
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "urban_traffic_data_lake_project_spark"
# what the benchmark imports from outside its own directory
NEEDS = (f"{PACKAGE}/__init__.py", "tools/check_oracle.py")

MEDALLION_ROWS = 200
# Fixture seeds on which silver's iqr_clip settles its percentiles in one
# round (24 silver jobs). At MEDALLION_ROWS about half of all seeds fail
# there ("exact_percentiles: band ... misses rank"), a program defect, and
# most others re-run percentile rounds (54-150 jobs), which would make the
# pass time depend on the seed rather than on the code.
FIXTURE_SEEDS = (0, 1, 2, 3, 4, 14)
QUERY_SF, SMOKE_QUERY_SF = 0.01, 0.001
# The reference test tables (seed 42), copied here because a run reads only
# inside its checkout. They are the same in every run, so the expected
# outputs are computed once, by perfbench/oracle.py: each query's oracle
# hash, and each fixture seed's silver and merged row counts.
DATA = HERE / "data"
HASHES = HERE / "oracle_hashes.json"
COUNTS = HERE / "medallion_counts.json"
# queries bound by Spark-driver round trips: Lloyd rounds, bootstrap fits,
# docsim, LSH and the AvailableNow stream drain. The order is fixed: over
# ten seeded orders a cold pass took 70-94 CPU seconds, lowest mostly where
# text_docsim_topk ran before dedup_minhash_lsh, which widened the spread.
FIT_ARROW = (
    "bootstrap_ci",
    "sim_cosine_topk_ivf_trained",
    "text_docsim_topk",
    "dedup_minhash_lsh",
    "stream_ks_drift",
)
STAGES = ("bronze", "silver", "merge", "gold")
_CLOCK_TICKS = os.sysconf("SC_CLK_TCK")

# name -> unit; --trace 0 prints END_TO_END, --trace 1 prints PER_LAYER
# A pass's CPU seconds, not its wall time, is the end-to-end cost. On a
# shared 4-core host that steals CPU in bursts, the wall time of a pass
# spread (IQR/median over ten runs) 0.11-0.18 in four sets where its CPU
# time spread 0.06-0.12, and 0.24-0.28 in slower phases. The wall time is
# the per-layer trace.pass_s.
END_TO_END = {"setup_s": "s", "pass_cpu_s": "s"}
_SPARK = {
    "jobs": "count", "unlabelled_jobs": "count", "stages": "count", "tasks": "count",
    "failed_tasks": "count", "executor_run_s": "s", "executor_cpu_s": "s", "gc_s": "s",
    "shuffle_read_mb": "MB", "shuffle_write_mb": "MB", "spill_mb": "MB", "input_mb": "MB",
    "output_mb": "MB", "driver_idle_s": "s",
}
_OPERATORS = {
    "python_nodes": "count", "python_rows_out": "count", "python_mb_sent": "MB",
    "python_mb_returned": "MB", "python_time_s": "s",
}
PER_LAYER = {
    **{f"pipeline.{s}_{k}": u for s in STAGES
       for k, u in (("s", "s"), ("jobs", "count"), ("files_written", "count"), ("mb_written", "MB"))},
    "lake.files": "count",
    "lake.bytes_per_raw_byte": "ratio",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.action_s": "s",
    "queries.action_jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    **{f"spark.{k}": u for k, u in _SPARK.items()},
    "spark.persisted_rdds": "count",
    "sources.files_read": "count",
    "sources.rows_scanned": "count",
    "sources.rows_out": "count",
    "sources.rows_scanned_per_row_out": "ratio",
    **{f"operators.{k}": u for k, u in _OPERATORS.items()},
    "process.peak_rss_mb": "MB",
    "check.s": "s",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
}


class Run:
    """One benchmark run: the session, the client loop and its tallies."""

    def __init__(self, args: argparse.Namespace, work: Path):
        self.args, self.work = args, work
        self.spark = None
        self.probe = None
        self.attempted = self.failed = 0
        self.jvm_pid = 0
        self.pass_s: list[float] = []
        self.pass_cpu_s: list[float] = []
        # time spent checking outputs, left out of pass_s and pass_cpu_s
        self.check_s = self.check_cpu_s = 0.0
        self.layers: list[Counter] = []  # per measured pass, traced runs only

    def fail(self, what: str, n: int = 1) -> None:
        self.failed += n
        print(f"perfbench: FAILED {what}", file=sys.stderr, flush=True)

    def start_session(self) -> None:
        from urban_traffic_data_lake_project_spark.session import get_spark

        self.spark = get_spark(
            "perfbench",
            master="local[4]",
            extra_conf={
                "spark.local.dir": str(self.work / "local"),
                "spark.sql.warehouse.dir": str(self.work / "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def stop_session(self) -> None:
        """Stop Spark, end the JVM and wait for it and its Python workers."""
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        pids = _process_tree(self.jvm_pid)
        self.spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits on end of input
        gateway.proc.wait(timeout=60)
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
            time.sleep(0.05)

    def timed(self, layer: Counter | None, op: str, fn):
        """Run ``fn`` as (part of) one operation. Returns its result, its
        wall time and, when traced, the status-store counters of its window."""
        if self.probe:
            self.probe.label(op)
        w0 = time.time() * 1000
        t0 = time.perf_counter()
        out = fn()
        dt = time.perf_counter() - t0
        c: dict = {}
        if self.probe and layer is not None:
            c = self.probe.finish(w0, w0 + dt * 1000)
            for k in _SPARK:
                layer[f"spark.{k}"] += c.get(k, 0)
            for k in _OPERATORS:
                layer[f"operators.{k}"] += c.get(k, 0)
            for k in ("files_read", "rows_scanned"):
                layer[f"sources.{k}"] += c.get(k, 0)
        return out, dt, c

    def checked(self, fn):
        """Run an output check outside the pass timing."""
        cpu0, t0 = self.cpu_s(), time.perf_counter()
        out = fn()
        self.check_s += time.perf_counter() - t0
        self.check_cpu_s += self.cpu_s() - cpu0
        return out

    def cpu_s(self) -> float:
        """User plus system CPU seconds used so far by this process, the
        driver JVM and its Python workers. A worker that has exited is
        counted in its parent's children's time. Time the host steals from
        this machine's CPUs is not counted, so this repeats where wall time
        does not."""
        t = os.times()
        total = t.user + t.system
        for pid in _process_tree(self.jvm_pid):
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            # utime, stime, cutime, cstime
            total += sum(int(f) for f in fields[11:15]) / _CLOCK_TICKS
        return total

    def measure(self, one_pass, seconds: float) -> None:
        """Closed loop: start passes until ``seconds`` have elapsed."""
        if self.args.trace:
            from perfbench.trace import OpProbe

            self.probe = OpProbe(self.spark, "perfbench")
        start = time.perf_counter()
        while not self.pass_s or time.perf_counter() - start < seconds:
            layer: Counter | None = Counter() if self.probe else None
            busy0 = self.probe.busy_s if self.probe else 0.0
            check0, check_cpu0 = self.check_s, self.check_cpu_s
            cpu0, t0 = self.cpu_s(), time.perf_counter()
            one_pass(layer)
            self.pass_s.append(time.perf_counter() - t0 - (self.check_s - check0))
            self.pass_cpu_s.append(self.cpu_s() - cpu0 - (self.check_cpu_s - check_cpu0))
            if layer is not None:
                layer["check.s"] = self.check_s - check0
                layer["trace.pass_s"] = self.pass_s[-1]
                layer["trace.overhead_s"] = self.probe.busy_s - busy0
                layer["spark.persisted_rdds"] = self.probe.persisted_rdds()
                self.layers.append(layer)


# -- medallion -----------------------------------------------------------------
class Medallion:
    def __init__(self, run: Run, n_rows: int, seed: int):
        self.run, self.n_rows, self.seed = run, n_rows, seed
        # silver and merged row counts this fixture seed must repeat
        self.expected: dict[str, int] | None = None

    def steps(self, paths) -> dict:
        """The pipeline's stages, in order, as calls into ``plans.pipeline``."""
        from urban_traffic_data_lake_project_spark.plans import pipeline as P

        spark, seed = self.run.spark, self.seed
        return {
            "bronze": lambda: P.run_bronze(spark, paths, self.n_rows, seed),
            "silver": lambda: P.run_silver(spark, paths),
            "merge": lambda: P.run_merge(spark, paths),
            "gold": lambda: P.run_gold(spark, paths, seed),
        }

    def one_pass(self, layer: Counter | None) -> None:
        from urban_traffic_data_lake_project_spark.plans import pipeline as P

        run = self.run
        paths = P.LayerPaths(str(run.work / "lake"))
        steps = self.steps(paths)
        outputs = {
            "bronze": [paths.bronze],
            "silver": [f"{paths.silver}/traffic_clean", f"{paths.silver}/weather_clean"],
            "merge": [f"{paths.silver}/merged_data"],
            "gold": [paths.gold],
        }
        try:
            for i, stage in enumerate(STAGES):
                run.attempted += 1
                try:
                    _, dt, c = run.timed(layer, stage, steps[stage])
                except Exception:  # noqa: BLE001 - a failed stage is a measured outcome
                    traceback.print_exc()
                    # later stages read this one's output: they fail with it
                    run.attempted += len(STAGES) - i - 1
                    run.fail(f"medallion stage {stage}", len(STAGES) - i)
                    return
                if layer is not None:
                    files, size = _tree_size(outputs[stage])
                    layer[f"pipeline.{stage}_s"] += dt
                    layer[f"pipeline.{stage}_jobs"] += c["jobs"]
                    layer[f"pipeline.{stage}_files_written"] += files
                    layer[f"pipeline.{stage}_mb_written"] += size / 2**20
                    layer["sources.rows_out"] += c["output_rows"]
            bad, counts = run.checked(lambda: self.check(paths))
            if counts != self.expected:
                bad.append(f"merge (row counts {counts}, expected {self.expected})")
            for stage in bad:
                run.fail(f"medallion invariant after {stage}")
            if layer is not None:
                raw = _tree_size([paths.bronze])[1]
                files, size = _tree_size([paths.silver, paths.gold])
                layer["lake.files"] = files
                layer["lake.bytes_per_raw_byte"] = size / raw
        finally:
            shutil.rmtree(paths.base, ignore_errors=True)

    def check(self, paths) -> tuple[list[str], dict[str, int]]:
        """Stages whose output breaks an invariant, and the silver and
        merged row counts."""
        from pyspark.sql import functions as F

        from urban_traffic_data_lake_project_spark.plans import pipeline as P

        spark, bad, counts = self.run.spark, [], {}
        for name, key, filled in (
            ("traffic_clean", "traffic_id", P.TRAFFIC_CATEGORICALS + P.TRAFFIC_NUMERICS),
            ("weather_clean", "weather_id", P.WEATHER_CATEGORICALS + P.WEATHER_NUMERICS),
        ):
            df = spark.read.parquet(f"{paths.silver}/{name}")
            row = df.agg(
                F.count(F.lit(1)).alias("n"),
                *[F.sum(F.col(c).isNull().cast("int")).alias(c) for c in filled],
            ).first()
            counts[name] = row["n"]
            # NULL keys collapse to one survivor, so distinct() counts them
            if df.select(key).distinct().count() != row["n"] or any(row[c] for c in filled):
                bad.append("silver")
        counts["merged_data"] = spark.read.parquet(f"{paths.silver}/merged_data").count()
        scenarios = spark.read.parquet(f"{paths.gold}/monte_carlo_scenarios").count()
        ci = spark.read.parquet(f"{paths.gold}/monte_carlo_results").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((~((F.col("ci_lower_95") <= F.col("mean_estimate"))
                     & (F.col("mean_estimate") <= F.col("ci_upper_95")))).cast("int")).alias("bad"),
        ).first()
        factors = spark.read.parquet(f"{paths.gold}/traffic_weather_factors").count()
        if scenarios != 4 or not ci["n"] or ci["bad"] or factors != counts["merged_data"]:
            bad.append("gold")
        return bad, counts


def _tree_size(dirs: list[str]) -> tuple[int, int]:
    """Data files under ``dirs`` (not ``_SUCCESS`` or ``.crc``) and their bytes."""
    files = size = 0
    for d in dirs:
        for parent, _, names in os.walk(d):
            for n in names:
                if not n.startswith((".", "_")):
                    files += 1
                    size += os.path.getsize(os.path.join(parent, n))
    return files, size


def _process_tree(pid: int) -> list[int]:
    """``pid`` and its descendants. A child is listed under the thread that
    started it, so every thread's list is read."""
    kids = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            try:
                with open(f"/proc/{pid}/task/{tid}/children") as fh:
                    kids += [int(p) for p in fh.read().split()]
            except OSError:
                pass
    except OSError:
        pass
    return [pid] + [q for k in kids for q in _process_tree(k)]


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory of the driver JVM plus its Python workers."""
    total_kb = 0
    for pid in _process_tree(jvm_pid):
        try:
            with open(f"/proc/{pid}/status") as fh:
                total_kb += next((int(l.split()[1]) for l in fh if l.startswith("VmHWM:")), 0)
        except OSError:
            pass
    return total_kb / 1024.0


# -- query mix -----------------------------------------------------------------
class Queries:
    def __init__(self, run: Run, names: tuple[str, ...], sf: float):
        self.run, self.names, self.sf = run, names, sf
        self.sf_dir = str(DATA / f"sf{sf}")
        self.reference: dict[str, str] = {}

    def prepare(self) -> None:
        """Load each query's oracle hash."""
        from urban_traffic_data_lake_project_spark.streaming import windows

        self.reference = json.loads(HASHES.read_text())[str(self.sf)]
        # stream_ks_drift's streaming drain checkpoints under a per-process
        # root, on /dev/shm when it can; a run writes only inside its
        # checkout, so the root is this run's directory on disk
        (self.run.work / "checkpoints").mkdir()
        windows._CKPT_ROOT = str(self.run.work / "checkpoints")

    def one_pass(self, layer: Counter | None) -> None:
        from tools.check_oracle import frame_hash, normalize
        from urban_traffic_data_lake_project_spark.queries import REGISTRY

        run = self.run
        for name in self.names:
            run.attempted += 1
            try:
                df, build_s, built = run.timed(
                    layer, name, lambda: REGISTRY[name].fn(run.spark, self.sf_dir)
                )
                if layer is not None:
                    for k, v in run.probe.catalyst_ms(df).items():
                        layer[f"catalyst.{k}"] += v
                pdf, action_s, acted = run.timed(layer, name, df.toPandas)
            except Exception:  # noqa: BLE001 - a failed query is a measured outcome
                traceback.print_exc()
                run.fail(f"query {name}")
                continue
            if run.checked(lambda: frame_hash(normalize(pdf))) != self.reference[name]:
                run.fail(f"query {name}: output differs from the oracle")
                continue
            if layer is not None:
                layer["queries.build_s"] += build_s
                layer["queries.build_jobs"] += built["jobs"]
                layer["queries.action_s"] += action_s
                layer["queries.action_jobs"] += acted["jobs"]
                layer["sources.rows_out"] += len(pdf)


def execute(run: Run) -> dict:
    args = run.args
    if args.workload == "medallion_200rows":
        wl = Medallion(run, MEDALLION_ROWS, FIXTURE_SEEDS[args.seed % len(FIXTURE_SEEDS)])
        # a seed with no recorded counts is an error, not a first record
        wl.expected = json.loads(COUNTS.read_text())[str(wl.n_rows)][str(wl.seed)]
    else:
        wl = Queries(run, FIT_ARROW, SMOKE_QUERY_SF if args.smoke else QUERY_SF)
        wl.prepare()  # inputs are not part of set-up
    t0 = time.perf_counter()
    run.start_session()
    setup_s = time.perf_counter() - t0
    run.measure(wl.one_pass, args.seconds)
    print(
        f"perfbench: {args.workload}: {len(run.pass_s)} passes measured, "
        f"median {statistics.median(run.pass_s):.1f} s wall; "
        f"{run.failed} of {run.attempted} operations failed",
        file=sys.stderr, flush=True,
    )

    if args.trace:
        values = {
            k: statistics.median(layer.get(k, 0) for layer in run.layers) for k in PER_LAYER
        }
        rows_out = values["sources.rows_out"]
        values["sources.rows_scanned_per_row_out"] = (
            values["sources.rows_scanned"] / rows_out if rows_out else 0.0
        )
        values["process.peak_rss_mb"] = peak_rss_mb(run.jvm_pid)
        units = PER_LAYER
    else:
        values = {
            "setup_s": setup_s,
            "pass_cpu_s": statistics.median(run.pass_cpu_s),
        }
        units = END_TO_END
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }


def work_dir() -> Path:
    """This process's directory under the checkout, with the environment
    set so Spark, its Python workers and temporary files stay inside it."""
    work = ROOT / ".perfbench" / f"run-{os.getpid()}"
    for d in ("tmp", "local", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    # Python workers import the package whatever the working directory is
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tempfile.tempdir = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    return work


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("medallion_200rows", "queries_fit_arrow"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny query tables, for checking the harness")
    args = ap.parse_args(argv)

    missing = [p for p in NEEDS if not (ROOT / p).is_file()]
    if missing:
        print(f"perfbench: {', '.join(missing)} not found under {ROOT}", file=sys.stderr)
        return 2
    run = Run(args, work_dir())
    try:
        result = execute(run)
    finally:
        run.stop_session()
        shutil.rmtree(run.work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
