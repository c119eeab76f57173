"""Per-layer counters read from Spark's in-process status stores.

Nothing here changes the program: an ``OpProbe`` takes a snapshot of the
application status store (jobs, stages) and the SQL status store
(executions, plan-node metrics) before an operation, and reads what was
added when it ends. Both stores are filled by listeners that run with
``spark.ui.enabled=false``. Listener events arrive asynchronously, so
``finish`` first waits for the listener bus to drain.

Jobs belong to an operation by their submit time, which also catches jobs
that lost the operation's job group because they were submitted from a
worker thread; those are counted as unlabelled.
"""

from __future__ import annotations

import json
import re
import time
from collections import Counter

from pyspark.sql import DataFrame, SparkSession

_MB = 1024.0 * 1024.0
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")
# plan nodes that hand rows to Python workers through Arrow or pickling
_PYTHON_NODE = re.compile(r"Python|Pandas|Arrow")


def metric_value(text: str) -> float:
    """Parse one SQL metric as the status store prints it: a plain count
    (``"1,234"``) or, for size and timing metrics, a ``total (min, med,
    max)`` header whose second line starts with the total and its unit."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line.strip())
    if not m:
        return 0.0
    value, unit = float(m.group(1).replace(",", "")), m.group(2)
    return value * _SIZE_UNITS.get(unit, 1) * _TIME_UNITS.get(unit, 1.0) if unit else value


class OpProbe:
    """Snapshots of the status stores around operations run one at a time."""

    def __init__(self, spark: SparkSession, group: str):
        self._spark = spark
        jvm = spark._jvm
        self._app = spark.sparkContext._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._bus = spark.sparkContext._jsc.sc().listenerBus()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala, "MODULE$"))
        self._empty = jvm.java.util.ArrayList()
        self._no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
        self._group = group
        self.busy_s = 0.0  # wall time spent reading the stores
        self._drain()
        self._job = self._newest_id(self._jobs(), "jobId")
        self._stage = self._newest_id(self._stages(), "stageId")
        self._exec = self._newest_id(self._sql.executionsList(), "executionId")

    # -- store access ---------------------------------------------------
    def _json(self, obj) -> object:
        return json.loads(self._mapper.writeValueAsString(obj))

    def _drain(self) -> None:
        self._bus.waitUntilEmpty()

    def _jobs(self):
        return self._app.jobsList(self._empty)

    def _stages(self):
        return self._app.stageList(self._empty, False, False, self._no_quantiles, self._empty)

    @staticmethod
    def _newest_id(seq, field: str) -> int:
        n = seq.size()
        if n == 0:
            return -1
        return max(getattr(seq.apply(0), field)(), getattr(seq.apply(n - 1), field)())

    def _since(self, seq, field: str, last: int) -> list[dict]:
        """Entries with an id above ``last``. The stores list newest first
        or oldest first depending on the store, so walk in from the end
        that holds the newest entry and serialise only what is new."""
        n = seq.size()
        if n == 0:
            return []
        newest_first = getattr(seq.apply(0), field)() >= getattr(seq.apply(n - 1), field)()
        out = []
        for k in range(n):
            item = seq.apply(k if newest_first else n - 1 - k)
            if getattr(item, field)() <= last:
                break
            out.append(self._json(item))
        return out

    # -- one operation --------------------------------------------------
    def label(self, op: str) -> None:
        self._spark.sparkContext.setJobGroup(self._group, op)

    def finish(self, t0_ms: float, t1_ms: float) -> dict[str, float]:
        """Counters for everything that ran since the previous snapshot;
        ``t0_ms``/``t1_ms`` bound the operation's own wall time."""
        started = time.perf_counter()
        self._drain()
        jobs = self._since(self._jobs(), "jobId", self._job)
        stages = self._since(self._stages(), "stageId", self._stage)
        execs = self._since(self._sql.executionsList(), "executionId", self._exec)
        self._job = max([self._job] + [j["jobId"] for j in jobs])
        self._stage = max([self._stage] + [s["stageId"] for s in stages])
        self._exec = max([self._exec] + [e["executionId"] for e in execs])

        # jobs run between operations (output checks) belong to none
        def inside(t) -> bool:
            return t is not None and t0_ms - 1 <= t <= t1_ms + 1

        in_window = [j for j in jobs if inside(j.get("submissionTime"))]
        spans = sorted(
            (j["submissionTime"], j.get("completionTime") or t1_ms) for j in in_window
        )
        covered, end = 0.0, t0_ms
        for s, e in spans:
            s, e = max(s, end), min(e, t1_ms)
            if e > s:
                covered += e - s
                end = e
        stage_ids = {s for j in in_window for s in j["stageIds"]}
        ran = [
            s for s in stages
            if s["stageId"] in stage_ids and s.get("status") in ("COMPLETE", "FAILED")
        ]
        execs = [e for e in execs if inside(e.get("submissionTime"))]
        c = {
            "jobs": len(in_window),
            "unlabelled_jobs": sum(1 for j in in_window if j.get("jobGroup") != self._group),
            "stages": len(ran),
            "tasks": sum(s["numTasks"] for s in ran),
            "failed_tasks": sum(s["numFailedTasks"] for s in ran),
            "executor_run_s": sum(s["executorRunTime"] for s in ran) / 1e3,
            "executor_cpu_s": sum(s["executorCpuTime"] for s in ran) / 1e9,
            "gc_s": sum(s["jvmGcTime"] for s in ran) / 1e3,
            "shuffle_read_mb": sum(s["shuffleReadBytes"] for s in ran) / _MB,
            "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in ran) / _MB,
            "spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in ran) / _MB,
            "input_mb": sum(s["inputBytes"] for s in ran) / _MB,
            "output_mb": sum(s["outputBytes"] for s in ran) / _MB,
            "output_rows": sum(s["outputRecords"] for s in ran),
            "driver_idle_s": max(0.0, (t1_ms - t0_ms) - covered) / 1e3,
        }
        c.update(self._plan_nodes(execs))
        self.busy_s += time.perf_counter() - started
        return c

    def _plan_nodes(self, execs: list[dict]) -> dict[str, float]:
        """Scan and Python-node totals from the SQL plan-node metrics."""
        totals: Counter = Counter()
        for e in execs:
            values = self._json(self._sql.executionMetrics(e["executionId"]))
            nodes = self._json(self._sql.planGraph(e["executionId"]).allNodes())
            for node in nodes:
                metrics = {
                    m["name"]: metric_value(values[str(m["accumulatorId"])])
                    for m in node.get("metrics", [])
                    if str(m["accumulatorId"]) in values
                }
                name = node["name"]
                if name.startswith("Scan") or name == "Range":
                    totals["files_read"] += metrics.get("number of files read", 0)
                    totals["rows_scanned"] += metrics.get("number of output rows", 0)
                elif _PYTHON_NODE.search(name) and "Exchange" not in name:
                    totals["python_nodes"] += 1
                    totals["python_rows_out"] += metrics.get("number of output rows", 0)
                    totals["python_mb_sent"] += metrics.get("data sent to Python workers", 0) / _MB
                    totals["python_mb_returned"] += (
                        metrics.get("data returned from Python workers", 0) / _MB
                    )
                    # task time, summed over tasks; it covers the worker
                    # start and initialisation metrics beside it
                    totals["python_time_s"] += metrics.get("time to run Python workers", 0)
        return dict(totals)

    def catalyst_ms(self, df: DataFrame) -> dict[str, float]:
        """Analysis, optimisation and planning time of ``df``'s own query
        execution. Planning is forced here, outside any timed window."""
        started = time.perf_counter()
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = self._json(qe.tracker().phases())
        self.busy_s += time.perf_counter() - started
        return {
            f"{k}_ms": float(v["endTimeMs"] - v["startTimeMs"])
            for k, v in phases.items()
            if k in ("analysis", "optimization", "planning")
        }

    def persisted_rdds(self) -> int:
        return self._spark.sparkContext._jsc.getPersistentRDDs().size()
