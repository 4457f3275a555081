"""What Spark itself reports, read from outside the program.

* ``StatusStore`` reads the application status store (jobs, stages)
  and the SQL status store (executions, plan graphs, SQL metrics)
  through py4j, serialising each listing to JSON in the JVM with the
  Jackson mapper Spark already ships, so one listing is one call.
* ``Window`` scopes jobs, stages and SQL executions to one timed
  window by their ids, which Spark hands out in increasing order.
* ``ProgressRecorder`` is a ``StreamingQueryListener`` keeping every
  micro-batch progress report.
"""

from __future__ import annotations

import json
import re

from pyspark.sql.streaming import StreamingQueryListener

# SQL plan nodes that run Python workers: scalar pandas_udf
# (ArrowEvalPython) and applyInPandasWithState.
PYTHON_NODE = re.compile(r"ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas|MapInPandas|PythonUDF")
PYTHON_METRICS = {
    "data sent to Python workers": "python.data_sent_bytes",
    "data returned from Python workers": "python.data_received_bytes",
    "number of output rows": "python.rows_returned",
}
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def parse_metric(text: str) -> float:
    """Value of one formatted SQL metric: '10,000', '0.0 B', or the
    'total (min, med, max ...)\\n78.7 KiB (...)' form; sizes in bytes."""
    line = text.split("\n")[-1].strip()
    m = re.match(r"([0-9.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1)


class StatusStore:
    def __init__(self, spark):
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._ctx = sc._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = sc._gateway.new_array(self._jvm.double, 0)
        mapper = self._jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(self._jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(getattr(scala, "MODULE$"))
        self._mapper = mapper

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def flush(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        stores hold everything that finished before this call."""
        self._ctx.listenerBus().waitUntilEmpty()

    def stages(self) -> list[dict]:
        empty = self._jvm.java.util.ArrayList
        return self._json(self._ctx.statusStore().stageList(empty(), False, False, self._no_quantiles, empty()))

    def jobs(self) -> list[dict]:
        return self._json(self._ctx.statusStore().jobsList(self._jvm.java.util.ArrayList()))

    def execution_ids(self) -> list[int]:
        return [int(e["executionId"]) for e in self._json(self._sql.executionsList())]

    def python_accumulators(self, execution_id: int) -> dict[int, str]:
        """Accumulator id -> metric key of the Python-worker SQL metrics
        in one execution's plan. A node that carries a name twice (the
        pandas-with-state node counts its output rows once for Python and
        once for the state operator) contributes it once."""
        nodes = self._json(self._sql.planGraph(execution_id).allNodes())
        wanted: dict[int, str] = {}
        for node in nodes:
            if PYTHON_NODE.search(node["name"]):
                seen = set()
                for m in node["metrics"]:
                    key = PYTHON_METRICS.get(m["name"])
                    if key is not None and key not in seen:
                        seen.add(key)
                        wanted[int(m["accumulatorId"])] = key
        return wanted

    def python_metrics(self, execution_id: int) -> dict[str, float]:
        """Sum of the Python-worker SQL metrics of one execution."""
        out = dict.fromkeys(PYTHON_METRICS.values(), 0.0)
        wanted = self.python_accumulators(execution_id)
        if wanted:
            values = self._json(self._sql.executionMetrics(execution_id))
            for acc, key in wanted.items():
                if str(acc) in values:
                    out[key] += parse_metric(values[str(acc)])
        return out

    def live_python_metrics(self, execution_id: int) -> dict[str, float]:
        """The same sums, read from the driver's accumulators while the
        execution's plan is still alive. A foreachBatch sink runs the
        micro-batch plan inside a nested execution, so the SQL store
        files the pandas-with-state node's task metrics under neither
        execution; the accumulators still hold them. Call it from the
        foreachBatch function, after its write has returned."""
        self.flush()
        out = dict.fromkeys(PYTHON_METRICS.values(), 0.0)
        accumulators = self._jvm.org.apache.spark.util.AccumulatorContext
        for acc, key in self.python_accumulators(execution_id).items():
            found = accumulators.get(acc)
            if found.isDefined():
                out[key] += float(found.get().value())
        return out

    def marks(self) -> tuple[int, int, int]:
        """Highest job, stage and SQL execution id seen so far."""
        self.flush()
        return (
            max((j["jobId"] for j in self.jobs()), default=-1),
            max((s["stageId"] for s in self.stages()), default=-1),
            max(self.execution_ids(), default=-1),
        )

    def window(self) -> "Window":
        return Window(self)


class Window:
    """Jobs, stages and SQL executions that started between ``open``
    and ``close``. Ids are increasing, so two back-to-back windows get
    disjoint sets."""

    def __init__(self, store: StatusStore):
        self.store = store
        self.start = self.end = None
        self.jobs: list[dict] = []
        self.stages: list[dict] = []
        self.executions: list[int] = []

    def open(self) -> "Window":
        self.start = self.store.marks()
        return self

    def close(self) -> "Window":
        self.end = self.store.marks()
        (j0, s0, e0), (j1, s1, e1) = self.start, self.end
        self.jobs = [j for j in self.store.jobs() if j0 < j["jobId"] <= j1]
        self.stages = [s for s in self.store.stages() if s0 < s["stageId"] <= s1]
        self.executions = [e for e in self.store.execution_ids() if e0 < e <= e1]
        return self

    def stage_ids(self) -> set[int]:
        return {s["stageId"] for s in self.stages}

    def totals(self) -> dict[str, float]:
        run = [s for s in self.stages if s["status"] != "SKIPPED"]
        out = {
            "spark.jobs": len(self.jobs),
            "spark.stages": len({s["stageId"] for s in run}),
            "spark.tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in run),
            "spark.failed_tasks": sum(s["numFailedTasks"] for s in run),
            "spark.executor_run_ms": sum(s["executorRunTime"] for s in run),
            "spark.executor_cpu_ms": sum(s["executorCpuTime"] for s in run) / 1e6,
            "spark.jvm_gc_ms": sum(s["jvmGcTime"] for s in run),
            "spark.shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in run),
            "spark.shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in run),
            "spark.spill_bytes": sum(s["diskBytesSpilled"] for s in run),
            "spark.result_bytes": sum(s["resultSize"] for s in run),
            "spark.output_bytes": sum(s["outputBytes"] for s in run),
        }
        out.update(dict.fromkeys(PYTHON_METRICS.values(), 0.0))
        for e in self.executions:
            for k, v in self.store.python_metrics(e).items():
                out[k] += v
        return out

    def jobs_between(self, start_s: float, end_s: float) -> int:
        """Jobs submitted inside [start_s, end_s] (epoch seconds)."""
        return sum(1 for j in self.jobs if start_s * 1e3 <= (j.get("submissionTime") or -1) <= end_s * 1e3)


class ProgressRecorder(StreamingQueryListener):
    """Keeps each micro-batch progress report as a dict, and the
    exception of any query that terminated. Callbacks arrive on py4j
    threads; list appends are atomic, so readers need no lock."""

    def __init__(self):
        super().__init__()
        self.progress: list[dict] = []
        self.terminated: list[str | None] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.terminated.append(event.exception)
