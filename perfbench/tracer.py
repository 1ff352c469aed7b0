"""Per-layer tracing of one query execution, read from outside the engine.

The tracer times the calls into each layer from the benchmark and reads the
counters Spark already keeps, which are populated even with the UI off:

- spans ``query``, ``construct`` and ``exec``, kept in memory;
- ``construct.*`` and ``exec.*`` from the application status store
  (``lastStageAttempt``) for the stages of each phase's job group;
- ``catalyst.*``, ``scan.*`` and ``python.*`` from the QueryExecution that
  ran the noop write, delivered by a ``QueryExecutionListener``, plus the
  analysis of the DataFrame's own plan, which runs during construction;
- ``codegen.*`` from the JVM's cumulative codegen counters.
"""

from __future__ import annotations

import time

from pyspark.java_gateway import ensure_callback_server_started

SCAN_NODE = "FileSourceScanExec"
EXCHANGE_NODES = ("ShuffleExchangeExec", "BroadcastExchangeExec")
PYTHON_NODES = ("Python", "Pandas", "InArrow")  # e.g. MapInArrowExec, ArrowEvalPythonExec
# plan metric of a Python-evaluating node -> per-layer metric.  Spark
# counts pythonInitTime of a reused worker from that worker's start, so
# python.init_ms grows with worker age once workers are reused; the
# benchmark's totals take it, and python.start_ms, from the first pass.
PYTHON_METRICS = {
    "pythonBootTime": "python.start_ms",
    "pythonInitTime": "python.init_ms",
    "pythonTotalTime": "python.run_ms",
    "pythonDataSent": "python.bytes_sent",
    "pythonDataReceived": "python.bytes_returned",
}
CATALYST_PHASES = ("analysis", "optimization", "planning")


class _ExecutionListener:
    """Keeps each successful QueryExecution; Spark calls it on the listener
    bus thread through the py4j callback server."""

    def __init__(self) -> None:
        self.executions: list = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java interface)
        self.executions.append(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _plan_nodes(node):
    """Every node of an executed plan, looking inside adaptive plans and
    query stages; a reused exchange is not walked again."""
    yield node
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        children = [node.executedPlan()]
    elif cls.endswith("QueryStageExec"):
        children = [node.plan()]
    else:
        children = _seq(node.children())
    for child in children:
        yield from _plan_nodes(child)


def _phase_ms(qe, phase: str) -> int:
    summary = qe.tracker().phases().get(phase)
    return summary.get().durationMs() if summary.isDefined() else 0


def _node_metrics(node) -> dict[str, int]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out


class Tracer:
    """Spans and per-layer counters for queries run on one session."""

    def __init__(self, spark, t0: float) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        jvm = self.sc._jvm
        self.t0 = t0
        self.spans: list[dict] = []
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._compilations = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        ensure_callback_server_started(self.sc._gateway)
        self._listener = _ExecutionListener()
        self._listeners = spark._jsparkSession.listenerManager()
        self.attach()

    def attach(self) -> None:
        self._listeners.register(self._listener)

    def detach(self) -> None:
        """Stop receiving QueryExecutions, so untraced queries pay nothing."""
        self._bus.waitUntilEmpty()
        self._listeners.unregister(self._listener)

    def _now(self) -> float:
        return time.perf_counter() - self.t0

    def _codegen_counts(self) -> tuple[int, int]:
        return self._compilations.getCount(), self._codegen.compileTime()

    def _span(self, name: str, qid: str, parent: str | None, start: float, end: float) -> None:
        self.spans.append(
            {"name": name, "query_id": qid, "parent": parent, "start": round(start, 6),
             "end": round(end, 6)}
        )

    def execute(self, qid: str, construct, write) -> tuple[float, dict]:
        """Run ``write(construct())`` as query ``qid``; return its latency and
        its per-layer record."""
        self._bus.waitUntilEmpty()
        self._listener.executions.clear()
        cg0 = self._codegen_counts()
        start = self._now()
        self.sc.setJobGroup(f"{qid}/construct", qid)
        df = construct()
        mid = self._now()
        built_plan = df._jdf.queryExecution()
        self.sc.setJobGroup(f"{qid}/exec", qid)
        write(df)
        end = self._now()
        cg1 = self._codegen_counts()
        self.sc.setJobGroup(None, None)
        self._span("query", qid, None, start, end)
        self._span("construct", qid, "query", start, mid)
        self._span("exec", qid, "query", mid, end)

        self._bus.waitUntilEmpty()
        record = {
            "construct_s": mid - start,
            "exec_s": end - mid,
            "codegen.compilations": cg1[0] - cg0[0],
            "codegen.compile_ms": (cg1[1] - cg0[1]) / 1e6,
        }
        built = self._stages(f"{qid}/construct")
        record["construct.jobs"] = built["jobs"]
        record["construct.input_bytes"] = built["input_bytes"]
        ran = self._stages(f"{qid}/exec")
        record.update(
            {
                "exec.stages": ran["stages"],
                "exec.tasks": ran["tasks"],
                "exec.max_stage_tasks": ran["max_stage_tasks"],
                "exec.run_s": ran["run_ms"] / 1e3,
                "exec.cpu_s": ran["cpu_ns"] / 1e9,
                "exec.gc_s": ran["gc_ms"] / 1e3,
                "exec.shuffle_write_bytes": ran["shuffle_write_bytes"],
                "exec.shuffle_read_bytes": ran["shuffle_read_bytes"],
                "exec.spill_bytes": ran["spill_bytes"],
                "scan.bytes_read": ran["input_bytes"],
            }
        )
        record.update(self._plan(self._listener.executions[-1]))
        # the DataFrame's own plan was analysed while it was constructed
        record["catalyst.analysis_ms"] += _phase_ms(built_plan, "analysis")
        return end - start, record

    def _stages(self, group: str) -> dict[str, int]:
        """Totals over the completed stages of one job group."""
        tracker = self.sc.statusTracker()
        out = dict.fromkeys(
            ("stages", "tasks", "max_stage_tasks", "run_ms", "cpu_ns", "gc_ms",
             "input_bytes", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"),
            0,
        )
        jobs = tracker.getJobIdsForGroup(group)
        out["jobs"] = len(jobs)
        stage_ids = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
        for sid in sorted(stage_ids):
            st = self._store.lastStageAttempt(sid)
            if st.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            tasks = st.numCompleteTasks()
            out["stages"] += 1
            out["tasks"] += tasks
            out["max_stage_tasks"] = max(out["max_stage_tasks"], tasks)
            out["run_ms"] += st.executorRunTime()
            out["cpu_ns"] += st.executorCpuTime()
            out["gc_ms"] += st.jvmGcTime()
            out["input_bytes"] += st.inputBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["spill_bytes"] += st.diskBytesSpilled()
        return out

    def _plan(self, qe) -> dict[str, float]:
        """Catalyst phase times and scan/Python node metrics of the
        QueryExecution that ran the write."""
        out = dict.fromkeys(
            ["catalyst.exchanges", "scan.files_read", "scan.rows_out", "scan.time_ms",
             *PYTHON_METRICS.values()],
            0,
        )
        for phase in CATALYST_PHASES:
            out[f"catalyst.{phase}_ms"] = _phase_ms(qe, phase)
        for node in _plan_nodes(qe.executedPlan()):
            cls = node.getClass().getSimpleName()
            if cls in EXCHANGE_NODES:
                out["catalyst.exchanges"] += 1
            elif cls == SCAN_NODE:
                m = _node_metrics(node)
                out["scan.files_read"] += m.get("numFiles", 0)
                out["scan.rows_out"] += m.get("numOutputRows", 0)
                out["scan.time_ms"] += m.get("scanTime", 0)
            elif any(s in cls for s in PYTHON_NODES):
                m = _node_metrics(node)
                for name, metric in PYTHON_METRICS.items():
                    out[metric] += m.get(name, 0)
        return out
