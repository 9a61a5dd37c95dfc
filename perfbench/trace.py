"""Outside-in measurement of one Spark session, layer by layer.

Nothing here is called by the program under test. Every number comes
from timers around the calls the benchmark makes into the program, or
from state Spark keeps in-process anyway:

- the application status store (jobs, stages, task metrics),
- a `QueryExecutionListener` (the executed plan of every named action,
  its planning phases from `QueryExecution.tracker`, and the Python
  worker SQL metrics of its Python nodes),
- a `StreamingQueryListener` (micro-batch progress),
- `/proc` (resident memory of the driver JVM and its Python workers).
"""

from __future__ import annotations

import os
import threading
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

# Physical operators that hand rows to Python workers.
PYTHON_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "ArrowWindowPython",
    "AggregateInPandas",
    "ArrowAggregatePython",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas",
    "FlatMapCoGroupsInArrow",
    "MapInPandas",
    "MapInArrow",
    "PythonMapInArrow",
    "FlatMapGroupsInPandasWithState",
    "TransformWithStateInPandas",
    "BatchEvalPythonUDTF",
    "ArrowEvalPythonUDTF",
    "PythonDataSource",
)
# PythonSQLMetrics keys -> (metric name, scale): timings are in ms
PYTHON_METRICS = {
    "pythonTotalTime": ("python.total_s", 1e-3),
    "pythonBootTime": ("python.boot_s", 1e-3),
    "pythonInitTime": ("python.init_s", 1e-3),
    "pythonDataSent": ("python.bytes_sent", 1),
    "pythonDataReceived": ("python.bytes_received", 1),
}
_QUERY_STAGES = (
    "ShuffleQueryStage",
    "BroadcastQueryStage",
    "TableCacheQueryStage",
    "ResultQueryStage",
)


def final_plan_text(plan_string: str) -> str:
    """The final physical plan of an adaptive plan's string, else all of it."""
    _, sep, rest = plan_string.partition("== Final Plan ==")
    if not sep:
        return plan_string
    return rest.split("== Initial Plan ==", 1)[0]


def plan_shape(plan_text: str) -> dict[str, int]:
    """Operator counts of one physical plan, read from its tree string."""
    # tree prefixes, codegen stage ids and the "!" of nodes with missing input
    lines = [ln.lstrip(" :+-*()0123456789!") for ln in plan_text.splitlines()]
    return {
        "plan.exchanges": sum(
            ln.startswith(("Exchange ", "ShuffleExchange")) for ln in lines
        ),
        "plan.sort_merge_joins": sum(ln.startswith("SortMergeJoin") for ln in lines),
        "plan.broadcast_joins": sum(
            ln.startswith(("BroadcastHashJoin", "BroadcastNestedLoopJoin"))
            for ln in lines
        ),
        "plan.python_nodes": sum(ln.startswith(PYTHON_NODES) for ln in lines),
    }


class _ExecutionListener:
    """py4j-side `QueryExecutionListener`: records each named action's
    plan shape, planning time and Python worker metrics."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.records: list[dict[str, float]] = []

    def onSuccess(self, func_name, qe, duration_ns) -> None:  # noqa: N802
        self._record(qe)

    def onFailure(self, func_name, qe, exception) -> None:  # noqa: N802
        # an action the program itself caught and handled; its plan may
        # not exist, and its work already shows in the job counters
        pass

    def _record(self, qe) -> None:
        rec: dict[str, float] = defaultdict(float)
        try:
            phases = qe.tracker().phases()
            it = phases.iterator()
            while it.hasNext():
                rec["plan.s"] += it.next()._2().durationMs() / 1000.0
            plan = qe.executedPlan()
            shape = plan_shape(final_plan_text(plan.toString()))
            rec.update(shape)
            if shape["plan.python_nodes"]:
                _python_metrics(plan, rec)
        except Exception as exc:  # a listener must never fail the action
            rec["trace.errors"] = 1
            rec["trace.error"] = repr(exc)  # type: ignore[assignment]
        with self.lock:
            self.records.append(dict(rec))

    def drain(self) -> list[dict[str, float]]:
        with self.lock:
            out, self.records = self.records, []
        return out

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _python_metrics(node, rec: dict[str, float]) -> None:
    """Sum the PythonSQLMetrics of every Python node under `node`,
    descending through adaptive plans and their query stages."""
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        _python_metrics(node.executedPlan(), rec)
        return
    if name in _QUERY_STAGES:
        _python_metrics(node.plan(), rec)
        return
    if name.startswith(PYTHON_NODES):
        metrics = node.metrics()
        for key, (out, scale) in PYTHON_METRICS.items():
            opt = metrics.get(key)
            if opt.isDefined():
                rec[out] += opt.get().value() * scale
    children = node.children()
    for i in range(children.size()):
        _python_metrics(children.apply(i), rec)


class StreamProgress(StreamingQueryListener):
    """Collects every micro-batch's progress of every streaming query."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        rows = sum(op.numRowsTotal for op in p.stateOperators)
        mem = sum(op.memoryUsedBytes for op in p.stateOperators)
        d = p.durationMs
        with self.lock:
            self.batches.append(
                {
                    "run_id": str(p.runId),
                    "trigger_s": d.get("triggerExecution", 0) / 1000.0,
                    "add_batch_s": d.get("addBatch", 0) / 1000.0,
                    "commit_s": (d.get("walCommit", 0) + d.get("commitOffsets", 0))
                    / 1000.0,
                    "plan_s": d.get("queryPlanning", 0) / 1000.0,
                    "input_rows": p.numInputRows,
                    "state_rows": rows,
                    "state_bytes": mem,
                }
            )

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def drain(self) -> list[dict]:
        with self.lock:
            out, self.batches = self.batches, []
        return out


class SessionTrace:
    """Attributes Spark's work to the operations of a one-client loop.

    One client thread runs one operation at a time, so every job and
    every named action between two reads of the job counter belongs to
    the operation in between, including the jobs of the streaming
    micro-batches it drives."""

    def __init__(self, spark) -> None:
        self.spark = spark
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        # registering a streaming listener starts the py4j callback
        # server the execution listener needs as well
        self.stream = StreamProgress()
        spark.streams.addListener(self.stream)
        self.executions = _ExecutionListener()
        spark._jsparkSession.listenerManager().register(self.executions)

    def next_job(self) -> int:
        return int(self._dag.numTotalJobs())

    def settle(self) -> None:
        """Wait until every listener has seen every event posted so far."""
        self._bus.waitUntilEmpty()

    def jobs(self, first: int, end: int) -> dict[str, float]:
        """Scheduler, executor, shuffle and IO counters of jobs [first, end)."""
        out: dict[str, float] = defaultdict(float)
        stages: set[int] = set()
        for job_id in range(first, end):
            job = self._store.job(job_id)
            out["sched.jobs"] += 1
            out["sched.tasks"] += job.numCompletedTasks() + job.numFailedTasks()
            ids = job.stageIds()
            stages.update(int(ids.apply(i)) for i in range(ids.size()))
        for stage_id in sorted(stages):
            st = self._store.lastStageAttempt(stage_id)
            if st.status().toString() == "SKIPPED":
                continue
            out["sched.stages"] += 1
            out["exec.run_s"] += st.executorRunTime() / 1000.0
            out["exec.cpu_s"] += st.executorCpuTime() / 1e9
            out["exec.gc_s"] += st.jvmGcTime() / 1000.0
            out["shuffle.write_bytes"] += st.shuffleWriteBytes()
            out["shuffle.read_bytes"] += st.shuffleReadBytes()
            out["shuffle.fetch_wait_s"] += st.shuffleFetchWaitTime() / 1000.0
            out["spill.disk_bytes"] += st.diskBytesSpilled()
            out["io.input_bytes"] += st.inputBytes()
            out["io.input_rows"] += st.inputRecords()
            out["io.output_bytes"] += st.outputBytes()
        return dict(out)

    def job_span_s(self, first: int, end: int) -> float:
        """Seconds from the first submission to the last completion among
        jobs [first, end), by the scheduler's own clock; 0 for no jobs."""
        starts, ends = [], []
        for job_id in range(first, end):
            job = self._store.job(job_id)
            submitted, completed = job.submissionTime(), job.completionTime()
            if submitted.isDefined() and completed.isDefined():
                starts.append(submitted.get().getTime())
                ends.append(completed.get().getTime())
        return (max(ends) - min(starts)) / 1000.0 if starts else 0.0

    def close(self) -> None:
        self.spark.streams.removeListener(self.stream)
        self.spark._jsparkSession.listenerManager().unregister(self.executions)


def peak_jvm_heap_bytes(spark) -> int:
    """Peak JVM heap in use on the driver, as the status store's executor
    metrics record it at each driver heartbeat; 0 before the first one."""
    store = spark.sparkContext._jsc.sc().statusStore()
    executors = store.executorList(False)
    for i in range(executors.size()):
        ex = executors.apply(i)
        peak = ex.peakMemoryMetrics()
        if ex.id() == "driver" and peak.isDefined():
            return int(peak.get().getMetricValue("JVMHeapMemory"))
    return 0


def _descendants(root: int) -> set[int]:
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children[ppid].append(int(entry))
    out, todo = set(), [root]
    while todo:
        pid = todo.pop()
        out.add(pid)
        todo.extend(children.get(pid, ()))
    return out


def _pss_bytes(pids: set[int]) -> int:
    """Proportional set size: forked Python workers share pages with
    their daemon, and PSS counts each shared page once across them."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"python" in f.read().split(b"\0", 1)[0]
    except OSError:
        return False


class RssSampler:
    """Peak resident memory (PSS) of the driver JVM plus the Python
    daemon and workers it forks, sampled from /proc every `period` s.
    The JVM's short-lived helpers (chmod, rm, jspawnhelper) are left
    out: between fork and exec they share the JVM's pages, and reading
    the two processes at different instants counts those pages twice."""

    def __init__(self, root_pid: int, period: float = 0.2) -> None:
        self.root_pid = root_pid
        self.period = period
        self.peak = 0
        self.peak_root = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        while not self._stop.is_set():
            pids = {p for p in _descendants(self.root_pid) if _is_python(p)}
            self.peak = max(self.peak, _pss_bytes(pids | {self.root_pid}))
            self.peak_root = max(self.peak_root, _pss_bytes({self.root_pid}))
            self._stop.wait(self.period)


def cpu_probe(spark) -> float:
    """Seconds for a fixed IO-free codegen loop: available CPU."""
    t0 = time.perf_counter()
    spark.range(20_000_000).selectExpr("sum(id % 7)", "sum(id * 3 + 1)").collect()
    return time.perf_counter() - t0


def shuffle_probe(spark) -> float:
    """Seconds for one fixed shuffle write and fetch: local disk service."""
    t0 = time.perf_counter()
    spark.range(200_000).repartition(8, "id").selectExpr("sum(id)").collect()
    return time.perf_counter() - t0
