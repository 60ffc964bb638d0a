"""Traced-run introspection of a Spark session, from outside the package.

Used only with ``--trace 1``. Jobs and stages are attributed to a phase
with ``setJobGroup`` and read back through ``statusTracker`` and the app
status store; operator metrics come from the SQL status store
(``SQLAppStatusStore.executionMetrics``), which is kept with the UI off.
Plans of writes, whose query execution the caller never sees, come from a
``QueryExecutionListener`` registered through the py4j callback server.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError

from stats import parse_size_total

# Plan-string nodes that only wrap others: adaptive-execution stage
# markers and whole-stage-codegen adapters.
_WRAPPERS = {
    "AdaptiveSparkPlan", "ResultQueryStage", "ShuffleQueryStage",
    "BroadcastQueryStage", "TableCacheQueryStage", "WholeStageCodegen",
    "InputAdapter",
}
_NODE_RE = re.compile(r"^[\s:|+-]*(?:\*\(\d+\)\s*)?([A-Za-z][A-Za-z0-9]*)")
_PY_METRICS = {
    "data sent to Python workers": "python_bytes_in",
    "data returned from Python workers": "python_bytes_out",
}


@dataclass
class PlanShape:
    nodes: int = 0
    exchanges: int = 0
    broadcasts: int = 0


def plan_shape(tree: str) -> PlanShape:
    """Count operators of a physical plan's tree string. Wrappers are
    skipped; a reused exchange counts as a node but not as an exchange."""
    shape = PlanShape()
    for line in tree.splitlines():
        m = _NODE_RE.match(line)
        if not m or m.group(1) in _WRAPPERS:
            continue
        name = m.group(1)
        shape.nodes += 1
        if name in ("Exchange", "BroadcastExchange"):
            shape.exchanges += 1
        if name == "BroadcastExchange":
            shape.broadcasts += 1
    return shape


def final_plan_string(jqe) -> str:
    """Tree string of a query execution's final physical plan (the
    adaptive plan's current plan once the action has run)."""
    plan = jqe.executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    return plan.treeString()


@dataclass
class JobCounts:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


@dataclass
class SqlCounts:
    broadcast_bytes: int = 0
    python_bytes_in: int = 0
    python_bytes_out: int = 0


@dataclass
class WriteEvent:
    plan_start_ms: int
    plan_end_ms: int
    plan_ms: int
    shape: PlanShape


class _WriteListener:
    """py4j implementation of ``QueryExecutionListener``: records the
    optimization+planning phases and plan shape of each action."""

    def __init__(self) -> None:
        self.events: list[WriteEvent] = []

    def onSuccess(self, func, qe, duration_ns):  # noqa: N802 (py4j name)
        phases = {}
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            phases[kv._1()] = (kv._2().startTimeMs(), kv._2().endTimeMs())
        planned = [phases[p] for p in ("optimization", "planning")
                   if p in phases]
        start = min(s for s, _ in planned) if planned else 0
        end = max(e for _, e in planned) if planned else 0
        self.events.append(WriteEvent(
            start, end, sum(e - s for s, e in planned),
            plan_shape(final_plan_string(qe)),
        ))

    def onFailure(self, func, qe, exception):  # noqa: N802 (py4j name)
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class SparkProbe:
    """Phase attribution for one traced session."""

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        ensure_callback_server_started(self.sc._gateway)
        self.listener = _WriteListener()
        spark._jsparkSession.listenerManager().register(self.listener)

    def close(self) -> None:
        self.spark._jsparkSession.listenerManager().unregister(self.listener)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status stores reflect all finished jobs."""
        self._bus.waitUntilEmpty()

    def group(self, gid: str) -> None:
        self.sc.setJobGroup(gid, gid)

    def clear_group(self) -> None:
        self.sc._jsc.clearJobGroup()

    def execution_count(self) -> int:
        return int(self._sql.executionsCount())

    def job_counts(self, gid: str) -> JobCounts:
        out = JobCounts()
        tracker = self.sc.statusTracker()
        stage_ids: set[int] = set()
        for jid in tracker.getJobIdsForGroup(gid):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            out.jobs += 1
            stage_ids.update(int(s) for s in list(info.stageIds))
        for sid in stage_ids:
            try:
                sd = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted from the store: still a stage
                out.stages += 1
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out.stages += 1
            out.tasks += int(sd.numTasks())
            out.shuffle_read_bytes += int(sd.shuffleReadBytes())
            out.shuffle_write_bytes += int(sd.shuffleWriteBytes())
            out.spill_bytes += int(sd.memoryBytesSpilled()) + int(
                sd.diskBytesSpilled()
            )
        return out

    def sql_counts(self, first: int, last: int) -> SqlCounts:
        """Operator metrics of SQL executions ``first``..``last-1`` in
        status-store order."""
        out = SqlCounts()
        if last <= first:
            return out
        execs = self._sql.executionsList(first, last - first)
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                name = node.name()
                is_bcast = name == "BroadcastExchange"
                if not (is_bcast or "Python" in name or "Pandas" in name
                        or "Arrow" in name):
                    continue
                metrics = node.metrics()
                for m in range(metrics.size()):
                    metric = metrics.apply(m)
                    key = _PY_METRICS.get(metric.name())
                    if key is None and not (
                        is_bcast and metric.name() == "data size"
                    ):
                        continue
                    v = values.get(metric.accumulatorId())
                    n = parse_size_total(v.get() if v.isDefined() else "")
                    if key is None:
                        out.broadcast_bytes += n
                    else:
                        setattr(out, key, getattr(out, key) + n)
        return out

    def take_write_events(self) -> list[WriteEvent]:
        ev, self.listener.events = self.listener.events, []
        return ev


def jvm_hwm_mb(spark) -> float:
    """Peak resident set of the driver JVM, from /proc."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
