"""Spans around calls into the package's layers, and the Spark counters
read for each span.

A ``Tracer`` keeps spans in memory.  Entering a span gives it its own
Spark job group, so every job Spark runs is charged to the innermost
open span; ``harvest`` then reads, through py4j, each job's wall time,
the metrics of its stages and the SQL executions it belonged to.  It
also counts py4j calls by wrapping the gateway client's
``send_command``.  Nothing here runs unless a traced pass asks for it.
"""

from __future__ import annotations

import contextlib
import itertools
import re
import time
from dataclasses import dataclass, field

# Physical-plan node names of the Python-kernel operators.
PYTHON_NODES = frozenset({
    "MapInPandas",
    "MapInArrow",
    "PythonMapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas",
    "FlatMapCoGroupsInArrow",
    "ArrowEvalPython",
    "BatchEvalPython",
    "AggregateInPandas",
    "WindowInPandas",
    "ArrowWindowPython",
    "ArrowAggregatePython",
})
_STAGE_RE = re.compile(r"\(stage (\d+)\.\d+: task \d+\)")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
# Job-group numbers, unique within the process: Spark keeps the jobs of
# a group after the span ends, so a group reused by a later Tracer
# would be charged the earlier passes' jobs as well.
_GROUP_IDS = itertools.count()


@dataclass
class Span:
    """One call into a layer.  ``py4j`` counts the gateway calls made
    inside it; jobs, stages and executions are filled in by
    ``Tracer.harvest``; ``counts`` holds layer-specific numbers."""

    layer: str
    name: str
    parent: int | None
    group: str
    start: float = 0.0
    end: float = 0.0
    py4j: int = 0
    jobs: int = 0
    job_s: float = 0.0
    stage_ids: list = field(default_factory=list)
    execution_ids: list = field(default_factory=list)
    counts: dict = field(default_factory=dict)


def _timing_total_s(value: str) -> float | None:
    """Seconds from a SQL timing metric string such as
    ``'total (min, med, max (stageId: taskId))\\n12.0 s (...)'``."""
    m = re.search(r"(?:^|\n)([\d.,]+) (ms|s|m|h)\b", value)
    return float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)] if m else None


class Tracer:
    """Spans and Spark counters for one traced pass."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.py4j_calls = 0
        self._client = self.sc._gateway._gateway_client
        self._send = self._client.send_command
        self._store = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.stages: dict[int, dict] = {}
        self.executions: dict[int, dict] = {}
        count = self._sql.executionsCount()
        last = self._sql.executionsList(count - 1, 1) if count else None
        self._last_execution = last.apply(0).executionId() if last and last.size() else -1

    def __enter__(self):
        send = self._send

        def counted(*args, **kwargs):
            self.py4j_calls += 1
            return send(*args, **kwargs)

        self._client.send_command = counted
        return self

    def __exit__(self, *exc):
        self._client.send_command = self._send
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        idx = len(self.spans)
        parent = self.stack[-1] if self.stack else None
        s = Span(layer, name, parent, f"perfbench-span-{next(_GROUP_IDS)}")
        self.spans.append(s)
        self.stack.append(idx)
        self.sc.setJobGroup(s.group, name)
        s.py4j = -self.py4j_calls
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.py4j += self.py4j_calls
            self.stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(self.spans[parent].group, self.spans[parent].name)

    def harvest(self, spans: list[Span]) -> None:
        """Read the jobs, stages and SQL executions of ``spans``; each
        job is charged to the span whose group ran it, and each
        execution to the span that ran its first job."""
        tracker = self.sc.statusTracker()
        owner = {}
        for s in spans:
            for jid in tracker.getJobIdsForGroup(s.group):
                owner[jid] = s
                job = self._store.job(jid)
                sub, done = job.submissionTime(), job.completionTime()
                s.jobs += 1
                if sub.isDefined() and done.isDefined():
                    s.job_s += (done.get().getTime() - sub.get().getTime()) / 1e3
                ids = job.stageIds()
                s.stage_ids += [ids.apply(i) for i in range(ids.size())]
            self._read_stages(s.stage_ids)
        for e in self._new_executions():
            it = e.jobs().keys().iterator()
            jobs = sorted(it.next() for _ in iter(it.hasNext, False))
            s = next((owner[j] for j in jobs if j in owner), None)
            if s is not None:
                self.executions[e.executionId()] = self._plan_shape(e.executionId())
                s.execution_ids.append(e.executionId())

    def _new_executions(self) -> list:
        """SQL executions started since the previous harvest."""
        count = self._sql.executionsCount()
        out, end = [], count
        while end > 0:
            start = max(0, end - 64)
            page = self._sql.executionsList(start, end - start)
            batch = [page.apply(i) for i in range(page.size())]
            fresh = [e for e in batch if e.executionId() > self._last_execution]
            out = fresh + out
            if len(fresh) < len(batch):
                break
            end = start
        if out:
            self._last_execution = max(e.executionId() for e in out)
        return out

    def _read_stages(self, ids) -> None:
        for sid in ids:
            if sid in self.stages:
                continue
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:  # a stage skipped before it was registered
                self.stages[sid] = None
                continue
            if st.status().toString() == "SKIPPED":
                self.stages[sid] = None
                continue
            self.stages[sid] = {
                "run_s": st.executorRunTime() / 1e3,
                "cpu_s": st.executorCpuTime() / 1e9,
                "tasks": st.numTasks(),
                "input_b": st.inputBytes(),
                "shuffle_read_b": st.shuffleReadBytes(),
                "shuffle_write_b": st.shuffleWriteBytes(),
                "spill_b": st.memoryBytesSpilled(),
            }

    def _plan_shape(self, eid: int) -> dict:
        """Node counts of the executed (final, post-AQE) plan, and the
        Python kernels' rows and worker time per stage."""
        graph = self._sql.planGraph(eid)
        values = self._sql.executionMetrics(eid)
        nodes = graph.allNodes()
        shape = {"exchanges": 0, "single": 0, "broadcasts": 0, "cached": 0,
                 "python_nodes": 0, "python_rows": 0, "python_by_stage": {}}
        for k in range(nodes.size()):
            node = nodes.apply(k)
            name = node.name()
            if name == "Exchange":
                shape["exchanges"] += 1
                shape["single"] += "SinglePartition" in node.desc()
            elif name == "BroadcastExchange":
                shape["broadcasts"] += 1
            elif name == "InMemoryTableScan":
                shape["cached"] += 1
            elif name in PYTHON_NODES:
                shape["python_nodes"] += 1
                self._python_node(node, values, shape)
        return shape

    @staticmethod
    def _python_node(node, values, shape: dict) -> None:
        metrics = node.metrics()
        run_s, stage = None, None
        for t in range(metrics.size()):
            m = metrics.apply(t)
            v = values.get(m.accumulatorId())
            if not v.isDefined():
                continue
            text = v.get()
            if m.name() == "number of output rows":
                shape["python_rows"] += int(text.replace(",", ""))
            found = _STAGE_RE.search(text)
            if found and stage is None:
                stage = int(found.group(1))
            if m.name() == "time to run Python workers":
                run_s = _timing_total_s(text)
        if stage is not None:
            # Chained kernels run inside one task, so a stage is charged
            # its slowest kernel's worker time, not the sum.
            by_stage = shape["python_by_stage"]
            by_stage[stage] = max(by_stage.get(stage, -1.0), -1.0 if run_s is None else run_s)

    def self_layer_spans(self, spans: list[Span], layer: str) -> list[Span]:
        """Spans of ``layer`` with no ancestor of the same layer, so
        nested calls are not counted twice."""
        out = []
        for s in spans:
            if s.layer != layer:
                continue
            p = s.parent
            while p is not None and self.spans[p].layer != layer:
                p = self.spans[p].parent
            if p is None:
                out.append(s)
        return out

    def python_seconds(self, execution_ids) -> float:
        """Python worker time of the executions' Python stages; a stage
        whose kernels report no worker time is charged its executor
        run time instead."""
        total = 0.0
        for eid in execution_ids:
            for sid, run_s in self.executions[eid]["python_by_stage"].items():
                if run_s >= 0:
                    total += run_s
                else:
                    self._read_stages([sid])
                    total += (self.stages.get(sid) or {}).get("run_s", 0.0)
        return total
