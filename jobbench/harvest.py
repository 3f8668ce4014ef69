"""Read Spark's own SQL and task metrics after a job, from outside the engine.

Source: the SQL status store (``sharedState().statusStore()``), which
the SQL listener fills whether or not the web UI is enabled:

  executionsList()      one entry per SQL execution: submission and
                        completion time, and the Spark job ids it ran;
  planGraph(id)         the executed plan as nodes and edges, each node
                        with its metric accumulator ids;
  executionMetrics(id)  accumulator id -> rendered value.

The plan graph is built from the final plan, with Spark's own
unwrapping already applied: an ``AdaptiveSparkPlan`` node leads to the
final physical plan, a ``*QueryStage`` node to the stage's plan, and an
``InMemoryTableScan`` node to the cached plan.  Those wrapper nodes
carry no metrics of their own, so summing over every node counts each
operator once.

Task-level totals (run time, GC, task counts, shuffle bytes) come from
the core status store (``SparkContext.statusStore()``), per stage of
each job.

Rendered values parsed here, in base units (count, bytes, seconds):
  "100,000"  "64.2 MiB"  "12 ms"  "1.1 s"  "2.0 m"  "1.50 h"
  "total (min, med, max (stageId: taskId))\\n1.1 s (267 ms, 268 ms, 270 ms (stage 0.0: task 2))"
  "total (min, med, max (stageId: taskId))\\n3.6 MiB (1651.1 KiB, 2.0 MiB, 2.0 MiB (driver))"
  "(min, med, max (stageId: taskId)):\\n(1, 1, 1 (stage 77.0: task 180))"      (an average)
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40, "PiB": 1 << 50}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "min": 60.0}
_NUM_UNIT = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)\s*$")
# "<total> (<min>, <med>, <max> (stage a.b: task c))", or "(driver)" last
_SUMMARY = re.compile(r"^(.*?) \((.*?), (.*?), (.*?) \([^()]*\)\)\s*$")
# average metrics render no total: "(<min>, <med>, <max> (stage a.b: task c))"
_AVERAGE = re.compile(r"^\((.*?), (.*?), (.*?) \([^()]*\)\)\s*$")
# the target path of a write, from the formatted physical plan
_WRITE_TARGET = re.compile(r"\) Execute InsertIntoHadoopFsRelationCommand\nInput.*\nArguments: ([^,]+),")


def parse_value(text: str) -> float:
    """One rendered scalar ("1,234", "3.2 MiB", "45 ms") in base units."""
    m = _NUM_UNIT.match(text)
    if not m:
        raise ValueError(f"unparsed metric value {text!r}")
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if not unit:
        return num
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME:
        return num * _TIME[unit]
    raise ValueError(f"unknown unit {unit!r} in {text!r}")


@dataclass(frozen=True)
class Metric:
    """A node metric: its total and, when tasks reported it, the task
    min / median / max."""

    total: float
    min: float | None = None
    med: float | None = None
    max: float | None = None


def parse_metric(text: str) -> Metric:
    """A rendered node metric.  An average metric has no total; its
    median stands in for one."""
    lines = text.strip().split("\n")
    if len(lines) == 1:
        return Metric(parse_value(lines[0]))
    if lines[0].startswith("total ("):
        m = _SUMMARY.match(lines[1])
        if m:
            return Metric(*(parse_value(g) for g in m.groups()))
    elif lines[0].startswith("("):
        m = _AVERAGE.match(lines[1])
        if m:
            lo, med, hi = (parse_value(g) for g in m.groups())
            return Metric(med, lo, med, hi)
    raise ValueError(f"unparsed metric {text!r}")


@dataclass
class Node:
    id: int
    name: str
    desc: str
    metrics: dict[str, Metric]
    children: list[int] = field(default_factory=list)


@dataclass
class Execution:
    id: int
    start_ms: int
    end_ms: int | None
    job_ids: list[int]
    nodes: dict[int, Node]

    @property
    def seconds(self) -> float:
        return ((self.end_ms or self.start_ms) - self.start_ms) / 1000.0

    def find(self, prefix: str) -> list[Node]:
        """Nodes whose name starts with ``prefix``."""
        return [n for n in self.nodes.values() if n.name.startswith(prefix)]

    def input_rows(self, node: Node) -> float:
        """Rows flowing into ``node``: the output-row count of the nearest
        descendant that reports one (codegen'd Projects report none)."""
        total = 0.0
        for cid in node.children:
            child = self.nodes[cid]
            m = child.metrics.get("number of output rows")
            total += m.total if m is not None else self.input_rows(child)
        return total


def _scala_seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def _scala_map(m) -> dict:
    out = {}
    it = m.iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2()
    return out


class Harvester:
    """Reads finished SQL executions and stages of one SparkSession."""

    def __init__(self, spark):
        self._spark = spark
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._core = spark._jsc.sc().statusStore()
        self._jvm = spark._jvm
        self._executions: dict[int, Execution] = {}

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event so far,
        so finished executions show their end time and final metrics."""
        self._spark._jsc.sc().listenerBus().waitUntilEmpty()

    def execution_ids(self, job_ids: set[int]) -> list[int]:
        """Ids of the executions that ran at least one of ``job_ids``."""
        return [
            int(e.executionId())
            for e in _scala_seq(self._sql.executionsList())
            if set(_scala_map(e.jobs())) & job_ids
        ]

    def execution(self, eid: int) -> Execution:
        """One finished execution (read once, then kept)."""
        if eid not in self._executions:
            self._executions[eid] = self._read_execution(eid)
        return self._executions[eid]

    def _read_execution(self, eid: int) -> Execution:
        data = self._sql.execution(eid).get()
        end = data.completionTime()
        values = _scala_map(self._sql.executionMetrics(eid))
        graph = self._sql.planGraph(eid)
        nodes: dict[int, Node] = {}
        for n in _scala_seq(graph.allNodes()):
            metrics = {}
            for sm in _scala_seq(n.metrics()):
                raw = values.get(sm.accumulatorId())
                if raw is not None:
                    metrics[sm.name()] = parse_metric(raw)
            nodes[int(n.id())] = Node(int(n.id()), n.name(), n.desc(), metrics)
        for edge in _scala_seq(graph.edges()):
            # edges run child -> parent
            parent = nodes.get(int(edge.toId()))
            if parent is not None:
                parent.children.append(int(edge.fromId()))
        return Execution(
            id=eid,
            start_ms=int(data.submissionTime()),
            end_ms=int(end.get().getTime()) if end.isDefined() else None,
            job_ids=sorted(int(j) for j in _scala_map(data.jobs())),
            nodes=nodes,
        )

    def _doubles(self, *values: float):
        arr = self._spark.sparkContext._gateway.new_array(self._jvm.double, len(values))
        for i, v in enumerate(values):
            arr[i] = v
        return arr

    def _stages(self, job_ids: set[int]) -> list:
        """StageData of every attempt of the distinct stages of ``job_ids``."""
        stage_ids = {int(s) for j in job_ids for s in _scala_seq(self._core.job(j).stageIds())}
        no_status = self._jvm.java.util.ArrayList()
        return [
            st
            for sid in sorted(stage_ids)
            for st in _scala_seq(self._core.stageData(sid, False, no_status, False, self._doubles()))
        ]

    def stage_totals(self, job_ids: set[int]) -> dict[str, float]:
        """Task totals over the distinct stages of ``job_ids``."""
        out = {"tasks": 0.0, "run_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0.0}
        for st in self._stages(job_ids):
            out["tasks"] += st.numCompleteTasks()
            out["run_s"] += st.executorRunTime() / 1000.0
            out["gc_s"] += st.jvmGcTime() / 1000.0
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        return out

    def heaviest_stage_skew(self, job_ids: set[int]) -> float:
        """Max ÷ median task run time in the stage of ``job_ids`` with the
        most task run time (0 when no stage ran tasks)."""
        stages = [st for st in self._stages(job_ids) if st.numCompleteTasks() > 0]
        if not stages:
            return 0.0
        st = max(stages, key=lambda x: x.executorRunTime())
        summary = self._core.taskSummary(st.stageId(), st.attemptId(), self._doubles(0.5, 1.0))
        if not summary.isDefined():
            return 0.0
        med, top = _scala_seq(summary.get().executorRunTime())
        return top / med if med > 0 else 0.0

    def first_commit_ms(self, path: str, since_ms: int) -> int | None:
        """Completion time of the first execution since ``since_ms``
        whose plan writes into ``path``."""
        self.settle()
        best = None
        executions = self._sql.executionsList()
        for i in range(executions.size() - 1, -1, -1):  # newest first
            e = executions.apply(i)
            if e.submissionTime() < since_ms:
                break
            if not e.completionTime().isDefined():
                continue
            m = _WRITE_TARGET.search(e.physicalPlanDescription())
            if m and m.group(1).endswith(path):
                t = int(e.completionTime().get().getTime())
                best = t if best is None else min(best, t)
        return best
