"""Tracing for the benchmark's traced runs: spans recorded from the
benchmark's own files around calls into each layer, and Spark's own
counters read through the session.

Spans live in memory and are written out once, at the end of a run.
Spark counters come from:

- the SQL status store (``SQLAppStatusStore``): per-operator SQLMetrics
  of every execution, which works with the UI disabled;
- ``QueryExecution.tracker``: Catalyst phase times;
- ``CodeGenerator.compileTime`` and ``CodegenMetrics``: codegen;
- the GC MXBeans: collection time;
- ``StreamingQueryProgress``: micro-batch phases and state.

Every metric name read from Spark is listed in ``REQUIRED_*`` below. A
name that is missing where its operator ran raises
:class:`MissingMetric`, so a Spark upgrade that renames one fails the
traced run instead of reporting zeros.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


class MissingMetric(RuntimeError):
    """A Spark metric the benchmark reads is not where it should be."""


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(sid, name, time.perf_counter(), 0.0, parent, self.run_id)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def duration(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def self_time(self, name: str) -> float:
        """Summed self time of the spans called ``name``: each span's
        duration minus the part its children cover."""
        total = 0.0
        for s in self.spans:
            if s.name != name:
                continue
            covered = sum(
                c.end - c.start for c in self.spans if c.parent == s.id
            )
            total += (s.end - s.start) - covered
        return total


def dump(tracers: list[Tracer], path: str) -> None:
    """Write every span of ``tracers`` as JSON lines."""
    with open(path, "w") as f:
        for t in tracers:
            for s in t.spans:
                f.write(json.dumps(asdict(s)) + "\n")


# ---------------------------------------------------------------------------
# SQL status store
# ---------------------------------------------------------------------------

_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6, "ns": 1e-6,
}
_VALUE = re.compile(r"^(-?[\d,]*\.?\d+)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """Total of a status-store metric string, in bytes, milliseconds or
    plain units. Multi-task metrics render as
    ``total (min, med, max (stageId: taskId))\\n<total> (...)``."""
    lines = text.strip().split("\n")
    body = lines[1] if lines[0].startswith("total") and len(lines) > 1 else lines[0]
    m = _VALUE.match(body.strip())
    if m is None:
        raise ValueError(f"unparseable metric value {text!r}")
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit is None:
        return value
    if unit not in _UNITS:
        raise ValueError(f"unknown metric unit in {text!r}")
    return value * _UNITS[unit]


#: Operator kind -> metric names read from it. An executed operator of
#: that kind (its name matching ``KIND_PATTERNS``) must declare every
#: listed metric.
REQUIRED_NODE_METRICS: dict[str, tuple[str, ...]] = {
    "Scan parquet": ("scan time", "size of files read", "number of output rows"),
    "Exchange": ("shuffle bytes written", "shuffle records written"),
    "InPandas": (
        "time to run Python workers",
        "time to start Python workers",
        "time to initialize Python workers",
        "data sent to Python workers",
        "data returned from Python workers",
    ),
    "Aggregate": ("number of output rows",),
}
_SPILL = "spill size"

KIND_PATTERNS = {
    "Scan parquet": re.compile(r"^Scan parquet"),
    "Exchange": re.compile(r"^Exchange$"),  # shuffle exchanges only
    "InPandas": re.compile(r"InPandas"),
    "Aggregate": re.compile(r"Aggregate$"),
}


def node_kind(name: str) -> str | None:
    for kind, pattern in KIND_PATTERNS.items():
        if pattern.search(name):
            return kind
    return None


#: Every metric name the benchmark reads from an operator.
_READ = {m for names in REQUIRED_NODE_METRICS.values() for m in names} | {_SPILL}


@dataclass
class Node:
    execution: int
    name: str
    #: Declared metric names, and the values of those the benchmark
    #: reads (0 when no task reported one).
    declared: frozenset[str]
    metrics: dict[str, float]


class StatusStore:
    """Reads executions and their per-operator SQLMetrics."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._store = jvm.org.apache.spark.sql.execution.ui.SQLAppStatusStore(
            spark.sparkContext._jsc.sc().statusStore().store(), jvm.scala.Option.empty()
        )

    def execution_ids(self) -> list[int]:
        ex = self._store.executionsList()
        return [ex.apply(i).executionId() for i in range(ex.size())]

    def nodes(self, execution_ids: list[int]) -> list[Node]:
        out = []
        for eid in execution_ids:
            values = self._store.executionMetrics(eid)
            graph = self._store.planGraph(eid).allNodes()
            for i in range(graph.size()):
                n = graph.apply(i)
                ms = n.metrics()
                declared, got = set(), {}
                for j in range(ms.size()):
                    m = ms.apply(j)
                    declared.add(m.name())
                    if m.name() in _READ:
                        v = values.get(m.accumulatorId())
                        got[m.name()] = parse_metric(v.get()) if v.isDefined() else 0.0
                out.append(Node(eid, n.name().strip(), frozenset(declared), got))
        return out


def check_nodes(nodes: list[Node]) -> None:
    """Raise if an executed operator lacks a metric the benchmark reads."""
    for n in nodes:
        kind = node_kind(n.name)
        if kind is None:
            continue
        missing = [m for m in REQUIRED_NODE_METRICS[kind] if m not in n.declared]
        if missing:
            raise MissingMetric(f"{n.name} (execution {n.execution}) lacks {missing}")


def node_sum(nodes: list[Node], kind: str, metric: str) -> float:
    check_nodes(nodes)
    if metric not in REQUIRED_NODE_METRICS[kind]:
        raise KeyError(f"{metric!r} is not a declared metric of {kind!r}")
    return sum(n.metrics[metric] for n in nodes if node_kind(n.name) == kind)


def node_count(nodes: list[Node], kind: str) -> int:
    return sum(1 for n in nodes if node_kind(n.name) == kind)


def spill_bytes(nodes: list[Node]) -> float:
    return sum(n.metrics.get(_SPILL, 0.0) for n in nodes)


def require_present(nodes: list[Node], kinds: tuple[str, ...]) -> None:
    """Raise if an operator kind the workload must run never ran: a
    renamed operator would otherwise read as zero work."""
    for kind in kinds:
        if node_count(nodes, kind) == 0:
            raise MissingMetric(f"no executed operator matches {kind!r}")


# ---------------------------------------------------------------------------
# JVM counters
# ---------------------------------------------------------------------------


class JvmCounters:
    """Codegen compile time and class count, GC time: cumulative since
    JVM start, read as deltas."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._cg = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._cm = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._mx = jvm.java.lang.management.ManagementFactory

    def read(self) -> dict[str, float]:
        beans = self._mx.getGarbageCollectorMXBeans()
        return {
            "codegen.compile_ms": self._cg.compileTime() / 1e6,
            "codegen.classes": float(self._cm.METRIC_COMPILATION_TIME().getCount()),
            "jvm.gc_ms": float(sum(b.getCollectionTime() for b in beans)),
        }

    @staticmethod
    def delta(before: dict[str, float], after: dict[str, float]) -> dict[str, float]:
        return {k: after[k] - before[k] for k in before}


def plan_phases(df) -> dict[str, float]:
    """Catalyst phase times (ms) of ``df``'s own QueryExecution, forced
    through physical planning."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        summary = phases.get(phase)
        if summary.isEmpty():
            raise MissingMetric(f"QueryExecution.tracker has no {phase!r} phase")
        out[f"plan.{phase}_ms"] = float(summary.get().durationMs())
    return out


# ---------------------------------------------------------------------------
# Streaming progress
# ---------------------------------------------------------------------------

REQUIRED_DURATIONS = ("triggerExecution", "addBatch", "queryPlanning", "getBatch", "walCommit")
REQUIRED_STATE = ("numRowsTotal", "memoryUsedBytes", "commitTimeMs", "allUpdatesTimeMs")


def progress_records(progress: list) -> list[dict]:
    """Plain dicts of ``StreamingQueryProgress`` objects, checked for
    every key the benchmark reads."""
    out = []
    for p in progress:
        rec = json.loads(p.json)
        missing = [k for k in REQUIRED_DURATIONS if k not in rec.get("durationMs", {})]
        if missing:
            raise MissingMetric(
                f"progress of batch {rec.get('batchId')} lacks durationMs {missing}"
            )
        if not rec.get("stateOperators"):
            raise MissingMetric(f"progress of batch {rec.get('batchId')} has no stateOperators")
        for op in rec["stateOperators"]:
            missing = [k for k in REQUIRED_STATE if k not in op]
            if missing:
                raise MissingMetric(f"stateOperators of batch {rec['batchId']} lack {missing}")
        out.append(rec)
    return out
