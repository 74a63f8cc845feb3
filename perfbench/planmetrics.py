"""Per-operator SQL metrics read from Spark's executed physical plans.

After an action, Spark keeps each operator's ``SQLMetric`` accumulators in
the executed plan. With adaptive execution the plan root is an
``AdaptiveSparkPlan``; the operators that ran sit under its final plan
inside ``ResultQueryStage``/``ShuffleQueryStage`` nodes, and a cached
relation's operators sit in its ``cachedPlan``. :func:`walk` descends through
all of these. Metrics are keyed by accumulator id, so an operator reached
from several plans (a cached relation read by three actions) counts once.

:class:`QueryListener` is a ``QueryExecutionListener`` implemented in
Python. It captures the ``QueryExecution`` of every action a session runs,
including actions issued inside library calls the benchmark cannot reach,
such as the writes in ``plans.pipeline.run_extraction``.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field

# Operators whose metrics the benchmark reads; the walk passes through all
# others without a round trip per metric.
READ = frozenset({
    "FileSourceScanExec", "ArrowEvalPythonExec", "MapInPandasExec",
    "ShuffleExchangeExec", "HashAggregateExec", "SortExec", "GenerateExec",
})
# Exchange-like boundaries: a Generate below one of these is in another stage.
_STAGE_EDGES = ("QueryStageExec", "ShuffleExchangeExec",
                "InMemoryTableScanExec", "ReusedExchangeExec")


@dataclass
class Op:
    cls: str
    metrics: dict[str, float]  # times in ms, sizes in bytes, sums as counts
    above_generate: bool = False  # a Generate feeds it within its stage
    scan_path: str = ""


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def _node_metrics(node) -> tuple[dict[str, float], int | None]:
    out: dict[str, float] = {}
    first_id = None
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        m = kv._2()
        kind = m.metricType()
        if kind == "average":
            continue
        v = float(m.value())
        out[kv._1()] = v / 1e6 if kind == "nsTiming" else v
        aid = m.id()
        first_id = aid if first_id is None else min(first_id, aid)
    return out, first_id


def _kids(node, cls: str) -> list:
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    if cls == "ReusedExchangeExec":
        return [node.child()]
    kids = _seq(node.children())
    if cls == "InMemoryTableScanExec":
        kids.append(node.relation().cachedPlan())
    return kids


def walk(plan, seen: set[int] | None = None) -> list[Op]:
    """Operators of ``plan`` (a JVM ``SparkPlan``) that carry the metrics in
    :data:`READ`. ``seen`` holds accumulator ids already counted."""
    seen = set() if seen is None else seen
    ops: list[Op] = []

    def visit(node) -> bool:
        cls = node.getClass().getSimpleName()
        gen_below = False
        for k in _kids(node, cls):
            gen_below |= visit(k)
        if cls.endswith(_STAGE_EDGES):
            gen_below = False
        if cls in READ:
            metrics, aid = _node_metrics(node)
            if aid is None or aid not in seen:
                seen.add(aid)
                op = Op(cls, metrics, above_generate=gen_below)
                if cls == "FileSourceScanExec":
                    op.scan_path = str(
                        node.relation().location().rootPaths().head())
                ops.append(op)
        return gen_below or cls == "GenerateExec"

    visit(plan)
    return ops


@dataclass
class PlanMetrics:
    """Operators from any number of executed plans, each counted once."""

    ops: list[Op] = field(default_factory=list)
    _seen: set[int] = field(default_factory=set)

    def add_plan(self, plan) -> None:
        self.ops += walk(plan, self._seen)

    def total(self, cls: str | tuple[str, ...], metric: str,
              where=lambda op: True) -> float:
        classes = (cls,) if isinstance(cls, str) else cls
        return sum(op.metrics.get(metric, 0.0) for op in self.ops
                   if op.cls in classes and where(op))

    def maximum(self, cls: str, metric: str) -> float:
        return max((op.metrics.get(metric, 0.0) for op in self.ops
                    if op.cls == cls), default=0.0)


class QueryListener:
    """Collects the ``QueryExecution`` of each successful action. Register
    with :func:`attach`; read with :meth:`drain` once the listener bus is
    empty."""

    def __init__(self):
        self._lock = threading.Lock()
        self._qes: list = []

    def onSuccess(self, funcName, qe, durationNs):  # noqa: N802 — JVM API
        with self._lock:
            self._qes.append(qe)

    def onFailure(self, funcName, qe, exception):  # noqa: N802
        pass  # a failed action is counted where the benchmark calls it

    def drain(self, spark) -> list:
        spark._jsparkSession.sparkContext().listenerBus().waitUntilEmpty()
        with self._lock:
            qes, self._qes = self._qes, []
        return qes

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def attach(spark) -> QueryListener:
    from pyspark.java_gateway import ensure_callback_server_started

    ensure_callback_server_started(spark.sparkContext._gateway)
    listener = QueryListener()
    spark._jsparkSession.listenerManager().register(listener)
    return listener


def collect(spark, listener: QueryListener) -> PlanMetrics:
    """Metrics of every action the session ran since the last call."""
    pm = PlanMetrics()
    gw = spark.sparkContext._gateway
    for qe in listener.drain(spark):
        pm.add_plan(qe.executedPlan())
        gw.detach(qe)
    return pm
