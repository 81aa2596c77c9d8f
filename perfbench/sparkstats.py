"""Reads the counts Spark already keeps, from outside the engine.

The SQL status store (which stays readable with the UI off) holds, per
SQL execution, the rendered value of every SQL metric of the executed
plan plus the jobs and stages it ran; the status tracker holds each
stage's task counts. Used only by the traced run.
"""

from __future__ import annotations

from perfbench.measure import Execution

_TAIL = 64  # executions fetched per look; one op starts far fewer


class SqlCounts:
    def __init__(self, spark):
        jsc = spark.sparkContext._jsc
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._bus = jsc.sc().listenerBus()
        self._tracker = jsc.statusTracker()

    def _latest(self) -> list:
        n = self._store.executionsCount()
        seq = self._store.executionsList(max(0, n - _TAIL), _TAIL)
        return [seq.apply(i) for i in range(seq.size())]

    def watermark(self) -> int:
        """Id of the newest SQL execution so far (-1 if none)."""
        self._bus.waitUntilEmpty()
        ex = self._latest()
        return ex[-1].executionId() if ex else -1

    def since(self, watermark: int) -> list[Execution]:
        """Every SQL execution started after `watermark`, once the
        listener bus has delivered their end events."""
        self._bus.waitUntilEmpty()
        return [self._read(e) for e in self._latest() if e.executionId() > watermark]

    def _read(self, ui) -> Execution:
        eid = ui.executionId()
        values = self._store.executionMetrics(eid)
        metrics = []
        todo = list(_seq(self._store.planGraph(eid).nodes()))
        while todo:
            node = todo.pop()
            if node.getClass().getSimpleName() == "SparkPlanGraphCluster":  # WholeStageCodegen
                todo.extend(_seq(node.nodes()))
            for m in _seq(node.metrics()):
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    metrics.append((node.name(), m.name(), v.get()))
        stages = [int(s) for s in _seq(ui.stages().toList())]
        run = [self._tracker.getStageInfo(s) for s in stages]
        run = [s for s in run if s is not None and s.numCompletedTasks() > 0]
        return Execution(
            execution_id=eid,
            metrics=metrics,
            jobs=ui.jobs().size(),
            stages=len(run),
            tasks=sum(s.numCompletedTasks() + s.numFailedTasks() for s in run),
        )


def _seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]
