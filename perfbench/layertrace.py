"""Per-layer measurement for the traced run, kept in the benchmark's own
files so the program is measured unchanged.

- Tracer wraps the engine functions that form layer boundaries and
  records one span per call (name, start, end, parent) in memory.
- plan_metrics walks the final adaptive plan of an executed DataFrame
  and reads each node's SQL metrics (rows, Python-worker traffic).
- stage_bytes / bytes_since read shuffle and spill bytes per Spark stage
  from the status store, so every action inside an op is counted.
"""

from __future__ import annotations

import importlib
import sys
import time
from collections.abc import Callable
from dataclasses import dataclass

# (defining module, attribute, span name)
TARGETS = (
    ("engine.geo.layer", "PolygonLayer.build_df", "layer.build"),
    ("engine.geo.skew", "heavy_hitters", "skew.heavy_hitters"),
    ("engine.geo.knn", "knn_join", "knn"),
    ("engine.ckpt", "materialize", "ckpt.materialize"),
    ("engine.text.dedup", "connected_components", "cluster.cc"),
    ("engine.pipeline", "run_pipeline", "pipeline.run"),
    ("engine.icelite", "IceliteTable.find_snapshot", "pipeline.resume_lookup"),
    ("engine.icelite", "IceliteTable.commit_append", "icelite.commit"),
    ("engine.metrics", "MetricsSink.emit_stage", "metrics.emit_stage"),
    ("engine.metrics", "MetricsSink.emit_lineage", "metrics.emit_lineage"),
)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    result: object = None


class Tracer:
    """Installs span-recording wrappers on TARGETS until restore()."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._hooks: dict[str, Callable] = {}
        self._undo: list[tuple[object, str, object]] = []
        for mod_name, attr, span in TARGETS:
            self._install(importlib.import_module(mod_name), attr, span)

    def _wrap(self, fn, span: str):
        tracer = self

        def wrapper(*args, **kwargs):
            idx = len(tracer.spans)
            parent = tracer._stack[-1] if tracer._stack else None
            tracer.spans.append(Span(span, time.perf_counter(), 0.0, parent))
            tracer._stack.append(idx)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer._stack.pop()
                tracer.spans[idx].end = time.perf_counter()
            tracer.spans[idx].result = out
            hook = tracer._hooks.get(span)
            if hook is not None:
                hook(args, out)
            return out

        wrapper.__wrapped__ = fn
        return wrapper

    def _install(self, module, attr: str, span: str) -> None:
        if "." in attr:  # a method: patch the class once
            cls_name, meth = attr.split(".")
            cls = getattr(module, cls_name)
            orig = cls.__dict__[meth]
            setattr(cls, meth, self._wrap(orig, span))
            self._undo.append((cls, meth, orig))
            return
        # a function: patch every engine module that imported it by name
        orig = getattr(module, attr)
        wrapped = self._wrap(orig, span)
        for name, mod in list(sys.modules.items()):
            if (name == "engine" or name.startswith("engine.")) and \
                    getattr(mod, attr, None) is orig:
                setattr(mod, attr, wrapped)
                self._undo.append((mod, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def on_return(self, span: str, hook: Callable | None) -> None:
        """Call hook(args, result) after each call recorded as `span`."""
        if hook is None:
            self._hooks.pop(span, None)
        else:
            self._hooks[span] = hook

    def reset(self) -> None:
        self.spans.clear()

    def total(self, span: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == span)

    def count(self, span: str) -> int:
        return sum(1 for s in self.spans if s.name == span)

    def last(self, span: str):
        """Result of the latest call recorded as `span`, or None."""
        hits = [s for s in self.spans if s.name == span]
        return hits[-1].result if hits else None


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class PlanMetrics:
    """SQL metrics of every node of an executed DataFrame's final plan."""

    def __init__(self, nodes: list[tuple[str, dict[str, int]]]):
        self.nodes = nodes

    def total(self, metric: str) -> int:
        return sum(m.get(metric, 0) for _, m in self.nodes)

    def python_bytes(self) -> int:
        return self.total("pythonDataSent") + self.total("pythonDataReceived")

    def python_rows(self) -> int:
        return self.total("pythonNumRowsReceived")

    def join_rows(self) -> int:
        return max((m.get("numOutputRows", 0) for n, m in self.nodes
                    if "Join" in n), default=0)


def plan_metrics(df) -> PlanMetrics:
    """Walk df's executed plan; adaptive plans are read at their final
    form, descending through each query stage."""
    nodes: list[tuple[str, dict[str, int]]] = []
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        metrics = {kv._1(): int(kv._2().value())
                   for kv in _iter(node.metrics())}
        nodes.append((name, metrics))
        todo.extend(_iter(node.children()))
    return PlanMetrics(nodes)


def stage_bytes(spark) -> dict[tuple[int, int], tuple[int, int]]:
    """(stage, attempt) -> (shuffle bytes written, bytes spilled)."""
    gw = spark.sparkContext._gateway
    store = spark.sparkContext._jsc.sc().statusStore()
    stages = store.stageList(None, False, False,
                             gw.new_array(gw.jvm.double, 0),
                             gw.jvm.java.util.ArrayList())
    return {(s.stageId(), s.attemptId()):
            (s.shuffleWriteBytes(),
             s.memoryBytesSpilled() + s.diskBytesSpilled())
            for s in _iter(stages)}


def bytes_since(spark, before: dict) -> dict[str, int]:
    """Shuffle and spill bytes of the stages that ran since `before`."""
    new = [v for k, v in stage_bytes(spark).items() if k not in before]
    return {"plan.shuffle_bytes": sum(v[0] for v in new),
            "plan.spill_bytes": sum(v[1] for v in new)}
