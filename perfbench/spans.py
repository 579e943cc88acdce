"""Spans and counters taken from outside the package.

Spans are kept in memory and written as JSON when the run ends. Each span
records the Spark jobs it started (ids from the ``StatusTracker``, read
before and after) and the SQL executions it ran; per-node SQL metrics
come from the SQL status store, which is live with the UI disabled.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from pathlib import Path

# multipliers for the units SQLMetrics prints
_UNITS = {
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def parse_metric(text: str) -> float:
    """``'1,499'`` -> 1499.0; ``'106.3 KiB'`` -> bytes; for a multi-task
    metric (``'total (min, med, max ...)\\n12.0 MiB (...)'``) the total."""
    head = text.strip().split("\n")[-1].split(" (")[0].split()
    value = float(head[0].replace(",", ""))
    return value * _UNITS[head[1]] if len(head) > 1 else value


def total(node_metrics, node: str, metric: str) -> float:
    """Sum of ``metric`` over plan nodes named ``node*``."""
    return sum(v for n, m, v in node_metrics if n.startswith(node) and m == metric)


def count(node_metrics, node: str, metric: str) -> int:
    """Plan nodes named ``node*`` that report ``metric``."""
    return sum(1 for n, m, _ in node_metrics if n.startswith(node) and m == metric)


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._tracker = spark.sparkContext.statusTracker()
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._bus = spark.sparkContext._jsc.sc().listenerBus()

    def job_ids(self) -> set[int]:
        return set(self._tracker.getJobIdsForGroup())

    def execution_ids(self) -> set[int]:
        self._bus.waitUntilEmpty()
        execs = self._store.executionsList()
        return {int(execs.apply(i).executionId()) for i in range(execs.size())}

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        jobs0, execs0 = self.job_ids(), self.execution_ids()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            rec["jobs"] = len(self.job_ids() - jobs0)
            rec["executions"] = sorted(self.execution_ids() - execs0)

    def node_metrics(self, execution_ids) -> list[tuple[str, str, float]]:
        """(node name, metric name, value) for every node of the given
        SQL executions' final plans."""
        self._bus.waitUntilEmpty()
        out = []
        for eid in execution_ids:
            values = self._store.executionMetrics(eid)
            nodes = self._store.planGraph(eid).allNodes()
            for i in range(nodes.size()):
                node = nodes.apply(i)
                metrics = node.metrics()
                for j in range(metrics.size()):
                    m = metrics.apply(j)
                    if m.metricType() == "average":  # prints per-task stats, no total
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        out.append((node.name().strip(), m.name(), parse_metric(v.get())))
        return out

    def write(self, path: Path, **extra) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"run": self.run_id, "spans": self.spans, **extra}, indent=1))
