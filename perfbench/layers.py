"""Per-layer measurement: spans recorded by the benchmark around each call
into a package layer, Spark's SQL status store (which keeps plan metrics
with ``spark.ui.enabled=false``), task-time skew from the app status store,
and process-tree memory."""

from __future__ import annotations

import json
import os
import re
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans (name, start, end, parent); written out at the end.
    A disabled tracer records nothing and costs one branch per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def total(self, name: str) -> float:
        """Summed duration of every span called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def dump(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        with open(path, "w") as fh:
            json.dump(
                [dict(s, start=s["start"] - t0, end=s["end"] - t0) for s in self.spans],
                fh, indent=1,
            )


# --- Spark SQL status store ---------------------------------------------------

_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
}
_STAGE_RE = re.compile(r"\(stage (\d+)\.(\d+): task \d+\)")


def parse_metric(text: str) -> float | None:
    """A status-store metric string → seconds, bytes or a count. Timing and
    size metrics read ``total (min, med, max ...)\\n<total> (...)``; sums
    read ``1,234``. Metrics with no total (averages) give None."""
    parts = text.strip().split("\n")[-1].split(" (")[0].split()
    try:
        value = float(parts[0].replace(",", ""))
    except (ValueError, IndexError):
        return None
    return value * _UNITS[parts[1]] if len(parts) > 1 else value


def last_execution_id(spark) -> int:
    ex = spark._jsparkSession.sharedState().statusStore().executionsList()
    return ex.apply(ex.size() - 1).executionId() if ex.size() else -1


def plan_metrics(spark, after_id: int, upto: int | None = None) -> list[dict]:
    """Every SQL execution in (``after_id``, ``upto``] → its plan nodes,
    root first, each with its metric values and the stages they name."""
    store = spark._jsparkSession.sharedState().statusStore()
    ex = store.executionsList()
    out = []
    for i in range(ex.size()):
        eid = ex.apply(i).executionId()
        if eid <= after_id or (upto is not None and eid > upto):
            continue
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        plan = []
        for j in range(nodes.size()):
            node = nodes.apply(j)
            metrics, stages = {}, set()
            ms = node.metrics()
            for k in range(ms.size()):
                m = ms.apply(k)
                v = values.get(m.accumulatorId())
                if v.isDefined() and parse_metric(v.get()) is not None:
                    metrics[m.name()] = parse_metric(v.get())
                    stages.update(int(s) for s, _a in _STAGE_RE.findall(v.get()))
            plan.append({"name": node.name().strip(), "metrics": metrics, "stages": stages})
        out.append({"id": eid, "nodes": plan})
    return out


def node_sum(executions: list[dict], node: str, metric: str) -> float:
    return sum(
        n["metrics"].get(metric, 0.0)
        for e in executions for n in e["nodes"] if n["name"] == node
    )


def task_skew(spark, stage_ids) -> float:
    """max / median task duration over the given stages' tasks (the stage
    with the worst ratio wins); 1.0 when no stage has two tasks."""
    store = spark.sparkContext._jsc.sc().statusStore()
    worst = 1.0
    for sid in stage_ids:
        tasks = store.taskList(int(sid), 0, 100000)
        durs = [
            tasks.apply(i).duration().get()
            for i in range(tasks.size()) if tasks.apply(i).duration().isDefined()
        ]
        if len(durs) >= 2 and statistics.median(durs) > 0:
            worst = max(worst, max(durs) / statistics.median(durs))
    return worst


# --- processes ----------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(pid))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Summed VmHWM (peak resident set) of this process and its descendants:
    this Python process, the JVM and the Python workers."""
    total = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024.0
