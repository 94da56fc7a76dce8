"""Spans around the benchmark's calls into each layer, and the Spark
engine numbers behind them.

A span labels the jobs it triggers with its own job group, so the local
event log and ``statusTracker()`` attribute every job, stage and task to
exactly one span.  Spans are kept in memory and written once, at exit.
"""

from __future__ import annotations

import glob
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field, fields

PYTHON_METRICS = {
    "time to run Python workers": "python_s",
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_init_s",
    "data sent to Python workers": "python_sent_bytes",
    "data returned from Python workers": "python_received_bytes",
}
STAGE_METRICS = {
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.shuffle.write.recordsWritten": ("shuffle_write_records", 1),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
}


@dataclass
class Span:
    id: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    rows: int | None = None
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    children: list = field(default_factory=list, repr=False)

    @property
    def group(self) -> str:
        return f"span{self.id}"

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans; ``spark`` is swapped when set-up restarts the session."""

    def __init__(self):
        self.spark = None
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            id=len(self.spans), name=name, parent=parent and parent.id,
            op=parent.op if parent else len(self.spans), start=time.time(),
        )
        self.spans.append(sp)
        if parent:
            parent.children.append(sp)
        self._stack.append(sp)
        sc = self.spark.sparkContext
        sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._count_jobs(sp)
            if parent:
                sc.setJobGroup(parent.group, parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def _count_jobs(self, sp: Span) -> None:
        st = self.spark.sparkContext.statusTracker()
        stage_ids = set()
        for jid in st.getJobIdsForGroup(sp.group):
            info = st.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
                sp.jobs += 1
        for sid in stage_ids:
            info = st.getStageInfo(sid)
            if info is not None:  # a stage skipped by shuffle reuse never ran
                sp.stages += 1
                sp.tasks += info.numTasks

    def last(self, name: str) -> Span | None:
        found = [s for s in self.spans if s.name == name]
        return found[-1] if found else None

    def rows(self, name: str) -> int:
        sp = self.last(name)
        return sp.rows if sp and sp.rows is not None else 0

    def subtree(self, sp: Span) -> list[Span]:
        out = [sp]
        for c in sp.children:
            out.extend(self.subtree(c))
        return out

    def write(self, path: str) -> None:
        """All spans as one JSON list, with each span's self time."""
        keys = [f.name for f in fields(Span) if f.name != "children"]
        with open(path, "w") as f:
            json.dump(
                [
                    {k: getattr(s, k) for k in keys}
                    | {"self_s": s.wall - sum(c.wall for c in s.children)}
                    for s in self.spans
                ],
                f,
                indent=1,
            )


def event_log_by_group(log_dir: str) -> dict[str, dict]:
    """Per job group: executor CPU, GC, shuffle, spill and the Python SQL
    metrics (MapInPandas / ArrowEvalPython), summed over completed stages.
    One uncompressed event log file per SparkContext is read from log_dir."""
    out: dict[str, dict] = {}
    for path in sorted(glob.glob(f"{log_dir}/*")):
        stage_group: dict[int, str] = {}
        py_acc: dict[int, str] = {}
        py_rows_acc: set[int] = set()
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in e["Stage IDs"]:
                            stage_group[sid] = group
                elif "sparkPlanInfo" in e:
                    _python_accumulators(e["sparkPlanInfo"], py_acc, py_rows_acc)
                elif ev == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    group = stage_group.get(info["Stage ID"])
                    if group is None:
                        continue
                    g = out.setdefault(group, {})
                    for acc in info.get("Accumulables", []):
                        name, value = acc.get("Name"), acc.get("Value")
                        if name in STAGE_METRICS:
                            key, scale = STAGE_METRICS[name]
                            g[key] = g.get(key, 0) + float(value) * scale
                        elif acc["ID"] in py_acc:
                            key = py_acc[acc["ID"]]
                            scale = 1e-3 if key.endswith("_s") else 1
                            g[key] = g.get(key, 0) + float(value) * scale
                        elif acc["ID"] in py_rows_acc:
                            g["python_rows"] = g.get("python_rows", 0) + float(value)
    return out


def _python_accumulators(node: dict, acc: dict, rows_acc: set) -> None:
    names = {m["name"]: m["accumulatorId"] for m in node.get("metrics", [])}
    if "time to run Python workers" in names:
        for name, key in PYTHON_METRICS.items():
            if name in names:
                acc[names[name]] = key
        if "number of output rows" in names:
            rows_acc.add(names["number of output rows"])
    for child in node.get("children", []):
        _python_accumulators(child, acc, rows_acc)


def group_value(groups: dict[str, dict], span: Span, key: str) -> float:
    """One event-log number of the jobs a span started (0 when none)."""
    return groups.get(span.group, {}).get(key, 0.0)


def sum_groups(groups: dict[str, dict], spans: list[Span]) -> dict:
    total: dict = {}
    for sp in spans:
        for k, v in groups.get(sp.group, {}).items():
            total[k] = total.get(k, 0) + v
    return total
