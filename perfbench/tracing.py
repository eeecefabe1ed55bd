"""In-memory spans, Spark job accounting and process-tree memory.

Spans are recorded by the benchmark around its calls into the engine's
public functions; nothing inside the engine is instrumented.  Each span
holds (id, name, layer, start, end, parent, request).  A layer's self time
is the sum over its spans of the span's duration minus the part of that
interval its child spans cover.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from pathlib import Path

#: the engine modules the benchmark times; "bench" holds request roots
LAYERS = [
    "session",
    "index.builder",
    "index.catalog",
    "index.append",
    "index.maintenance",
    "query.searcher",
    "query.parser",
    "query.wand",
]


class Tracer:
    """Span recorder plus per-call Spark job/task counts.

    Disabled tracers cost one attribute test per call: no spans, no job
    groups, no status-tracker reads, so untraced runs measure the engine
    alone.
    """

    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        #: wall seconds spent in the tracer's own bookkeeping
        self.cost_s = 0.0

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def muted(self, mute: bool = True):
        """Record no spans in this thread inside the block (the untraced
        share of a traced run)."""
        prev = getattr(self._local, "muted", False)
        self._local.muted = mute
        try:
            yield
        finally:
            self._local.muted = prev

    @contextmanager
    def span(self, name: str, layer: str, request: str | None = None, jobs: bool = False):
        """Record one span; with ``jobs`` the call runs under its own Spark
        job group and the span gets ``spark_jobs``/``spark_tasks``/
        ``failed_tasks``."""
        if not self.enabled or getattr(self._local, "muted", False):
            yield {}
            return
        c0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "request": request if request is not None else (parent or {}).get("request"),
            "group": f"pb-{sid}" if jobs and self.spark is not None else None,
        }
        group = rec["group"]
        if group is not None:
            self.spark.sparkContext.setJobGroup(group, name)
        stack.append(rec)
        self.cost_s += time.perf_counter() - c0
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            c1 = time.perf_counter()
            stack.pop()
            if group is not None:
                rec.update(self._group_counts(group))
                sc = self.spark.sparkContext
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                if parent is not None and parent.get("group"):
                    sc.setJobGroup(parent["group"], parent["name"])
            with self._lock:
                self.spans.append(rec)
            self.cost_s += time.perf_counter() - c1

    def _group_counts(self, group: str) -> dict:
        st = self.spark.sparkContext.statusTracker()
        jobs = tasks = failed = 0
        for jid in st.getJobIdsForGroup(group):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                if si is not None:
                    tasks += si.numTasks
                    failed += si.numFailedTasks
        return {"spark_jobs": jobs, "spark_tasks": tasks, "failed_tasks": failed}

    # -- reductions ----------------------------------------------------
    def find(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per layer (children's covered time removed)."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = {layer: 0.0 for layer in LAYERS}
        for s in self.spans:
            if s["layer"] not in out:
                continue
            covered = 0.0
            cur_lo = cur_hi = None
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["layer"]] += (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: Path) -> None:
        """Write every span as one JSON line (times relative to the first)."""
        if not self.spans:
            return
        t0 = min(s["start"] for s in self.spans)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                rec = {k: v for k, v in s.items() if k != "group"}
                rec["start"] = round(s["start"] - t0, 6)
                rec["end"] = round(s["end"] - t0, 6)
                f.write(json.dumps(rec) + "\n")


def _proc_children(pid: int) -> list[int]:
    out = []
    task_dir = Path(f"/proc/{pid}/task")
    try:
        tids = list(task_dir.iterdir())
    except OSError:
        return out
    for tid in tids:
        try:
            out += [int(c) for c in (tid / "children").read_text().split()]
        except OSError:
            pass
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> dict[int, float]:
    """Peak resident size (MB) of this process and of each descendant (the
    JVM and the Python workers it forked), by pid."""
    out, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in out:
            continue
        out[pid] = _vm_hwm_kb(pid) / 1024.0
        todo += _proc_children(pid)
    return out
