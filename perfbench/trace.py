"""Span tracing from outside the engine.

``Tracer.install`` wraps the public functions of each engine module so that
every call records a span (name, start, end, parent, run id) and tags the
Spark jobs it launches with a job group of its own. At span exit the
status tracker's job, stage and task counts for that group are harvested
(the status store keeps only recent jobs, so they are read at once, not at
the end). Spans stay in memory until ``dump``.

Functions are patched where their callers look them up: a name imported
into another module (``from cdc_core_spark.lww import lww_reduce`` in the
engine) is patched in both places.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager

from cdc_core_spark import coordination, engine, lake, lww, registry

# (span name, owner, attribute): every place a traced function is looked up
TARGETS = [
    ("engine.replay", engine.CdcEngine, "replay"),
    ("engine.apply_epoch", engine.CdcEngine, "apply_epoch"),
    ("engine.apply_epoch_group", engine.CdcEngine, "apply_epoch_group"),
    ("engine.initial_load", engine.CdcEngine, "initial_load"),
    ("engine.compact", engine.CdcEngine, "compact"),
    ("lww.lww_reduce", lww, "lww_reduce"),
    ("lww.lww_reduce", engine, "lww_reduce"),
    ("lake.commit_delta", lake.SnapshotTable, "commit_delta"),
    ("lake.commit_delta_grouped", lake.SnapshotTable, "commit_delta_grouped"),
    ("lake.commit_metadata", lake.SnapshotTable, "commit_metadata"),
    ("lake.read", lake.SnapshotTable, "read"),
    ("lake.compact", lake.SnapshotTable, "compact"),
    ("lake.committed_epochs", lake.SnapshotTable, "committed_epochs"),
    ("coordination.lease", coordination.ProcessLock, "acquire"),
    ("coordination.lease", coordination.ProcessLock, "renew"),
    ("coordination.lease", coordination.ProcessLock, "release"),
    ("coordination.heartbeat", coordination, "write_heartbeat"),
    ("registry.validate_evolution", registry, "validate_evolution"),
    ("registry.validate_evolution", engine, "validate_evolution"),
]
# spans the benchmark opens itself around its read operations
OP_SPANS = ["query.point_read", "query.search"]
SPAN_NAMES = list(dict.fromkeys([t[0] for t in TARGETS] + OP_SPANS))
SPAN_FIELDS = {"calls": "count", "busy_s": "s", "self_s": "s",
               "spark_jobs": "count", "spark_tasks": "count",
               "failed_tasks": "count"}
COMMIT_SPANS = {"lake.commit_delta", "lake.commit_delta_grouped",
                "lake.commit_metadata"}


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.conflicts = 0
        self.overhead_s = 0.0    # time spent in the tracer's own bookkeeping
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._saved: list[tuple] = []

    def install(self) -> None:
        for name, owner, attr in TARGETS:
            orig = owner.__dict__[attr]
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(name, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    @contextmanager
    def span(self, name: str):
        t_in = time.monotonic()
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        rec = {"id": sid, "name": name,
               "parent": parent["id"] if parent else None,
               "run": parent["run"] if parent else sid,
               "start": None, "end": None, "error": None}
        group = f"span-{sid}"
        stack.append(rec)
        self.sc.setJobGroup(group, name)
        rec["start"] = time.monotonic()
        cost = rec["start"] - t_in
        try:
            yield rec
        except Exception as e:
            rec["error"] = type(e).__name__
            if name in COMMIT_SPANS and isinstance(e, lake.CommitConflictError):
                with self._lock:
                    self.conflicts += 1
            raise
        finally:
            rec["end"] = t_out = time.monotonic()
            stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"span-{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            rec.update(self._harvest(group))
            with self._lock:
                self.spans.append(rec)
                self.overhead_s += cost + time.monotonic() - t_out

    def _harvest(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = failed = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            for stage_id in (info.stageIds if info else []):
                s = st.getStageInfo(stage_id)
                if s is not None:
                    tasks += s.numCompletedTasks
                    failed += s.numFailedTasks
        return {"spark_jobs": len(jobs), "spark_tasks": tasks,
                "failed_tasks": failed}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part of its interval that its
    direct children cover (overlapping children are counted once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, s["start"]), min(b, s["end"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def layer_metrics(spans: list[dict]) -> dict[str, float]:
    """Per span name: ``calls``; ``busy_s`` and ``self_s`` as seconds per
    call; ``spark_jobs`` and ``spark_tasks`` per call (launched directly
    inside the span, not by its children); ``failed_tasks`` in total."""
    selfs = self_times(spans)
    out = {}
    for name in SPAN_NAMES:
        mine = [s for s in spans if s["name"] == name]
        n = len(mine)
        per = (lambda v: v / n) if n else (lambda v: 0.0)
        out[f"{name}.calls"] = n
        out[f"{name}.busy_s"] = per(sum(s["end"] - s["start"] for s in mine))
        out[f"{name}.self_s"] = per(sum(selfs[s["id"]] for s in mine))
        out[f"{name}.spark_jobs"] = per(sum(s["spark_jobs"] for s in mine))
        out[f"{name}.spark_tasks"] = per(sum(s["spark_tasks"] for s in mine))
        out[f"{name}.failed_tasks"] = sum(s["failed_tasks"] for s in mine)
    return out
