"""Spans recorded around calls into the engine's layers, and Spark event-log counters.

Spans live in memory as (id, name, start_ns, end_ns, parent_id, run_id)
and are written out once, when the run ends.  A layer's self time is
its spans' duration minus the time covered by their child spans.
Wrapping replaces a module attribute with a recording shim; callers
that look the name up at call time (``module.fn(...)`` or a module
global) then go through the shim.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[tuple] = []
        self._stack: list[int] = []
        self._patches: list[tuple] = []

    def _open(self, name: str) -> tuple:
        sid = len(self.spans)
        self.spans.append(None)
        parent = self._stack[-1] if self._stack else -1
        self._stack.append(sid)
        return sid, parent, time.perf_counter_ns()

    def _close(self, name: str, sid: int, parent: int, t0: int) -> None:
        self.spans[sid] = (sid, name, t0, time.perf_counter_ns(), parent, self.run_id)
        self._stack.pop()

    @contextmanager
    def span(self, name: str):
        sid, parent, t0 = self._open(name)
        try:
            yield
        finally:
            self._close(name, sid, parent, t0)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Record a span named ``name`` around every call of owner.attr."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def shim(*args, **kwargs):
            sid, parent, t0 = self._open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self._close(name, sid, parent, t0)

        setattr(owner, attr, shim)
        self._patches.append((owner, attr, fn))

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, fn = self._patches.pop()
            setattr(owner, attr, fn)

    def totals(self, since: int = 0) -> dict[str, dict]:
        """name -> {count, total_ns, self_ns} over spans[since:]."""
        spans = self.spans[since:]
        child_ns: dict[int, int] = {}
        for s in spans:
            if s[4] >= 0:
                child_ns[s[4]] = child_ns.get(s[4], 0) + (s[3] - s[2])
        out: dict[str, dict] = {}
        for s in spans:
            t = out.setdefault(s[1], {"count": 0, "total_ns": 0, "self_ns": 0})
            dur = s[3] - s[2]
            t["count"] += 1
            t["total_ns"] += dur
            t["self_ns"] += dur - child_ns.get(s[0], 0)
        return out

    def named(self, name: str) -> list[tuple]:
        return [s for s in self.spans if s is not None and s[1] == name]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                if s is not None:
                    fh.write(json.dumps(
                        {"id": s[0], "name": s[1], "start_ns": s[2], "end_ns": s[3],
                         "parent": s[4], "run": s[5]}) + "\n")


def event_log_counters(log_dir: str) -> dict[str, dict]:
    """Per Spark job group: jobs, stages and tasks run, shuffle bytes written.

    Reads the uncompressed rolling event log that ``spark.eventLog.*``
    wrote under ``log_dir``; call after the session has stopped."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}
    # Spark 4 writes a rolling log: a directory of events_<n>_<app> files
    paths = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True),
                   key=lambda p: int(os.path.basename(p).split("_")[1]))
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "-"
                    g = groups.setdefault(
                        group, {"jobs": 0, "stages": set(), "tasks": 0, "shuffle_bytes": 0})
                    g["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    g = groups[group]
                    g["stages"].add(ev["Stage ID"])
                    g["tasks"] += 1
                    metrics = ev.get("Task Metrics") or {}
                    g["shuffle_bytes"] += (metrics.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
    for g in groups.values():
        g["stages"] = len(g["stages"])
    return groups


def group_means(groups: dict[str, dict], prefix: str) -> dict[str, float]:
    """Mean jobs/stages/tasks/shuffle bytes over groups named ``prefix:<n>``."""
    sel = [g for name, g in groups.items() if name.startswith(prefix + ":")]
    if not sel:
        return {"groups": 0, "jobs": 0.0, "stages": 0.0, "tasks": 0.0, "shuffle_bytes": 0.0}
    n = len(sel)
    return {
        "groups": n,
        "jobs": sum(g["jobs"] for g in sel) / n,
        "stages": sum(g["stages"] for g in sel) / n,
        "tasks": sum(g["tasks"] for g in sel) / n,
        "shuffle_bytes": sum(g["shuffle_bytes"] for g in sel) / n,
    }
