"""Spans recorded from outside the program, around its public functions.

A ``Tracer`` replaces a module or class attribute with a wrapper that,
while tracing is on, records one span per call: name, start, end,
parent span, client operation id and counts taken at the same
boundary. Spans stay in memory; ``dump`` writes them as JSON lines when
the run ends. With tracing off a wrapper is one attribute test.

Spark jobs and tasks per client operation are counted through a job
group set around the operation and read back with ``statusTracker``.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled  # may be flipped per operation
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[dict] = []
        self._op: str | None = None
        self._patches: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str, **counts):
        if not self.enabled:
            yield counts
            return
        rec = {
            "id": len(self.spans) + len(self._stack),
            "name": name,
            "op": self._op,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.perf_counter(),
            "counts": counts,
        }
        self._stack.append(rec)
        try:
            yield rec["counts"]
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, counts=None) -> None:
        """Trace every call of ``owner.attr``; ``counts(result)`` adds
        counts read off the returned value."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*a, **kw):
            if not tracer.enabled:
                return orig(*a, **kw)
            with tracer.span(name) as c:
                out = orig(*a, **kw)
                if counts is not None:
                    c.update(counts(out))
                return out

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    @contextlib.contextmanager
    def op(self, kind: str, traced: bool = True):
        """One client operation. While traced, its Spark jobs run under
        a job group named after the operation."""
        prev = self.enabled
        self.enabled = prev and traced
        op_id = f"{kind}-{len(self.ops)}"
        rec = {"op": op_id, "kind": kind, "traced": self.enabled}
        self._op = op_id
        if self.enabled:
            self.sc.setJobGroup("perfbench-" + op_id, kind, False)
        try:
            with self.span("op." + kind):
                yield rec
        finally:
            if self.enabled:
                self.sc.setJobGroup("perfbench-idle", "idle", False)
            self.ops.append(rec)
            self._op = None
            self.enabled = prev

    def count_jobs(self) -> None:
        """Attach (jobs, tasks) to every traced op. Called once at the
        end of the run, when the status store has seen every job."""
        st = self.sc.statusTracker()
        for rec in self.ops:
            if not rec["traced"]:
                continue
            jobs = st.getJobIdsForGroup("perfbench-" + rec["op"])
            tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    si = st.getStageInfo(sid)
                    tasks += si.numCompletedTasks if si else 0
            rec["spark_jobs"] = len(jobs)
            rec["spark_tasks"] = tasks

    def durations(self, name: str, op_kinds=None) -> list[float]:
        """Seconds of every span called ``name`` (inside ops of the
        given kinds, when given)."""
        kinds = {o["op"]: o["kind"] for o in self.ops}
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name
            and (op_kinds is None or kinds.get(s["op"]) in op_kinds)
        ]

    def counts(self, name: str, key: str) -> list[float]:
        return [s["counts"][key] for s in self.spans if s["name"] == name and key in s["counts"]]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
            for o in self.ops:
                f.write(json.dumps({"op_summary": o}) + "\n")
