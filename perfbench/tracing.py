"""In-memory span tracing for the traced run.

The engine is not instrumented; the tracer wraps public functions of its
modules from the outside (``wrap``), counts py4j gateway commands, and
tags every op's Spark jobs with a job group whose id is the op id, so the
status store can be read back per op. Spans are kept in memory and written
once, at the end of the run.
"""

from __future__ import annotations

import functools
import json
import time


def self_time(span: dict, children: list[dict]) -> float:
    """A span's duration minus the part of it that its children cover.
    Overlapping children are merged first, and children are clipped to
    the span, so nothing is subtracted twice."""
    start, end = span["start"], span["end"]
    covered = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(
        (max(c["start"], start), min(c["end"], end)) for c in children
    ):
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
    return (end - start) - covered


class Tracer:
    """Spans, py4j command counts and per-op Spark job statistics."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.op: str | None = None
        self.py4j = 0
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------

    def begin(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append({"id": idx, "op": self.op, "name": name,
                           "parent": parent, "start": time.perf_counter(),
                           "end": None})
        self._stack.append(idx)
        return idx

    def end(self, idx: int) -> dict:
        self.spans[idx]["end"] = time.perf_counter()
        self._stack.pop()
        return self.spans[idx]

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span around
        every call; ``close`` restores the original."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            idx = tracer.begin(name)
            try:
                return orig(*args, **kwargs)
            finally:
                tracer.end(idx)

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, orig))

    def count_py4j(self) -> None:
        """Count every command sent over the py4j gateway."""
        client = self.sc._gateway._gateway_client
        cls = type(client)
        orig = cls.send_command
        tracer = self

        def send_command(*args, **kwargs):
            tracer.py4j += 1
            return orig(*args, **kwargs)

        cls.send_command = send_command
        self._undo.append((cls, "send_command", orig))

    def close(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # -- ops ---------------------------------------------------------------

    def start_op(self, op_id: str) -> None:
        self.op = op_id
        self.sc.setJobGroup(op_id, op_id)

    def finish_op(self) -> dict:
        """Job statistics of the op that just ended (see ``job_stats``)."""
        op_id, self.op = self.op, None
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        return self.job_stats(op_id)

    def op_spans(self, op_id: str) -> list[dict]:
        return [s for s in self.spans if s["op"] == op_id]

    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]

    def self_times(self, op_id: str, names) -> float:
        """Summed self time of the op's spans named in ``names``."""
        return sum(
            self_time(s, self.children(s))
            for s in self.op_spans(op_id)
            if s["name"] in names
        )

    def durations(self, op_id: str) -> dict[str, float]:
        """Summed duration of the op's spans, per span name."""
        out: dict[str, float] = {}
        for s in self.op_spans(op_id):
            out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
        return out

    def job_stats(self, group: str) -> dict:
        """Jobs, tasks and executor totals of one job group, read from the
        status tracker and the status store (both work with the UI off)."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30000)
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out = {"jobs": 0, "tasks": 0, "failed_tasks": 0,
               "max_tasks_per_stage": 0, "executor_run_s": 0.0,
               "executor_cpu_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0}
        stages: set[int] = set()
        for jid in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
        for sid in sorted(stages):
            info = tracker.getStageInfo(sid)
            if info is None or info.numCompletedTasks + info.numFailedTasks == 0:
                continue  # skipped: its shuffle output was reused
            out["tasks"] += info.numCompletedTasks
            out["failed_tasks"] += info.numFailedTasks
            out["max_tasks_per_stage"] = max(
                out["max_tasks_per_stage"], info.numCompletedTasks
            )
            sd = store.lastStageAttempt(sid)
            out["executor_run_s"] += sd.executorRunTime() / 1e3
            out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            out["shuffle_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.diskBytesSpilled()
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)
