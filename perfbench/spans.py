"""Outside-in spans, joined to Spark's event log through job groups.

A span wraps one call from the benchmark into an engine module and records
its name, parent, wall-clock interval and attributes. Spans are kept in
memory. In a traced run each span also sets a Spark job group named after
its id, and the session writes an uncompressed event log; after the session
stops, :func:`read_event_log` maps every job, and through its stages every
task, back to the span that started it. Untraced runs use the same spans
for timing only: they set no job group and write no event log.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    """Span recorder. ``sc`` is the SparkContext whose job group each span
    sets, or None for an untraced run. Each span is stamped with the run's
    current ``phase``: setup, measure, or probe (layers timed after the
    measured window)."""

    def __init__(self, sc=None):
        self.sc = sc
        self.phase = "setup"
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str, **attrs):
        sid = f"pb{next(self._ids)}"
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, "phase": self.phase, "attrs": attrs}
        self._stack.append(sid)
        if self.sc is not None:
            self.sc.setJobGroup(sid, name)
        rec["t0"] = time.time()
        p0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - p0
            rec["t1"] = time.time()
            self._stack.pop()
            if self.sc is not None:
                if parent is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                else:
                    self.sc.setJobGroup(parent, "")
            self.spans.append(rec)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def wrap(self, module, attr: str, name: str, **attrs) -> None:
        """Replace ``module.attr`` with a version that runs inside a span,
        for calls the engine makes internally (traced runs only)."""
        fn = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name, **attrs):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)


def read_event_log(log_dir: str) -> tuple[dict, list]:
    """-> (jobs, tasks). ``jobs[id]`` has the job ``group``, ``t0``/``t1``
    (epoch seconds) and its ``tasks`` count; each task is a dict of its
    job id and run/CPU/GC seconds, shuffle-write and output bytes."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "group": props.get("spark.jobGroup.id"),
                        "t0": ev["Submission Time"] / 1e3,
                        "t1": None,
                        "tasks": 0,
                    }
                    for sid in ev.get("Stage IDs", ()):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    tasks.append(
                        {
                            "job": stage_job.get(ev["Stage ID"]),
                            "run_s": m.get("Executor Run Time", 0) / 1e3,
                            "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                            "gc_s": m.get("JVM GC Time", 0) / 1e3,
                            "shuffle_write_bytes": (
                                m.get("Shuffle Write Metrics") or {}
                            ).get("Shuffle Bytes Written", 0),
                            "output_bytes": (m.get("Output Metrics") or {}).get(
                                "Bytes Written", 0
                            ),
                        }
                    )
    for t in tasks:
        if t["job"] in jobs:
            jobs[t["job"]]["tasks"] += 1
    return jobs, tasks


class Attribution:
    """Spark work per span, its descendants included."""

    def __init__(self, spans: list[dict], jobs: dict, tasks: list):
        self.children: dict[str, list[str]] = {}
        for s in spans:
            if s["parent"] is not None:
                self.children.setdefault(s["parent"], []).append(s["id"])
        self.jobs_by_group: dict[str, list[int]] = {}
        for jid, j in jobs.items():
            if j["group"] is not None:
                self.jobs_by_group.setdefault(j["group"], []).append(jid)
        self.jobs = jobs
        self.tasks_by_job: dict[int, list[dict]] = {}
        for t in tasks:
            self.tasks_by_job.setdefault(t["job"], []).append(t)

    def _subtree(self, sid: str) -> list[str]:
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(self.children.get(cur, ()))
        return out

    def of(self, span: dict) -> dict:
        """Jobs, tasks and summed task metrics for ``span``; ``driver_gap_s``
        is the span's wall time during which none of its jobs ran."""
        jids = [j for s in self._subtree(span["id"]) for j in self.jobs_by_group.get(s, ())]
        tasks = [t for j in jids for t in self.tasks_by_job.get(j, ())]
        out = {
            "jobs": len(jids),
            "tasks": len(tasks),
            "wall_s": span["wall_s"],
        }
        for key in ("run_s", "cpu_s", "gc_s", "shuffle_write_bytes", "output_bytes"):
            out[key] = sum(t[key] for t in tasks)
        busy, end = 0.0, span["t0"]
        for t0, t1 in sorted(
            (max(self.jobs[j]["t0"], span["t0"]), min(self.jobs[j]["t1"] or span["t1"], span["t1"]))
            for j in jids
        ):
            if t1 > end:
                busy += t1 - max(t0, end)
                end = t1
        out["driver_gap_s"] = max(0.0, (span["t1"] - span["t0"]) - busy)
        return out
