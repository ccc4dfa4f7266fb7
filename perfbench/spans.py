"""Spans for traced benchmark runs.

A traced run wraps public functions of the package at runtime: the wrapper
replaces the name in the module (or class) that looks it up, records a span
(name, layer, start, end, parent) and tags the Spark work issued inside it
with a job group of its own.  Job, stage and task counts come from the
status tracker when a span closes; executor time, shuffle and spill bytes
and the time no task ran come from the Spark event log after the session
stops.  Spans stay in memory; ``dump`` writes them out once at the end.

Spans flagged ``probe`` are extra Spark work the trace itself issues (row
counts, the parse probe).  Their jobs are kept apart from every layer.  The
tracer adds up the wall time of its probes (``probe_s``) and of its own
bookkeeping (``own_s``), so an op's time can be told apart from both.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
from collections import defaultdict


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.spans: list[dict] = []
        self.probe_s = 0.0  # wall time of the probe spans so far
        self.own_s = 0.0  # wall time of the tracer's own bookkeeping so far
        self._stack: list[dict] = []
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"pb{span['id']}", span["name"])

    def _in_probe(self) -> bool:
        return any(s["probe"] for s in self._stack)

    @contextlib.contextmanager
    def span(self, name: str, layer: str, probe: bool = False, **attrs):
        """A span; its bookkeeping (job group, status-tracker queries) counts
        in ``own_s``, or in ``probe_s`` for a probe."""
        in_probe = probe or self._in_probe()
        rec = {
            "id": len(self.spans) + 1,
            "parent": self._stack[-1]["id"] if self._stack else 0,
            "name": name,
            "layer": layer,
            "probe": probe,
            "start": time.time(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        if not in_probe:
            self.own_s += time.time() - rec["start"]
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self._count_jobs(rec)
            if not in_probe:
                self.own_s += time.time() - rec["end"]
            elif not self._in_probe():
                self.probe_s += time.time() - rec["start"]

    def _count_jobs(self, rec: dict) -> None:
        jobs = sorted(self.tracker.getJobIdsForGroup(f"pb{rec['id']}"))
        stages: set[int] = set()
        for jid in jobs:
            info = self.tracker.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
        ran = tasks = 0
        for sid in stages:
            st = self.tracker.getStageInfo(sid)
            if st is not None and st.numCompletedTasks > 0:
                ran += 1
                tasks += st.numCompletedTasks
        rec.update(jobs=len(jobs), job_ids=jobs, stages=ran, tasks=tasks)

    # -- patching ------------------------------------------------------------

    def wrap(self, owner, attr: str, layer: str, before=None, after=None) -> None:
        """Replace ``owner.attr`` with a spanned wrapper.  ``before(rec)``
        and ``after(rec, args, kwargs, result)`` may annotate the span around
        the call; they run inside the span, so Spark work they issue must
        open a probe span of its own."""
        orig = getattr(owner, attr)
        tracer = self

        def hook(fn, *hook_args):
            t0, probes = time.time(), tracer.probe_s
            fn(*hook_args)
            if not tracer._in_probe():
                tracer.own_s += time.time() - t0 - (tracer.probe_s - probes)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(attr, layer) as rec:
                if before is not None:
                    hook(before, rec)
                result = orig(*args, **kwargs)
                if after is not None:
                    hook(after, rec, args, kwargs, result)
                return result

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- analysis ------------------------------------------------------------

    def op_of(self) -> dict[int, int]:
        """span id -> id of the enclosing ``op`` span (0 outside any op)."""
        by_id = {s["id"]: s for s in self.spans}
        out: dict[int, int] = {}
        for s in self.spans:
            cur = s
            while cur is not None and not cur.get("op"):
                cur = by_id.get(cur["parent"])
            out[s["id"]] = cur["id"] if cur is not None else 0
        return out

    def self_times(self) -> dict[int, float]:
        """Duration minus the children's durations (children never overlap:
        the benchmark is single-threaded)."""
        child = defaultdict(float)
        for s in self.spans:
            child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child[s["id"]] for s in self.spans}

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, default=str)


def read_event_log(log_dir: str) -> tuple[dict[int, str], list[dict]]:
    """Parse a Spark event log: job id -> job group, and one record per
    finished task (stage, launch/finish epoch seconds, executor run seconds,
    shuffle bytes written, bytes spilled)."""
    job_group: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    # Spark 4 writes a rolling log: a directory of events_<n>_* files
    paths = sorted(glob.glob(f"{log_dir}/**/events_*", recursive=True))
    paths += [p for p in glob.glob(f"{log_dir}/*") if os.path.isfile(p)]
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    job_group[jid] = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id", ""
                    )
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    tasks.append(
                        {
                            "stage": ev["Stage ID"],
                            "launch": info.get("Launch Time", 0) / 1000.0,
                            "finish": info.get("Finish Time", 0) / 1000.0,
                            "run_s": m.get("Executor Run Time", 0) / 1000.0,
                            "shuffle_bytes": (m.get("Shuffle Write Metrics") or {}).get(
                                "Shuffle Bytes Written", 0
                            ),
                            "spill_bytes": m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0),
                        }
                    )
    for t in tasks:
        t["job"] = stage_job.get(t["stage"], -1)
    return job_group, tasks


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
