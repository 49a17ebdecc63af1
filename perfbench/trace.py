"""Traced mode: spans around the calls into each layer, and Spark job
metrics attributed to those spans from the event log.

Nothing here edits the package: :meth:`Tracer.wrap` replaces a module
or class attribute with a timing wrapper for the life of the traced
run and :meth:`Tracer.restore` puts the original back. Every span tags
the Spark jobs it starts with the job description ``pb:<span id>``
(a thread-local property, so spans open on concurrent threads tag their
own jobs); jobs started from threads the description does not reach are
attributed by submission time to the innermost span open at that
instant. Each thread nests its own spans; a worker thread hangs its
spans under a span of the thread that started it with
:meth:`Tracer.adopt`. Spans stay in memory until :meth:`Tracer.dump`.

Spark is lazy, so the wall time of a call that returns a DataFrame is
plan time only; the executor work lands on the span whose action ran
the job (``spark.*`` metrics below).
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from contextlib import contextmanager

#: per-job Spark metrics, summed over a span's subtree
SPARK_KEYS = (
    "jobs", "tasks", "failed_tasks", "executor_run_s", "gc_s",
    "shuffle_write_bytes", "input_bytes", "output_bytes", "spill_bytes",
)


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        #: wrappers pass straight through while False (untraced ops)
        self.enabled = True
        # wall clock at a perf_counter origin: span times are perf
        # readings, mapped to epoch ms only to meet the event log
        self._wall0 = time.time()
        self._perf0 = time.perf_counter()

    def epoch_ms(self, perf: float) -> float:
        return (self._wall0 + (perf - self._perf0)) * 1000.0

    @property
    def _stack(self) -> list[int]:
        """Open span ids of the calling thread, innermost last."""
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _describe(self, span_id: int | None) -> None:
        if self.sc is not None:
            self.sc.setJobDescription(None if span_id is None else f"pb:{span_id}")

    @contextmanager
    def span(self, name: str):
        stack = self._stack
        with self._lock:
            sid = len(self.spans)
            rec = {
                "id": sid,
                "name": name,
                "parent": stack[-1] if stack else None,
                "start": None,
                "end": None,
                "attrs": {},
            }
            self.spans.append(rec)
        # tag first: the JVM round trip stays outside the span's time
        self._describe(sid)
        rec["start"] = time.perf_counter()
        stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self._describe(stack[-1] if stack else None)

    @contextmanager
    def adopt(self, parent: dict | None):
        """In a worker thread: nest the thread's spans (and tag its
        untraced jobs) under ``parent``, a span of another thread."""
        stack = self._stack
        saved = stack[:]
        stack[:] = [] if parent is None else [parent["id"]]
        self._describe(stack[-1] if stack else None)
        try:
            yield
        finally:
            stack[:] = saved
            self._describe(stack[-1] if stack else None)

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` with a spanned call; ``on_result(rec,
        result)`` may record counts on the span."""
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        func = original.__func__ if isinstance(original, (classmethod, staticmethod)) else original
        tracer = self

        @functools.wraps(func)
        def spanned(*args, **kwargs):
            if not tracer.enabled:
                return func(*args, **kwargs)
            with tracer.span(name) as rec:
                out = func(*args, **kwargs)
                if on_result is not None:
                    on_result(rec, out)
                return out

        setattr(owner, attr, spanned)
        self._patches.append((owner, attr, original))

    def restore(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    # -- queries ------------------------------------------------------

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def duration(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def self_time(self, rec: dict) -> float:
        """Duration minus the part of it its child spans cover (children
        on concurrent threads may overlap: their union counts once)."""
        covered, reach = 0.0, rec["start"]
        for a, b in sorted((c["start"], c["end"]) for c in self.spans if c["parent"] == rec["id"]):
            if b > reach:
                covered += b - max(a, reach)
                reach = b
        return self.duration(rec) - covered

    def subtree(self, rec: dict) -> set[int]:
        ids = {rec["id"]}
        for s in self.spans[rec["id"] + 1:]:
            if s["parent"] in ids:
                ids.add(s["id"])
        return ids

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        out = [
            {
                **s,
                "start_ms": self.epoch_ms(s["start"]),
                "end_ms": self.epoch_ms(s["end"]),
                "duration_s": self.duration(s),
                "self_s": self.self_time(s),
            }
            for s in self.spans
        ]
        with open(path, "w") as fh:
            json.dump(out, fh, indent=1, default=str)


def event_log_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_event_log(log_dir: str) -> list[dict]:
    """Jobs from the (single) application log in ``log_dir``: id,
    description, submission ms and summed task metrics. Read after the
    session stopped, when the log is complete."""
    paths = sorted(glob.glob(os.path.join(log_dir, "*")))
    if not paths:
        return []
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(paths[-1]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "id": jid,
                    "desc": props.get("spark.job.description"),
                    "submit_ms": ev.get("Submission Time", 0),
                    **{k: 0 for k in SPARK_KEYS},
                    "jobs": 1,
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev.get("Stage ID")))
                if job is None:
                    continue
                job["tasks"] += 1
                if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    job["failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                job["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                job["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                job["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                job["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                job["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                job["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
    return list(jobs.values())


def attribute_jobs(tracer: Tracer, jobs: list[dict]) -> dict[int, list[dict]]:
    """span id -> jobs it started: by description first, else the
    innermost span whose interval holds the submission time."""
    out: dict[int, list[dict]] = {}
    intervals = [
        (tracer.epoch_ms(s["start"]), tracer.epoch_ms(s["end"]), s["id"])
        for s in tracer.spans
    ]
    for job in jobs:
        desc = job["desc"] or ""
        sid = int(desc[3:]) if desc.startswith("pb:") else None
        if sid is None:
            # innermost = the latest-started span holding the instant
            holding = [i for a, b, i in intervals if a <= job["submit_ms"] <= b]
            sid = max(holding) if holding else None
        if sid is not None:
            out.setdefault(sid, []).append(job)
    return out


def spark_totals(tracer: Tracer, by_span: dict[int, list[dict]], rec: dict) -> dict:
    """Summed job metrics of ``rec``'s subtree."""
    tot = {k: 0 for k in SPARK_KEYS}
    for sid in tracer.subtree(rec):
        for job in by_span.get(sid, []):
            for k in SPARK_KEYS:
                tot[k] += job[k]
    return tot
