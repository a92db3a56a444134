"""Spans recorded from outside the program, and the Spark event log read
back against them.

A span marks one call into a layer: name, start, end and the span that
was open when it began.  While a span is open its id is the thread's Spark
job group, so every job the call triggers is tagged with the innermost
span; the parent's group comes back when the span closes.  Spans stay in
memory and are written out once, at the end of the run.

``Tracer.patch`` swaps a module attribute or a class's method for a
wrapper that opens a span around each call.  It is how the benchmark sees
the operators that ``plans.crawl`` calls and the round tables it writes:
it patches the names that module imported and the ``RoundTable`` methods,
so the program itself is unchanged.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time

from bench_stats import Job, Span

GROUP_KEY = "spark.jobGroup.id"


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc  # None: spans are recorded, jobs are not tagged
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=f"s{len(self.spans)}",
            name=name,
            parent=parent.id if parent else None,
            start=time.time(),
        )
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            self.sc.setLocalProperty(GROUP_KEY, s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty(GROUP_KEY, parent.id if parent else None)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def patch(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, self.wrap(orig, name))

    def unpatch(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def read_event_log(log_dir: str) -> tuple[list[Job], list[dict]]:
    """Jobs (with their job group) and finished tasks from the one
    application log under ``log_dir``.  Read after ``SparkContext.stop``,
    which flushes and closes the log."""
    paths = [
        os.path.join(d, f) for d, _, files in os.walk(log_dir) for f in files
    ]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    with open(paths[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                j = Job(
                    id=ev["Job ID"],
                    group=props.get(GROUP_KEY),
                    submit=ev["Submission Time"] / 1000.0,
                    end=ev["Submission Time"] / 1000.0,
                )
                jobs[j.id] = j
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = j.id
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                rd = m.get("Shuffle Read Metrics") or {}
                wr = m.get("Shuffle Write Metrics") or {}
                tasks.append(
                    {
                        "job": stage_job.get(ev["Stage ID"]),
                        "stage": ev["Stage ID"],
                        "run_s": m.get("Executor Run Time", 0) / 1000.0,
                        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                        "shuffle_read": rd.get("Remote Bytes Read", 0)
                        + rd.get("Local Bytes Read", 0),
                        "shuffle_write": wr.get("Shuffle Bytes Written", 0),
                    }
                )
    return sorted(jobs.values(), key=lambda j: j.id), tasks
