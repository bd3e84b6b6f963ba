"""Benchmark-side tracing: spans around layer calls plus Spark's own
accounting of the jobs each span ran.

A span records (name, start, end, parent, request id). While a span is
open, its id is the Spark job group, so every job it triggers can be
attributed to it afterwards: job and stage ids come from Spark's status
tracker, and per-stage executor time, shuffle, spill, input records and
task launch times from the monitoring REST API of the driver's UI (on
127.0.0.1). Spans stay in memory and are written out once at the end.

``NullTracer`` has the same surface and does nothing, so timed runs
execute the same workload code with tracing off.
"""

from __future__ import annotations

import contextlib
import json
import time
import urllib.request
from datetime import datetime, timezone

IDLE_GROUP = "pb-idle"
BOOKKEEPING = "trace.bookkeeping"


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name, **attrs):
        yield {}

    def begin(self, name, **attrs):
        return None

    def end(self, sid):
        pass

    def call(self, name, fn, *args, force=False, **kwargs):
        return fn(*args, **kwargs)

    @contextlib.contextmanager
    def bookkeeping(self):
        yield


class Tracer:
    enabled = True

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.request = None
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ----------------------------------------------------------
    def _group(self):
        self.sc.setJobGroup(
            f"pb-{self.stack[-1]}" if self.stack else IDLE_GROUP, "perfbench")

    def begin(self, name, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({"id": sid, "name": name,
                           "parent": self.stack[-1] if self.stack else None,
                           "request": self.request, "attrs": dict(attrs),
                           "start": time.perf_counter(), "end": None})
        self.stack.append(sid)
        self._group()
        return sid

    def end(self, sid: int) -> None:
        self.spans[sid]["end"] = time.perf_counter()
        while self.stack and self.stack[-1] != sid:
            self.stack.pop()
        if self.stack:
            self.stack.pop()
        self._group()

    @contextlib.contextmanager
    def span(self, name, **attrs):
        sid = self.begin(name, **attrs)
        try:
            yield self.spans[sid]["attrs"]
        finally:
            self.end(sid)

    @contextlib.contextmanager
    def bookkeeping(self):
        """Tracing's own work (row counts of forced outputs): a child
        span so it is excluded from its parent's self time and from
        layer metrics."""
        with self.span(BOOKKEEPING):
            yield

    def call(self, name, fn, *args, force=False, **kwargs):
        return self.call_attrs(name, fn, args, kwargs, force)[0]

    def call_attrs(self, name, fn, args=(), kwargs=None, force=False):
        """Span around ``fn``; with ``force``, the returned DataFrame is
        materialized inside the span (build time kept apart) and its
        row count recorded as bookkeeping."""
        sid = self.begin(name)
        attrs = self.spans[sid]["attrs"]
        try:
            t0 = time.perf_counter()
            out = fn(*args, **(kwargs or {}))
            # driver-side build time of a lazy layer: only when the call
            # itself ran no Spark job
            if not self.sc.statusTracker().getJobIdsForGroup(f"pb-{sid}"):
                attrs["build_s"] = time.perf_counter() - t0
            if force:
                out = out.localCheckpoint(eager=True)
        finally:
            self.end(sid)
        if force:
            with self.bookkeeping():
                attrs["rows"] = out.count()
        return out, attrs

    # -- patching layer entry points --------------------------------------
    def wrap(self, owner, attr: str, name, force=False, attrs_fn=None):
        """Replace ``owner.attr`` with a spanned (and, for lazy layers,
        forced) version. ``name`` may be a callable of the call args;
        ``attrs_fn(attrs, out, *args)`` adds span attributes."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapped(*args, **kwargs):
            span_name = name(*args, **kwargs) if callable(name) else name
            out, attrs = tracer.call_attrs(span_name, orig, args, kwargs,
                                           force)
            if attrs_fn is not None:
                with tracer.bookkeeping():
                    attrs_fn(attrs, out, *args, **kwargs)
            return out

        self.patch(owner, attr, wrapped)

    def patch(self, owner, attr: str, fn) -> None:
        """Set ``owner.attr = fn`` until ``unwrap_all``."""
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, fn)

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- Spark accounting -------------------------------------------------
    def attach_spark_metrics(self) -> None:
        """Per span: jobs, tasks, executor run time, scheduler wait
        (task launch minus stage submission, summed over tasks), shuffle
        write, spill and input records of every stage its jobs ran."""
        st = self.sc.statusTracker()
        stages = _rest_stages(self.sc)
        for s in self.spans:
            job_ids = st.getJobIdsForGroup(f"pb-{s['id']}")
            stage_ids = set()
            for j in job_ids:
                info = st.getJobInfo(j)
                if info is not None:
                    stage_ids.update(info.stageIds)
            m = {"jobs": len(job_ids), "tasks": 0, "executor_run_s": 0.0,
                 "scheduler_wait_s": 0.0, "shuffle_write_bytes": 0,
                 "spill_bytes": 0, "input_records": 0}
            for sid in stage_ids:
                for sd in stages.get(sid, ()):
                    m["tasks"] += sd["numTasks"]
                    m["executor_run_s"] += sd["executorRunTime"] / 1e3
                    m["scheduler_wait_s"] += sd["wait_s"]
                    m["shuffle_write_bytes"] += sd["shuffleWriteBytes"]
                    m["spill_bytes"] += sd["diskBytesSpilled"]
                    m["input_records"] += sd["inputRecords"]
            s["spark"] = m

    # -- derived ------------------------------------------------------------
    def duration(self, s) -> float:
        return s["end"] - s["start"]

    def children(self, sid):
        return [s for s in self.spans if s["parent"] == sid]

    def self_time(self, sid) -> float:
        """Span duration minus the union of its children's intervals."""
        s = self.spans[sid]
        iv = sorted((c["start"], c["end"]) for c in self.children(sid))
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in iv:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return self.duration(s) - covered

    def named(self, name):
        return [s for s in self.spans if s["name"] == name and s["end"]]

    def request_spans(self, request):
        return [s for s in self.spans
                if s["request"] == request and s["name"] != BOOKKEEPING
                and s["end"]]

    def write(self, path: str) -> None:
        out = []
        for s in self.spans:
            if s["end"] is None:
                continue
            out.append({**s, "duration_s": self.duration(s),
                        "self_s": self.self_time(s["id"])})
        with open(path, "w") as fh:
            json.dump(out, fh, indent=1, default=str)


def _ts(s: str | None) -> float | None:
    if not s:
        return None
    return datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f") \
        .replace(tzinfo=timezone.utc).timestamp()


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def _rest_stages(sc) -> dict[int, list[dict]]:
    """stage id -> attempts, from the REST API of this driver's UI."""
    port = sc.uiWebUrl.rsplit(":", 1)[1].strip("/")
    base = (f"http://127.0.0.1:{port}/api/v1/applications/"
            f"{sc.applicationId}")
    out: dict[int, list[dict]] = {}
    for sd in _get(f"{base}/stages?status=complete"):
        sub = _ts(sd.get("submissionTime"))
        wait = 0.0
        if sub is not None:
            tasks = _get(f"{base}/stages/{sd['stageId']}/{sd['attemptId']}"
                         f"/taskList?length=1000000")
            for t in tasks:
                lt = _ts(t.get("launchTime"))
                if lt is not None:
                    wait += max(0.0, lt - sub)
        sd["wait_s"] = wait
        out.setdefault(sd["stageId"], []).append(sd)
    return out
