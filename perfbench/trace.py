"""Per-layer tracing done from the benchmark's own files.

Spans are recorded around calls into the program's public functions
(patched on their modules for the duration of a traced run and restored
afterwards); the program itself carries no tracing. Each span tags the
Spark jobs it starts with a thread-local job property, so the event log
attributes tasks, shuffle bytes, output bytes and GC time to the
innermost span even when several client threads run at once.

Spans and counts are kept in memory and written out when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import threading
import time
from collections import defaultdict
from dataclasses import asdict, dataclass, field

#: Spark local property carrying the innermost span id of a thread
SPAN_PROPERTY = "perfbench.span"


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    request: int
    start: float  # time.time() seconds
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Wrappers installed with :meth:`wrap`
    record a span only on threads where tracing is switched on, so one
    run can alternate traced and untraced requests."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        #: the SparkContext whose jobs spans tag; set for a traced run
        self.sc = None

    # ------------------------------------------------------------- spans
    def on(self) -> bool:
        return getattr(self._tls, "on", False)

    def set_on(self, on: bool) -> None:
        self._tls.on = on

    def _stack(self) -> list[Span]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def _tag(self, span_id: int | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(
                SPAN_PROPERTY, None if span_id is None else str(span_id)
            )

    def begin(self, name: str, **attrs) -> Span:
        """Open a span under the thread's current one; a root span starts
        a request, whose id is the root's own."""
        st = self._stack()
        parent = st[-1] if st else None
        sid = next(self._ids)
        sp = Span(
            sid, parent.id if parent else None, name,
            parent.request if parent else sid, time.time(), attrs=dict(attrs),
        )
        st.append(sp)
        self._tag(sp.id)
        return sp

    def end(self, sp: Span) -> None:
        sp.end = time.time()
        st = self._stack()
        st.pop()
        self._tag(st[-1].id if st else None)
        with self._lock:
            self.spans.append(sp)

    @contextlib.contextmanager
    def request(self, name: str, traced: bool, **attrs):
        """One request with tracing switched on or off for this thread;
        yields its root span, or None when untraced."""
        self.set_on(traced)
        sp = self.begin(name, **attrs) if traced else None
        try:
            yield sp
        finally:
            if sp is not None:
                self.end(sp)
            self.set_on(False)

    @contextlib.contextmanager
    def span(self, name: str):
        """A child span while tracing is on for this thread."""
        if not self.on():
            yield None
            return
        sp = self.begin(name)
        try:
            yield sp
        finally:
            self.end(sp)

    # ----------------------------------------------------------- patches
    def wrap(self, owner, attr: str, name: str, counts=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.
        ``counts(args, kwargs, result)`` may return attributes to store
        on the span."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name) as sp:
                result = orig(*args, **kwargs)
            if sp is not None and counts is not None:
                sp.attrs.update(counts(args, kwargs, result))
            return result

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for sp in sorted(self.spans, key=lambda s: s.id):
                fh.write(json.dumps(asdict(sp)) + "\n")


def children(spans: list[Span]) -> dict[int, list[Span]]:
    out: dict[int, list[Span]] = defaultdict(list)
    for sp in spans:
        if sp.parent is not None:
            out[sp.parent].append(sp)
    return out


def self_time(sp: Span, kids: dict[int, list[Span]]) -> float:
    """Span duration minus the time its child spans cover (children of
    one span run one after another on the span's thread)."""
    return sp.dur - sum(c.dur for c in kids.get(sp.id, ()))


# --------------------------------------------------------------- event log


@dataclass
class SpanWork:
    """Spark work of the jobs one span started."""

    jobs: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_bytes: int = 0
    output_bytes: int = 0
    output_records: int = 0
    #: shuffle bytes of jobs that wrote no output (e.g. the dedup
    #: materialization inside a sink, as opposed to its write job)
    shuffle_bytes_nowrite: int = 0
    #: [submit, complete] wall intervals (s) of jobs with / without output
    write_jobs: list = field(default_factory=list)
    other_jobs: list = field(default_factory=list)


@dataclass
class EventLog:
    per_span: dict[int, SpanWork]
    #: (finish_s, executor_run_ms, gc_ms) for every task in the log
    tasks: list[tuple[float, float, float]]

    def work(self, span_id: int) -> SpanWork:
        return self.per_span.get(span_id) or SpanWork()


def read_event_log(log_dir: str) -> EventLog:
    """Parse the uncompressed JSON-lines event log(s) under ``log_dir``
    and attribute each job's tasks to the span named in its job
    properties."""
    paths = []
    for root, _dirs, files in os.walk(log_dir):
        paths += [os.path.join(root, f) for f in files if not f.startswith("appstatus")]
    all_jobs: list[dict] = []
    tasks: list[tuple[float, float, float]] = []
    for path in sorted(paths):
        # job and stage ids restart in every application's log
        jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        with open(path, encoding="utf-8", errors="replace") as fh:
            for line in fh:
                if '"SparkListenerJob' not in line and '"SparkListenerTaskEnd"' not in line:
                    continue
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    sid = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
                    t = ev.get("Submission Time", 0) / 1000
                    jobs[ev["Job ID"]] = {
                        "span": int(sid) if sid is not None else None,
                        "start": t, "end": t, "tasks": 0, "run": 0.0, "gc": 0.0,
                        "shuffle": 0, "out": 0, "out_rec": 0,
                    }
                    for st in ev.get("Stage IDs", []):
                        stage_job.setdefault(st, ev["Job ID"])
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev.get("Completion Time", 0) / 1000
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    run_ms = m.get("Executor Run Time", 0)
                    gc_ms = m.get("JVM GC Time", 0)
                    tasks.append((info.get("Finish Time", 0) / 1000, run_ms, gc_ms))
                    j = jobs.get(stage_job.get(ev.get("Stage ID")))
                    if j is None:
                        continue
                    out = m.get("Output Metrics") or {}
                    j["tasks"] += 1
                    j["run"] += run_ms
                    j["gc"] += gc_ms
                    j["shuffle"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    j["out"] += out.get("Bytes Written", 0)
                    j["out_rec"] += out.get("Records Written", 0)
        all_jobs += jobs.values()
    per_span: dict[int, SpanWork] = defaultdict(SpanWork)
    for j in all_jobs:
        if j["span"] is None:
            continue
        w = per_span[j["span"]]
        w.jobs += 1
        w.tasks += j["tasks"]
        w.run_ms += j["run"]
        w.gc_ms += j["gc"]
        w.shuffle_bytes += j["shuffle"]
        w.output_bytes += j["out"]
        w.output_records += j["out_rec"]
        if j["out"]:
            w.write_jobs.append((j["start"], j["end"]))
        else:
            w.shuffle_bytes_nowrite += j["shuffle"]
            w.other_jobs.append((j["start"], j["end"]))
    return EventLog(dict(per_span), tasks)


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
