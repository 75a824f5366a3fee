"""Traced-run tooling: spans around the engine's public calls, and Spark's
task metrics folded per span.

Nothing here edits the engine. ``Tracer.wrap`` replaces a function at
module (or class) attribute level with a wrapper that records a span, and
``Tracer.restore`` puts every original back. Each span also tags the Spark
jobs it submits with its own job group, so the event log can be folded
back onto spans afterwards (``fold_event_log``).

Parents follow the thread: each thread keeps its own span stack, and a
thread pool created while a span is open (the runner's binding pool, the
admission fold pool) hands that span to its workers as their parent.
"""

from __future__ import annotations

import concurrent.futures
import contextlib
import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from pathlib import Path

from . import stats

GROUP_KEY = "spark.jobGroup.id"
GROUP_PREFIX = "perfbench-span-"


class Span:
    __slots__ = ("id", "name", "parent", "thread", "start", "end", "attrs")

    def __init__(self, sid: int, name: str, parent: int | None, attrs: dict) -> None:
        self.id, self.name, self.parent, self.attrs = sid, name, parent, attrs
        self.thread = threading.current_thread().name
        self.start = time.perf_counter()
        self.end: float | None = None

    @property
    def duration(self) -> float:
        return (self.end or time.perf_counter()) - self.start

    def as_dict(self, t0: float) -> dict:
        return {
            "id": self.id, "name": self.name, "parent": self.parent,
            "thread": self.thread, "start_s": self.start - t0,
            "end_s": (self.end or self.start) - t0, **self.attrs,
        }


class Tracer:
    """In-memory span recorder. ``enabled`` switches recording without
    unwrapping, so traced and untraced repetitions share one process."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.enabled = False
        self.t0 = time.perf_counter()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> Span | None:
        stack = self._stack()
        return stack[-1] if stack else getattr(self._local, "inherited", None)

    def open(self, name: str, **attrs) -> Span:
        parent = self.current()
        with self._lock:
            span = Span(next(self._ids), name, parent.id if parent else None, attrs)
            self.spans.append(span)
        span.attrs["_prev_group"] = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, f"{GROUP_PREFIX}{span.id}")
        self._stack().append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack().pop()
        self.sc.setLocalProperty(GROUP_KEY, span.attrs.pop("_prev_group"))

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """A span around the ``with`` body; yields None when disabled."""
        if not self.enabled:
            yield None
            return
        span = self.open(name, **attrs)
        try:
            yield span
        finally:
            self.close(span)

    # -- wrapping ------------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Record a span named ``name`` around every call of
        ``owner.attr``. ``on_result(result)`` may return a replacement,
        used to time work a lazy call hands back (a DataFrame's collect)."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return original(*args, **kwargs)
            with tracer.span(name):
                result = original(*args, **kwargs)
            return on_result(result) if on_result else result

        self._patches.append((owner, attr, original))
        setattr(owner, attr, traced)

    def timed_collect(self, name: str):
        """``on_result`` hook: the returned DataFrame's ``collect`` runs
        inside a span named ``name``."""
        tracer = self

        def hook(df):
            original = df.collect

            def collect():
                with tracer.span(name):
                    return original()

            df.collect = collect
            return df

        return hook

    def wrap_pools(self) -> None:
        """Hand the submitting thread's open span (and so its Spark job
        group) to the workers of every thread pool created from now on."""
        tracer = self
        base = concurrent.futures.ThreadPoolExecutor

        class SpanPropagatingPool(base):
            def submit(self, fn, /, *args, **kwargs):
                parent = tracer.current() if tracer.enabled else None
                if parent is None:
                    return super().submit(fn, *args, **kwargs)

                def run():
                    tracer._local.inherited = parent
                    prev = tracer.sc.getLocalProperty(GROUP_KEY)
                    tracer.sc.setLocalProperty(GROUP_KEY, f"{GROUP_PREFIX}{parent.id}")
                    try:
                        return fn(*args, **kwargs)
                    finally:
                        tracer.sc.setLocalProperty(GROUP_KEY, prev)
                        tracer._local.inherited = None

                return super().submit(run)

        self._patches.append((concurrent.futures, "ThreadPoolExecutor", base))
        concurrent.futures.ThreadPoolExecutor = SpanPropagatingPool

    def patch_module_pools(self, *modules) -> None:
        """Modules that imported ThreadPoolExecutor by name at import time
        get the propagating pool too."""
        for m in modules:
            self._patches.append((m, "ThreadPoolExecutor", m.ThreadPoolExecutor))
            m.ThreadPoolExecutor = concurrent.futures.ThreadPoolExecutor

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    # -- reporting -------------------------------------------------------------

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end is not None]

    def self_time(self, span: Span) -> float:
        children = [(c.start, c.end) for c in self.spans
                    if c.parent == span.id and c.end is not None]
        return stats.self_time((span.start, span.end), children)

    def write(self, path: Path, spark_by_span: dict, extra: dict) -> None:
        records = []
        for s in self.spans:
            rec = s.as_dict(self.t0)
            if s.end is not None:
                rec["self_s"] = self.self_time(s)
            rec["spark"] = spark_by_span.get(s.id, {})
            records.append(rec)
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({**extra, "spans": records}, indent=1))


# ---------------------------------------------------------------------------
# Event-log fold
# ---------------------------------------------------------------------------

SPARK_FIELDS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                "jvm_gc_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
                "input_mb")
MB = 2 ** 20


def _empty() -> dict:
    return {k: 0 for k in SPARK_FIELDS}


def fold_event_log(lines, window_ms: tuple[float, float] | None = None):
    """Fold a Spark JSON event log into (totals, per-span dict). Jobs are
    attributed to the span whose job group they carry; ``window_ms``
    (epoch ms) keeps only jobs submitted inside it in the totals."""
    job_group: dict[int, str | None] = {}
    job_in_window: dict[int, bool] = {}
    stage_job: dict[int, int] = {}
    per_job: dict[int, dict] = defaultdict(_empty)
    stages_seen: set[tuple[int, int]] = set()
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            job_group[jid] = (ev.get("Properties") or {}).get(GROUP_KEY)
            sub = ev.get("Submission Time", 0)
            job_in_window[jid] = window_ms is None or window_ms[0] <= sub <= window_ms[1]
            per_job[jid]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerTaskEnd":
            sid = ev.get("Stage ID")
            jid = stage_job.get(sid)
            if jid is None:
                continue
            m = ev.get("Task Metrics") or {}
            acc = per_job[jid]
            acc["tasks"] += 1
            key = (sid, ev.get("Stage Attempt ID", 0))
            if key not in stages_seen:
                stages_seen.add(key)
                acc["stages"] += 1
            acc["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            acc["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            acc["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
            sr = m.get("Shuffle Read Metrics") or {}
            acc["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                       + sr.get("Local Bytes Read", 0)) / MB
            acc["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                                + m.get("Disk Bytes Spilled", 0)) / MB
            acc["input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / MB
    totals, by_span = _empty(), defaultdict(_empty)
    for jid, acc in per_job.items():
        group = job_group.get(jid)
        if job_in_window.get(jid, False):
            for k in SPARK_FIELDS:
                totals[k] += acc[k]
        if group and group.startswith(GROUP_PREFIX):
            span = by_span[int(group[len(GROUP_PREFIX):])]
            for k in SPARK_FIELDS:
                span[k] += acc[k]
    return totals, dict(by_span)


def read_event_log(directory: str) -> list[str]:
    lines: list[str] = []
    for p in sorted(Path(directory).glob("*")):
        if p.is_file():
            lines.extend(p.read_text().splitlines())
    return [ln for ln in lines if ln.strip()]
