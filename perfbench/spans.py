"""Spans around calls into the engine's layers, and Spark counters per span.

Spans are recorded only from the benchmark's own files: ``Tracer.wrap``
replaces a public function or method of an engine module with a wrapper
that opens a span, and ``Tracer.span`` opens one around a call the
benchmark makes itself. Each span sets a Spark job group named after its
id, so every job the span runs (outside child spans) is attributed to it;
the counters are read from Spark's status store once the run is over.

Spans are kept in memory and written out as JSON lines at the end. With
tracing off every method is a no-op and nothing is patched.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass, field

SPARK_COUNTERS = ("jobs", "stages", "tasks", "job_ms", "executor_run_ms",
                  "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes",
                  "spill_bytes")


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    request: int | None
    thread: str
    start: float
    end: float = 0.0
    wall_start_ms: float = 0.0  # epoch ms, comparable with Spark job times
    wall_end_ms: float = 0.0
    attrs: dict = field(default_factory=dict)
    # filled by Tracer.harvest: counters of jobs run directly in this span
    spark: dict = field(default_factory=dict)
    # (job id, job name, job ms, submission epoch ms)
    job_sites: list = field(default_factory=list)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    # ---- spans --------------------------------------------------------------

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"pb{span.sid}", span.name)

    @contextlib.contextmanager
    def span(self, name: str, request: int | None = None, **attrs):
        """Open a span; yields it (or None when tracing is off)."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        sp = Span(next(self._ids), name, parent.sid if parent else None,
                  request if request is not None else
                  (parent.request if parent else None),
                  threading.current_thread().name, time.perf_counter(),
                  wall_start_ms=time.time() * 1000, attrs=dict(attrs))
        with self._lock:
            self.spans.append(sp)
        stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.wall_end_ms = time.time() * 1000
            stack.pop()
            self._set_group(parent)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a module function or an instance method)
        with a wrapper that runs it inside a span called ``name``."""
        if not self.enabled:
            return
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            with self.span(name):
                return orig(*a, **kw)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # ---- Spark counters -----------------------------------------------------

    def harvest(self) -> None:
        """Attach each span's Spark jobs, stages, tasks and stage metrics,
        read from the status store. Call after the traced work is done."""
        if not self.enabled:
            return
        sc = self.sc
        store = sc._jsc.sc().statusStore()
        tracker = sc.statusTracker()
        jvm = sc._jvm
        no_status = jvm.java.util.ArrayList()
        no_quantiles = sc._gateway.new_array(jvm.double, 0)
        for sp in self.spans:
            c = dict.fromkeys(SPARK_COUNTERS, 0)
            for jid in sorted(tracker.getJobIdsForGroup(f"pb{sp.sid}")):
                jd = store.job(jid)
                sub, comp = jd.submissionTime(), jd.completionTime()
                job_ms = (comp.get().getTime() - sub.get().getTime()
                          if sub.isDefined() and comp.isDefined() else 0)
                c["jobs"] += 1
                c["job_ms"] += job_ms
                sp.job_sites.append((jid, jd.name(), job_ms,
                                     sub.get().getTime() if sub.isDefined() else 0))
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else []):
                    attempts = store.stageData(sid, False, no_status, False,
                                               no_quantiles)
                    for i in range(attempts.size()):
                        st = attempts.apply(i)
                        if st.numCompleteTasks() == 0:
                            continue  # skipped: shuffle output reused
                        c["stages"] += 1
                        c["tasks"] += st.numCompleteTasks()
                        c["executor_run_ms"] += st.executorRunTime()
                        c["gc_ms"] += st.jvmGcTime()
                        c["shuffle_read_bytes"] += st.shuffleReadBytes()
                        c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                        c["spill_bytes"] += (st.memoryBytesSpilled()
                                             + st.diskBytesSpilled())
            sp.spark = c

    # ---- span-tree queries --------------------------------------------------

    def children(self) -> dict[int, list[Span]]:
        kids: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append(sp)
        return kids

    def subtree(self, root: Span, kids=None) -> list[Span]:
        kids = self.children() if kids is None else kids
        out, todo = [], [root]
        while todo:
            sp = todo.pop()
            out.append(sp)
            todo.extend(kids.get(sp.sid, []))
        return out

    def inclusive(self, root: Span, kids=None) -> dict:
        """Spark counters summed over ``root`` and all its descendants."""
        tot = dict.fromkeys(SPARK_COUNTERS, 0)
        for sp in self.subtree(root, kids):
            for k, v in sp.spark.items():
                tot[k] += v
        return tot

    def self_ms(self, sp: Span, kids=None) -> float:
        """Span duration minus the time its direct children cover."""
        kids = self.children() if kids is None else kids
        return sp.ms - sum(k.ms for k in kids.get(sp.sid, []))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                d = asdict(sp)
                d["ms"] = sp.ms
                f.write(json.dumps(d, default=str) + "\n")
