"""Measurement from outside the engine: wrappers around public calls.

Every run patches ``apply_batch`` (in ``ingest`` and, because the tail
imports it by name, in ``streaming.tail``) and ``LakeTable.compact_partial``
to time each commit: from apply start until the batch marker is durable,
plus the compaction that commit triggers. That costs two clock reads per
call.

A traced run (``trace=True``) also wraps the public calls of the other
layers, keeps one span per call in memory (name, start, end, parent, run
id), counts Spark jobs/stages/tasks per commit from the scheduler, and
collects the tail's own ``durationMs`` through a query listener.
"""

from __future__ import annotations

import functools
import itertools
import statistics
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

from pyorchdb_spark import ingest
from pyorchdb_spark.sources.catalog import BatchLedger
from pyorchdb_spark.sources.lake import LakeTable
from pyorchdb_spark.streaming import tail

# (owner, attribute, span name) wrapped only in traced runs
TRACED_CALLS = [
    (LakeTable, "merge", "lake.merge"),
    (LakeTable, "manifest", "lake.manifest"),
    (LakeTable, "partial_compaction_due", "lake.partial_compaction_due"),
    (BatchLedger, "is_committed", "catalog.is_committed"),
    (BatchLedger, "record_lineage", "catalog.record_lineage"),
    (BatchLedger, "commit_marker", "catalog.commit_marker"),
    (BatchLedger, "collect_partition_metrics", "catalog.collect_partition_metrics"),
    (BatchLedger, "low_watermark", "catalog.low_watermark"),
]
LEDGER_SPANS = ("catalog.is_committed", "catalog.record_lineage", "catalog.commit_marker")


@dataclass
class Span:
    name: str
    start: float
    end: float
    span_id: int
    parent: int | None
    run_id: str


@dataclass
class Commit:
    batch_id: str
    start: float
    end: float
    rows_in: int = 0
    skipped: bool = False
    compacted: bool = False
    job_range: tuple[int, int] | None = None  # [first, end) Spark job ids


@dataclass
class Recorder:
    spark: object
    trace: bool
    run_id: str
    spans: list[Span] = field(default_factory=list)
    commits: list[Commit] = field(default_factory=list)
    compaction_versions: list[int] = field(default_factory=list)

    def __post_init__(self):
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._saved: list[tuple[object, str, object]] = []
        self.root: int | None = None  # span id of the pass being measured

    # ---------- spans ----------

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _open(self) -> tuple[int, int | None]:
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else self.root
        stack.append(sid)
        return sid, parent

    def _close(self, name: str, sid: int, parent: int | None, t0: float) -> None:
        t1 = time.perf_counter()
        self._stack().pop()
        with self._lock:
            self.spans.append(Span(name, t0, t1, sid, parent, self.run_id))

    def span(self, name: str):
        rec = self

        class _Ctx:
            def __enter__(self):
                self.sid, self.parent = rec._open()
                self.t0 = time.perf_counter()
                return self

            def __exit__(self, *exc):
                rec._close(name, self.sid, self.parent, self.t0)

        return _Ctx()

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*a, **k):
            if not self.trace:
                return fn(*a, **k)
            sid, parent = self._open()
            t0 = time.perf_counter()
            try:
                return fn(*a, **k)
            finally:
                self._close(name, sid, parent, t0)

        return wrapper

    # ---------- Spark job ids ----------

    def _next_job_id(self) -> int:
        return int(self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId())

    # ---------- patching ----------

    def _patch(self, owner, attr: str, new) -> None:
        self._saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def __enter__(self):
        orig_apply = ingest.apply_batch
        traced_apply = self._wrap(orig_apply, "ingest.apply_batch")

        @functools.wraps(orig_apply)
        def apply_batch(lake, ledger, events, batch_id, **kw):
            j0 = self._next_job_id() if self.trace else None
            t0 = time.perf_counter()
            res = traced_apply(lake, ledger, events, batch_id, **kw)
            c = Commit(batch_id, t0, time.perf_counter(), res.rows_in, res.skipped)
            if self.trace:
                c.job_range = (j0, self._next_job_id())
            with self._lock:
                self.commits.append(c)
            return res

        orig_compact = LakeTable.compact_partial
        traced_compact = self._wrap(orig_compact, "lake.compact_partial")

        @functools.wraps(orig_compact)
        def compact_partial(lake, *a, **k):
            m = traced_compact(lake, *a, **k)
            with self._lock:
                if self.commits:
                    c = self.commits[-1]
                    c.end, c.compacted = time.perf_counter(), True
                    if c.job_range is not None:
                        c.job_range = (c.job_range[0], self._next_job_id())
                self.compaction_versions.append(m.version)
            return m

        self._patch(ingest, "apply_batch", apply_batch)
        self._patch(tail, "apply_batch", apply_batch)
        self._patch(LakeTable, "compact_partial", compact_partial)
        for owner, attr, name in TRACED_CALLS:
            self._patch(owner, attr, self._wrap(getattr(owner, attr), name))
        return self

    def __exit__(self, *exc):
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()

    def reset(self) -> None:
        with self._lock:
            self.spans.clear()
            self.commits.clear()
            self.compaction_versions.clear()

    # ---------- per-commit Spark counts ----------

    def commit_counts(self) -> dict[str, list[int]]:
        """jobs/stages/tasks per commit, split into first, compacting and
        clean commits (statusTracker keeps the last 1000 jobs)."""
        st = self.spark.sparkContext.statusTracker()
        out: dict[str, list[int]] = {}
        for i, c in enumerate(self.commits):
            if c.job_range is None or c.skipped:
                continue
            kind = "first" if i == 0 else ("compacting" if c.compacted else "clean")
            jobs = range(*c.job_range)
            stages = tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for s in info.stageIds if info else ():
                    si = st.getStageInfo(s)
                    if si is not None:
                        stages += 1
                        tasks += si.numTasks
            out.setdefault(f"{kind}.jobs", []).append(len(jobs))
            out.setdefault(f"{kind}.stages", []).append(stages)
            out.setdefault(f"{kind}.tasks", []).append(tasks)
        return out


class TailProgress(StreamingQueryListener):
    """Collects each micro-batch's ``durationMs`` from the query listener."""

    def __init__(self):
        self.progress: list[dict] = []
        self.terminated = threading.Event()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.progress.append({"batch": p.batchId, "rows": p.numInputRows, **p.durationMs})

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.terminated.set()


# ---------- span arithmetic ----------


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


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds per layer (the span name's prefix) not covered by child spans."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        kids = [(max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.span_id, [])]
        own = (s.end - s.start) - union_length([k for k in kids if k[1] > k[0]])
        layer = s.name.split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + own
    return out


def median(xs, default: float = 0.0) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else default

