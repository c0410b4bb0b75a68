"""Span recorder for the traced run.

A span records name, start, end, parent span and op id. Spans stay in
memory and are written to a JSON file when the run ends; they never go
on the metric line. Each span sets its own Spark job group, so the jobs
it launches directly are attributed to it, and each op's job, stage and
task counts come from Spark's status tracker.

Nested layers are instrumented by wrapping public methods of the
program's classes (``Tracer.install``); untraced runs install nothing.
Every wrapper is removed again by ``Tracer.uninstall``.

The tracer's own time (span bookkeeping, the state-tree walks around a
MERGE) is charged to every span open around it and taken out of their
durations and self times, so a layer's figures hold the program's work
only.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import re
import threading
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    attrs: dict = field(default_factory=dict)
    # tracer time spent while this span was open
    charged: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start - self.charged


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id -> duration minus the union of its children's intervals
    (children running concurrently in threads are not counted twice),
    minus the tracer time charged to it outside its children."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        kids = children.get(s.span_id, [])
        covered = union_length([(max(c.start, s.start), min(c.end, s.end)) for c in kids])
        own_charge = s.charged - sum(c.charged for c in kids)
        out[s.span_id] = (s.end - s.start) - covered - own_charge
    return out


_BUCKET_DIR = re.compile(r"/b(\d{5})/")


def _tree(root: str) -> dict[str, tuple[int, float]]:
    from worker_spark.plans.bucketed_state import tree_bytes

    return tree_bytes(root) if os.path.isdir(root) else {}


class Tracer:
    """Records spans for one run. ``op`` sets the op id the following
    spans belong to; ``span`` opens a span in the calling thread."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.op = -1
        self._ids = itertools.count()
        self._local = threading.local()
        self._main_stack = self._stack()  # the constructing (main) thread's
        self._lock = threading.Lock()
        self._patched: list[tuple[type, str, object]] = []
        self._seen_jobs = -1
        # seconds the tracer itself spent inside ops (span bookkeeping,
        # state-tree walks): the tracing overhead
        self.overhead = 0.0

    def _charge(self, seconds: float) -> None:
        """Book tracer time on the run and on every span open around it."""
        stack = self._stack()
        open_spans = stack if stack is self._main_stack else stack + self._main_stack
        with self._lock:
            self.overhead += seconds
            for sp in open_spans:
                sp.charged += seconds

    # --- spans ----------------------------------------------------------

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _parent(self) -> Span | None:
        st = self._stack()
        if st:
            return st[-1]
        # a worker thread started inside a span (the near-dup pipeline's
        # concurrent MERGEs): its parent is the innermost open main span
        main = self._main_stack
        return main[-1] if main else None

    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        parent = self._parent()
        with self._lock:
            sp = Span(next(self._ids), name, self.op,
                      parent.span_id if parent else None, 0.0)
            self.spans.append(sp)
        stack = self._stack()
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = self.sc.getLocalProperty("spark.job.description")
        group = f"perfbench-{sp.span_id}"
        self.sc.setJobGroup(group, name)
        self._charge(time.perf_counter() - t0)
        stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            self.sc.setLocalProperty("spark.job.description", prev_desc)
            sp.jobs = sorted(self.sc.statusTracker().getJobIdsForGroup(group))
            self._charge(time.perf_counter() - sp.end)

    # --- wrappers around the program's public methods ----------------------

    def wrap(self, cls: type, method: str, name: str, attrs=None) -> None:
        """Replace ``cls.method`` by a wrapper that runs it inside a span
        named ``name``. ``attrs(obj, args, kwargs)``, if given, runs before
        the span opens and returns ``finish(span, result)``, which runs
        after it closes and adds attributes to the span; both are tracer
        time."""
        orig = cls.__dict__[method]
        tracer = self

        @functools.wraps(orig)
        def wrapper(obj, *args, **kwargs):
            t0 = time.perf_counter()
            finish = attrs(obj, args, kwargs) if attrs else None
            tracer._charge(time.perf_counter() - t0)
            with tracer.span(name) as sp:
                out = orig(obj, *args, **kwargs)
            if finish is not None:
                t0 = time.perf_counter()
                finish(sp, out)
                tracer._charge(time.perf_counter() - t0)
            return out

        self._patched.append((cls, method, orig))
        setattr(cls, method, wrapper)

    def install(self) -> None:
        if self._patched:
            return
        from worker_spark.plans.bucketed_state import BucketedParquetStateStore as B
        from worker_spark.plans.bucketed_state import rewritten_bytes
        from worker_spark.streaming.components_index import IncrementalComponentsIndex
        from worker_spark.streaming.dedup_pipeline import StreamingNearDupPipeline
        from worker_spark.streaming.minhash_index import IncrementalMinHashIndex
        from worker_spark.streaming.retrieval_index import IncrementalRetrievalIndex

        def merge_attrs(store, args, kwargs):
            table = args[0] if args else kwargs["table"]
            root = os.path.join(store.root, table)
            before = _tree(root)

            def finish(sp, out):
                after = _tree(root)
                changed = {p for p, st in after.items() if before.get(p) != st}
                sp.attrs.update(
                    table=table,
                    rewritten_bytes=rewritten_bytes(before, after),
                    buckets=len({m.group(1) for p in changed
                                 if (m := _BUCKET_DIR.search(p))}),
                )
            return finish

        def touched_attrs(store, args, kwargs):
            def finish(sp, out):
                sp.attrs["buckets"] = len(out)
            return finish

        for m in ("write", "upsert", "delete_then_insert"):
            self.wrap(B, m, "plans.bucketed_state.merge", merge_attrs)
        self.wrap(B, "touched_buckets", "plans.bucketed_state.touched_buckets", touched_attrs)
        self._wrap_read(B)
        self.wrap(IncrementalMinHashIndex, "apply_batch", "streaming.minhash_index.apply")
        self.wrap(IncrementalComponentsIndex, "apply_batch", "streaming.components_index.apply")
        self.wrap(StreamingNearDupPipeline, "apply_batch", "streaming.dedup_pipeline")
        self.wrap(IncrementalRetrievalIndex, "apply_batch", "streaming.retrieval_index.apply")

    def _wrap_read(self, cls: type) -> None:
        """``read`` only builds a plan, so it gets a counter, not a span:
        the number of bucket directories it scans, on the open span."""
        orig = cls.__dict__["read"]
        tracer = self

        @functools.wraps(orig)
        def read(store, table, schema=None, buckets=None):
            df = orig(store, table, schema, buckets)
            t0 = time.perf_counter()
            parent = tracer._parent()
            if parent is not None:
                n = len(store.bucket_paths(table, buckets))
                parent.attrs["buckets_read"] = parent.attrs.get("buckets_read", 0) + n
            tracer._charge(time.perf_counter() - t0)
            return df

        self._patched.append((cls, "read", orig))
        setattr(cls, "read", read)

    def uninstall(self) -> None:
        for cls, method, orig in reversed(self._patched):
            setattr(cls, method, orig)
        self._patched.clear()

    # --- Spark counts -----------------------------------------------------

    def spark_counts(self) -> dict[str, int]:
        """Jobs, executed stages and tasks launched since the previous call
        (all job groups, including jobs outside any span)."""
        jvm_sc = self.sc._jsc.sc()
        jvm_sc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        groups = {f"perfbench-{s.span_id}" for s in self.spans if s.op == self.op}
        ids = set(tracker.getJobIdsForGroup(None))
        for g in groups:
            ids.update(tracker.getJobIdsForGroup(g))
        new = sorted(j for j in ids if j > self._seen_jobs)
        if new:
            self._seen_jobs = new[-1]
        stages = tasks = 0
        for j in new:
            info = tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                st = tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        return {"jobs": len(new), "stages": stages, "tasks": tasks}

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans], **extra}, f)
