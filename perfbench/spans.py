"""In-memory span recorder, installed by patching the names the engine
looks up at call time.

A span is (name, label, start, end, parent, op). ``op`` is the id of
the closed-loop operation (an epoch, trigger or pass) the span belongs
to. Spans opened on a thread with no open span (``update_many``'s pool
threads, the streaming ``foreachBatch`` thread) take the current
operation's root span as parent, so a cycle's tree stays whole across
threads.

Spark is lazy: a builder span (``snapshot_diff``, ``merge_upsert``, …)
measures planning only; the execution it defines lands in the store
write that forces it, and the diff materialization and counts land in
``update``'s self time.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import os
import threading
import time
from dataclasses import asdict, dataclass

# builders looked up as globals of updater_spark.plans.cdc
CDC_BUILDERS = [
    "fingerprint_table",
    "snapshot_diff",
    "split_diff",
    "semi_join_fetch",
    "merge_upsert",
    "changelog_preimages",
    "tribe_active",
    "tribe_stats",
    "apply_scores",
]
CDC_METHODS = ["run_cycle", "update", "post_update", "apply_delta", "bootstrap"]


@dataclass
class Span:
    id: int
    name: str
    label: str | None
    start: float
    end: float
    parent: int | None
    op: int | None


class Tracer:
    """Collects spans; ``install`` patches the engine, ``uninstall``
    restores every patched attribute."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.files: dict[int, tuple[int, int]] = {}  # span id -> (files, bytes)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._root: Span | None = None
        self._patched: list[tuple[object, str, object]] = []

    # -- spans --------------------------------------------------------
    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, label: str | None = None):
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        sp = Span(
            next(self._ids),
            name,
            label,
            time.perf_counter(),
            0.0,
            parent.id if parent else None,
            self._root.op if self._root else None,
        )
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(sp)

    @contextlib.contextmanager
    def op(self, name: str, op_id: int):
        """The root span of one closed-loop operation."""
        sp = Span(next(self._ids), name, None, time.perf_counter(), 0.0, None, op_id)
        self._root = sp
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._root = None
            with self._lock:
                self.spans.append(sp)

    # -- patching -----------------------------------------------------
    def _patch(self, owner, attr: str, wrapper) -> None:
        self._patched.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, wrapper)

    def _wrap(self, fn, name: str, label_arg: int | None = None, job_group=False):
        tracer = self

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            label = None
            if label_arg is not None and len(args) > label_arg:
                # a TableSpec's name, or the store's table name itself
                label = getattr(args[label_arg], "name", args[label_arg])
            with tracer.span(name, label) as sp:
                if not job_group:
                    return fn(*args, **kwargs)
                with tracer.job_group(sp):
                    return fn(*args, **kwargs)

        return wrapped

    def _wrap_store_write(self, fn, name: str):
        """Store write/append span plus the files and bytes it added."""
        tracer = self

        @functools.wraps(fn)
        def wrapped(store, table, *args, **kwargs):
            before = _listing(os.path.join(store.root, table))
            with tracer.span(name, table) as sp:
                out = fn(store, table, *args, **kwargs)
            after = _listing(os.path.join(store.root, table))
            added = [size for path, size in after.items() if path not in before]
            tracer.files[sp.id] = (len(added), sum(added))
            return out

        return wrapped

    def install(self) -> None:
        from updater_spark.plans import cdc
        from updater_spark.sources.store import TableStore

        for fn in CDC_BUILDERS:
            self._patch(cdc, fn, self._wrap(getattr(cdc, fn), f"plans.cdc.{fn}"))
        for m in CDC_METHODS:
            # update/apply_delta/bootstrap take the TableSpec first
            label = 1 if m in ("update", "apply_delta", "bootstrap") else None
            self._patch(
                cdc.CdcEngine,
                m,
                self._wrap(
                    getattr(cdc.CdcEngine, m),
                    f"plans.cdc.{m}",
                    label,
                    job_group=m in ("update", "post_update", "apply_delta"),
                ),
            )
        self._patch(TableStore, "read", self._wrap(TableStore.read, "sources.store.read", 1))
        for m in ("write", "append"):
            self._patch(
                TableStore,
                m,
                self._wrap_store_write(getattr(TableStore, m), f"sources.store.{m}"),
            )

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- Spark job attribution -----------------------------------------
    @contextlib.contextmanager
    def job_group(self, sp: Span):
        """Tag the jobs this thread submits with the span's group. Job
        groups are per thread, so this works from pool threads."""
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(f"perfbench-op{sp.op}-span{sp.id}", sp.name)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)
            sc.setLocalProperty("spark.job.description", None)

    def jobs_of(self, sp: Span) -> tuple[int, int, int]:
        """(jobs, stages, tasks) submitted under ``sp``'s job group."""
        tracker = self.spark.sparkContext.statusTracker()
        jobs = tracker.getJobIdsForGroup(f"perfbench-op{sp.op}-span{sp.id}")
        stages = tasks = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                st = tracker.getStageInfo(s)
                if st is not None:
                    stages += 1
                    tasks += st.numTasks
        return len(jobs), stages, tasks

    def dump(self) -> list[dict]:
        return [asdict(s) for s in sorted(self.spans, key=lambda s: s.start)]


def _listing(root: str) -> dict[str, int]:
    """Parquet data files under ``root`` with their sizes."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                with contextlib.suppress(FileNotFoundError):
                    out[p] = os.path.getsize(p)
    return out


# -- span arithmetic ---------------------------------------------------


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by ``intervals`` (overlaps counted once)."""
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        kids = [(max(a, s.start), min(b, s.end)) for a, b in children.get(s.id, [])]
        out[s.id] = (s.end - s.start) - union_length([k for k in kids if k[1] > k[0]])
    return out


def coverage(root: Span, spans: list[Span]) -> float:
    """Share of ``root``'s wall time covered by ``spans``."""
    iv = [(max(s.start, root.start), min(s.end, root.end)) for s in spans]
    wall = root.end - root.start
    return union_length([i for i in iv if i[1] > i[0]]) / wall if wall > 0 else 0.0
