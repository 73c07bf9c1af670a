"""Span recorder for the traced benchmark run.

Spans are recorded from the benchmark's side only: ``install`` rebinds a
fixed set of program functions with wrappers that time each call and tag
the Spark jobs it starts (job description plus the ``perfbench.layer``
and ``perfbench.root`` local properties), so the uncompressed event log
can be folded back onto the same layers.  ``uninstall`` restores every
original binding.

Self time is computed over a sweep of each root span: every instant is
shared equally among the innermost spans active at that instant, and an
instant with no active span is untraced.  Self times plus untraced time
therefore add up to the root's wall time exactly, and two overlapping
group writes are never summed into wall time (their union is reported
separately).
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

LAYER_KEY = "perfbench.layer"
ROOT_KEY = "perfbench.root"


@dataclass
class Span:
    name: str
    thread: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans
    root: str


@dataclass
class Tracer:
    sc: object  # SparkContext
    spans: list[Span] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)
    root: str | None = None
    _root_idx: int | None = None
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _patches: list[tuple[object, str, object]] = field(default_factory=list)

    # -- recording -----------------------------------------------------
    def count(self, key: str, n: float = 1) -> None:
        with self._lock:
            self.counters[key] = self.counters.get(key, 0) + n

    def peak(self, key: str, v: float) -> None:
        with self._lock:
            self.counters[key] = max(self.counters.get(key, 0), v)

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _tag(self, layer: str | None) -> None:
        t0 = time.perf_counter()
        self.sc.setLocalProperty(LAYER_KEY, layer)
        self.sc.setLocalProperty(ROOT_KEY, self.root if layer else None)
        self.sc.setJobDescription(layer)
        self.count("trace.overhead_s", time.perf_counter() - t0)

    @contextlib.contextmanager
    def span(self, name: str, tag: bool = True):
        stack = self._stack()
        parent = stack[-1] if stack else self._root_idx
        sp = Span(name, threading.current_thread().name, time.time(), 0.0, parent, self.root)
        with self._lock:
            self.spans.append(sp)
            idx = len(self.spans) - 1
        stack.append(idx)
        if tag:
            self._tag(name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            if tag:
                self._tag(self.spans[stack[-1]].name if stack else None)

    @contextlib.contextmanager
    def root_span(self, name: str):
        self.root = name
        with self.span(name) as sp:
            self._root_idx = len(self.spans) - 1
            try:
                yield sp
            finally:
                self._root_idx = None
        self.root = None

    # -- rebinding -----------------------------------------------------
    def wrap(self, owner: object, attr: str, name, tag: bool = True, after=None) -> None:
        """Rebind ``owner.attr`` so each call runs inside a span.
        ``name`` is a string or a function of the call's arguments;
        ``after(label, result)`` runs after each call."""
        orig = getattr(owner, attr)
        raw = vars(owner).get(attr, orig)  # keeps a classmethod a classmethod on restore

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            with self.span(label, tag=tag):
                out = orig(*args, **kwargs)
            if after is not None:
                after(label, out)
            return out

        self._patches.append((owner, attr, raw))
        setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- queries -------------------------------------------------------
    def find_root(self, name: str) -> Span:
        return next(s for s in self.spans if s.name == name and s.parent is None)

    def under(self, root: Span, name: str) -> list[Span]:
        """Spans called ``name`` recorded while ``root`` was the root."""
        return [s for s in self.spans if s.root == root.name and s.name == name]


@contextlib.contextmanager
def installed(tracer: Tracer | None):
    """Rebind the traced functions for the duration (no-op without a tracer)."""
    if tracer is None:
        yield
        return
    install(tracer)
    try:
        yield
    finally:
        tracer.uninstall()


def _storage_probe(tracer: Tracer):
    """After each routed write, record the largest cached RDD (the
    persisted parse stage) so its size is read while it is still cached."""

    def after(label: str, _out) -> None:
        if label != "route.write":
            return
        t0 = time.perf_counter()
        infos = tracer.sc._jsc.sc().getRDDStorageInfo()
        best = max(infos, key=lambda i: i.memSize() + i.diskSize(), default=None)
        if best is not None:
            tracer.peak("parse_cache.mem_bytes", best.memSize())
            tracer.peak("parse_cache.disk_bytes", best.diskSize())
        tracer.count("trace.overhead_s", time.perf_counter() - t0)

    return after


def install(tracer: Tracer) -> None:
    from pyspark.sql.readwriter import DataFrameWriter

    from sherlog_parser_spark.checkpoint import CheckpointManifest
    from sherlog_parser_spark.oracle import matcher
    from sherlog_parser_spark.plans import pipeline

    tracer.wrap(pipeline, "build_template_dictionary", "dictionary.build")
    tracer.wrap(pipeline, "dictionary_from_state", "dictionary.from_state")
    tracer.wrap(matcher.TemplatePool, "add", "dictionary.merge", tag=False)

    orig_merge = matcher.merge_templates

    @functools.wraps(orig_merge)
    def counted_merge(*args, **kwargs):
        out = orig_merge(*args, **kwargs)
        tracer.count("dictionary.comparisons")
        if out is not None:
            tracer.count("dictionary.merges")
        return out

    tracer._patches.append((matcher, "merge_templates", orig_merge))
    matcher.merge_templates = counted_merge

    def writer_label(_self, path=None, *a, **k) -> str:
        base = os.path.basename(os.path.normpath(path or k["path"]))
        if base == "routed":
            return "route.write"
        if base.startswith("agg_"):
            return "aggregate.write"
        return "sink.write"

    tracer.wrap(DataFrameWriter, "parquet", writer_label, after=_storage_probe(tracer))

    def loaded(_label, manifest) -> None:
        tracer.count("checkpoint.skipped_groups", len(manifest.entries))

    tracer.wrap(CheckpointManifest, "load", "checkpoint.load", tag=False, after=loaded)
    tracer.wrap(CheckpointManifest, "commit", "checkpoint.commit", tag=False)


# -- timeline arithmetic ----------------------------------------------------


def union_s(intervals: list[tuple[float, float]]) -> float:
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


def overlap_s(a: list[tuple[float, float]], b: list[tuple[float, float]]) -> float:
    return union_s(a) + union_s(b) - union_s(a + b)


def self_times(tracer: Tracer, root: Span) -> tuple[dict[str, float], float]:
    """Fair-share self time per span name under one root, plus the
    root's untraced time.  Sums to the root's duration."""
    spans = tracer.spans
    root_idx = next(i for i, s in enumerate(spans) if s is root)

    def ancestors(i: int) -> set[int]:
        out, p = set(), spans[i].parent
        while p is not None:
            out.add(p)
            p = spans[p].parent
        return out

    members = [i for i in range(len(spans)) if i != root_idx and root_idx in ancestors(i)]
    anc = {i: ancestors(i) for i in members}
    edges = sorted({root.start, root.end} | {t for i in members for t in (spans[i].start, spans[i].end)})
    selfs: dict[str, float] = {}
    untraced = 0.0
    for lo, hi in zip(edges, edges[1:]):
        if hi <= root.start or lo >= root.end:
            continue
        mid = (lo + hi) / 2
        active = [i for i in members if spans[i].start <= mid < spans[i].end]
        inner = [i for i in active if not any(i in anc[j] for j in active)]
        if not inner:
            untraced += hi - lo
            continue
        share = (hi - lo) / len(inner)
        for i in inner:
            selfs[spans[i].name] = selfs.get(spans[i].name, 0.0) + share
    return selfs, untraced


def layer_self(selfs: dict[str, float], layer: str) -> float:
    """Self time of every span whose name starts with ``<layer>.``."""
    return sum(v for k, v in selfs.items() if k.split(".")[0] == layer)


# -- event log folding ------------------------------------------------------


@dataclass
class StageStats:
    tasks: list[float] = field(default_factory=list)  # task wall seconds
    executor_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    submitted: float = 0.0
    completed: float = 0.0


def read_event_log(log_dir: str):
    """Return ({stage_id: StageStats}, {stage_id: (layer, root)}, jobs).
    ``jobs`` maps job id to (layer, root)."""
    stages: dict[int, StageStats] = {}
    stage_tag: dict[int, tuple[str | None, str | None]] = {}
    jobs: dict[int, tuple[str | None, str | None]] = {}
    # Spark 4 writes a rolling log: eventlog_v2_<app>/events_<n>_<app> parts
    parts = [
        os.path.join(d, n) for d, _, names in os.walk(log_dir) for n in names if n.startswith("events_")
    ]
    for path in sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1])):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    tag = (props.get(LAYER_KEY), props.get(ROOT_KEY))
                    jobs[ev["Job ID"]] = tag
                    for sid in ev.get("Stage IDs", []):
                        stage_tag.setdefault(sid, tag)
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], StageStats())
                    info, m = ev.get("Task Info") or {}, ev.get("Task Metrics") or {}
                    st.tasks.append((info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000)
                    st.executor_s += m.get("Executor Run Time", 0) / 1000
                    st.gc_s += m.get("JVM GC Time", 0) / 1000
                    rd = m.get("Shuffle Read Metrics") or {}
                    st.shuffle_read += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                    st.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    st.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    st = stages.setdefault(si["Stage ID"], StageStats())
                    st.submitted = si.get("Submission Time", 0) / 1000
                    st.completed = si.get("Completion Time", 0) / 1000
    return stages, stage_tag, jobs


def fold(stages, stage_tag, layer: str | None = None, root: str | None = None) -> dict:
    """Sum task metrics over stages whose tag matches (None = any)."""
    sel = [
        st
        for sid, st in stages.items()
        if (layer is None or stage_tag.get(sid, (None, None))[0] == layer)
        and (root is None or stage_tag.get(sid, (None, None))[1] == root)
    ]
    out = {
        "executor_s": sum(s.executor_s for s in sel),
        "gc_s": sum(s.gc_s for s in sel),
        "shuffle_read_bytes": sum(s.shuffle_read for s in sel),
        "shuffle_write_bytes": sum(s.shuffle_write for s in sel),
        "spill_bytes": sum(s.spill for s in sel),
        "stages": len(sel),
        "task_skew": 0.0,
    }
    # skew of the heaviest stage: its slowest task over its median task
    heavy = max((s for s in sel if len(s.tasks) >= 2), key=lambda s: s.executor_s, default=None)
    if heavy is not None:
        med = statistics.median(heavy.tasks)
        out["task_skew"] = max(heavy.tasks) / med if med > 0 else 0.0
    return out
