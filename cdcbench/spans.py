"""Traced-run tooling: spans around the engine's public calls, joined to
Spark's own per-task accounting.

Every layer is timed from outside. ``install`` replaces the public entry
points of each layer (module functions and class methods) with wrappers
that record a span and restore the originals on ``uninstall``; nothing in
the engine changes. A span is (name, id, parent, start, end, thread). Spans
live in memory and are written out once, at the end of the run.

Parents come from a per-thread stack. Threads the engine starts itself (the
replay's pipelined prepare pool, a stream's ``foreachBatch`` callback) have
an empty stack, so their spans attach to the innermost span opened with
``adopt=True``.

Spark work is joined to spans through the job group: each span sets
``spark.jobGroup.id`` to its own id on its thread for its lifetime, and the
uncompressed local event log records that property on every job and stage.
A span's Spark totals are those of its own jobs plus its descendants'.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    sid: str
    parent: str | None
    start: float
    thread: str
    end: float | None = None
    children: list["Span"] = field(default_factory=list)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """Records spans and counters for one traced run."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.jvm = spark._jvm
        self.run_id = run_id
        self.spans: list[Span] = []
        self.counters: Counter = Counter()
        self.samples: dict[str, list[float]] = defaultdict(list)
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._adopt: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------- spans

    @contextmanager
    def span(self, name: str, adopt: bool = False):
        stack = getattr(self._tls, "stack", None)
        if stack is None:
            stack = self._tls.stack = []
        parent = stack[-1] if stack else (self._adopt[-1] if self._adopt else None)
        with self._lock:
            s = Span(
                name, f"{self.run_id}:{len(self.spans)}:{name}",
                parent.sid if parent else None, time.time(), threading.current_thread().name,
            )
            self.spans.append(s)
            if adopt:
                self._adopt.append(s)
        prev_group = self.sc.getLocalProperty(GROUP)
        self.sc.setLocalProperty(GROUP, s.sid)
        stack.append(s)
        try:
            yield s
        finally:
            stack.pop()
            self.sc.setLocalProperty(GROUP, prev_group)
            s.end = time.time()
            if adopt:
                with self._lock:
                    self._adopt.remove(s)

    def codegen_compiles(self) -> int:
        metrics = self.jvm.org.apache.spark.metrics.source.CodegenMetrics
        return int(metrics.METRIC_COMPILATION_TIME().getCount())

    # ---------------------------------------------------------- wrapping

    def _patch(self, owner, attr: str, make) -> None:
        orig = vars(owner)[attr] if isinstance(owner, type) else getattr(owner, attr)
        setattr(owner, attr, functools.wraps(orig)(make(orig)))
        self._patches.append((owner, attr, orig))

    def wrap_span(self, owner, attr: str, name: str, adopt: bool = False) -> None:
        def make(orig):
            def traced(*args, **kwargs):
                with self.span(name, adopt=adopt):
                    return orig(*args, **kwargs)
            return traced
        self._patch(owner, attr, make)

    def wrap_count(self, owner, attr: str, name: str, nbytes=None) -> None:
        """Count calls (and bytes, via ``nbytes(args, result)``) without a
        span: metadata-plane calls are too frequent and too short to span."""
        def make(orig):
            def counted(*args, **kwargs):
                out = orig(*args, **kwargs)
                with self._lock:
                    self.counters[name] += 1
                    if nbytes is not None:
                        self.counters[name + ".bytes"] += nbytes(args, out)
                return out
            return counted
        self._patch(owner, attr, make)

    def wrap_sample(self, owner, attr: str, name: str, value) -> None:
        """Record ``value(result)`` of every call as a sample."""
        def make(orig):
            def sampled(*args, **kwargs):
                out = orig(*args, **kwargs)
                with self._lock:
                    self.samples[name].append(float(value(out)))
                return out
            return sampled
        self._patch(owner, attr, make)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    @property
    def installed(self) -> bool:
        return bool(self._patches)

    def open_spans(self) -> list[str]:
        return [s.sid for s in self.spans if s.end is None]


def install(tracer: Tracer) -> None:
    """Wrap the public entry points of every layer the benchmark drives."""
    from sql_graph_visualizer_spark.lake import file_io, snapshot_table
    from sql_graph_visualizer_spark.plans import graph_builder
    from sql_graph_visualizer_spark.sources import cdc_gen
    from sql_graph_visualizer_spark.streaming import metrics, replay

    tracer.wrap_span(cdc_gen, "read_cdc_log", "sources.read_cdc_log")
    # replay_stream calls the name it imported, so wrap it there
    tracer.wrap_span(replay, "read_cdc_stream", "sources.read_cdc_stream")
    tracer.wrap_span(replay, "replay_batch", "replay.replay_batch", adopt=True)
    tracer.wrap_span(replay, "replay_stream", "replay.replay_stream")
    tracer.wrap_span(replay, "merge_with_retry", "replay.merge_with_retry")
    table = snapshot_table.SnapshotTable
    for attr in ("merge_prepare", "merge_upsert", "read", "compact_deltas", "size_stats"):
        tracer.wrap_span(table, attr, f"snapshot.{attr}")
    tracer.wrap_count(table, "manifest", "snapshot.manifest")
    tracer.wrap_sample(table, "delta_stats", "snapshot.delta_layers", lambda out: out["max_layers"])
    io = file_io.LocalFileIO
    for attr in ("makedirs", "exists", "listdir", "getsize", "getmtime", "remove", "rmtree"):
        tracer.wrap_count(io, attr, f"file_io.{attr}")
    tracer.wrap_count(io, "read_text", "file_io.read_text", lambda a, out: len(out))
    tracer.wrap_count(io, "create_exclusive", "file_io.create_exclusive", lambda a, out: len(a[2]))
    tracer.wrap_count(io, "replace_atomic", "file_io.replace_atomic", lambda a, out: len(a[2]))
    tracer.wrap_span(metrics.LineageRecorder, "record", "lineage.record")
    tracer.wrap_span(metrics.LineageRecorder, "flush", "lineage.flush")
    tracer.wrap_span(graph_builder, "build_conv_edges_arrow", "graph.build_conv_edges_arrow")


# ------------------------------------------------------------ event log


@dataclass
class SparkTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    input_records: int = 0

    def add(self, o: "SparkTotals") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(o, k))


@dataclass
class EventLog:
    by_group: dict[str, SparkTotals]
    # (group, launch_s, finish_s) of every finished task
    tasks: list[tuple[str | None, float, float]]


def read_event_log(path: str) -> EventLog:
    """Per-job-group Spark totals from an uncompressed event log."""
    by_group: dict[str, SparkTotals] = defaultdict(SparkTotals)
    stage_group: dict[int, str | None] = {}
    tasks: list[tuple[str | None, float, float]] = []
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get(GROUP)
                by_group[g].jobs += 1
            elif kind == "SparkListenerStageSubmitted":
                g = (e.get("Properties") or {}).get(GROUP)
                stage_group[e["Stage Info"]["Stage ID"]] = g
                by_group[g].stages += 1
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(e["Stage ID"])
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                tasks.append((g, info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0))
                t = by_group[g]
                t.tasks += 1
                t.run_ms += m.get("Executor Run Time", 0)
                t.cpu_ms += m.get("Executor CPU Time", 0) / 1e6
                t.gc_ms += m.get("JVM GC Time", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                t.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                t.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                t.spill_bytes += m.get("Disk Bytes Spilled", 0)
                im = m.get("Input Metrics") or {}
                t.input_bytes += im.get("Bytes Read", 0)
                t.input_records += im.get("Records Read", 0)
    return EventLog(dict(by_group), tasks)


# ------------------------------------------------------------- analysis


def union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``, in ms."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total * 1000.0


class SpanTree:
    """Spans linked to their children and to their Spark totals."""

    def __init__(self, tracer: Tracer, log: EventLog):
        self.spans = tracer.spans
        self.by_id = {s.sid: s for s in self.spans}
        for s in self.spans:
            s.children = []
        for s in self.spans:
            if s.parent is not None:
                self.by_id[s.parent].children.append(s)
        self.log = log
        self._groups_under: dict[str, set[str]] = {}

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def subtree_ids(self, s: Span) -> set[str]:
        ids = self._groups_under.get(s.sid)
        if ids is None:
            ids = {s.sid}
            for c in s.children:
                ids |= self.subtree_ids(c)
            self._groups_under[s.sid] = ids
        return ids

    def totals(self, spans: list[Span]) -> SparkTotals:
        """Spark totals of the jobs run under ``spans`` (each counted once)."""
        ids: set[str] = set()
        for s in spans:
            ids |= self.subtree_ids(s)
        out = SparkTotals()
        for g in ids:
            if g in self.log.by_group:
                out.add(self.log.by_group[g])
        return out

    def self_ms(self, s: Span) -> float:
        return s.ms - union_ms([(c.start, c.end) for c in s.children], s.start, s.end)

    def task_intervals(self, s: Span) -> list[tuple[float, float]]:
        ids = self.subtree_ids(s)
        return [(a, b) for g, a, b in self.log.tasks if g in ids]

    def self_by_name(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name] += self.self_ms(s)
        return dict(out)


def check_reconcile(tree: SpanTree, roots: list[tuple[Span, float]], tol: float = 0.03) -> list[str]:
    """Top-level accounting: for each root span, its children's durations
    plus its self time must match the wall time measured independently of
    the tracer within ``tol``; children must also lie inside their parent.
    Returns the violations (empty when the trace is consistent)."""
    errors = []
    for root, wall_s in roots:
        kids = sum(c.ms for c in root.children)
        total = kids + tree.self_ms(root)
        if abs(total - wall_s * 1000.0) > tol * wall_s * 1000.0:
            errors.append(
                f"{root.sid}: children {kids:.1f} ms + self {tree.self_ms(root):.1f} ms "
                f"vs wall {wall_s * 1000.0:.1f} ms"
            )
    for s in tree.spans:
        p = tree.by_id.get(s.parent) if s.parent else None
        if p is not None and (s.start < p.start - 0.005 or s.end > p.end + 0.005):
            errors.append(f"{s.sid} lies outside its parent {p.sid}")
    return errors


def dump_spans(tracer: Tracer) -> list[dict]:
    return [
        {"name": s.name, "id": s.sid, "parent": s.parent, "start": s.start, "end": s.end,
         "thread": s.thread}
        for s in tracer.spans
    ]
