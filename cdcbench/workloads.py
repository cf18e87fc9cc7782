"""The three workloads: bulk binlog replay, the small-epoch floor and the
open-loop merge-on-read tail.

Each workload sets up (inputs, warm-up), then does a fixed amount of
measured work sized from ``seconds``: a batch workload runs one closed-loop
iteration (fresh table, replay, reads, graph builds); ``tail_mor`` runs one
open-loop stream window followed by closed-loop reads. Every iteration is
checked against the DuckDB oracle outside its timed region.

All engine calls go through module attributes (``replay.replay_batch``,
``cdc_gen.read_cdc_log`` ...) so that the traced run's wrappers see them.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field
from datetime import datetime
from time import perf_counter

from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sql_graph_visualizer_spark.lake.snapshot_table import SnapshotTable
from sql_graph_visualizer_spark.plans import graph_builder
from sql_graph_visualizer_spark.sources import cdc_gen
from sql_graph_visualizer_spark.streaming import replay
from sql_graph_visualizer_spark.streaming.metrics import LineageRecorder

import gen
import oracle
import spans
from measure import median, pct

SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)
KEYS = ["conv_id", "turn_idx"]
NUM_BUCKETS = 16
# closed-loop rounds after a replay: reads are short and speed up while the
# read path warms, so they get more rounds; the metrics take the median
READ_ROUNDS = 12
EDGE_ROUNDS = 8
WARM_EPOCHS = 2


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    tracer: "spans.Tracer | None" = None


@dataclass
class Traced:
    """Facts of one traced iteration that the layer metrics need."""

    root: spans.Span
    wall_s: float
    replay_span: str  # name of the span the epochs ran under
    codegen: int
    counters: dict[str, float]
    bytes_written: int
    read_rows: int
    edges_out: int
    table_bytes: int
    stream: dict[str, float] = field(default_factory=dict)


@dataclass
class Outcome:
    """Everything one workload run measured."""

    setup: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    replay_eps: list[float] = field(default_factory=list)
    epoch_ms: list[float] = field(default_factory=list)
    fresh_ms: list[float] = field(default_factory=list)
    read_rps: list[float] = field(default_factory=list)
    edges_ps: list[float] = field(default_factory=list)
    bytes_per_event: list[float] = field(default_factory=list)
    notes: dict[str, object] = field(default_factory=dict)
    traced: list[Traced] = field(default_factory=list)
    # (traced?, wall seconds) of matched units in run order, for the overhead
    units: list[tuple[bool, float]] = field(default_factory=list)

    def op(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def crashed(self) -> None:
        self.op(False, traceback.format_exc(limit=4))


def _tracing(ctx: Ctx) -> bool:
    return ctx.tracer is not None and ctx.tracer.installed


def _span(ctx: Ctx, name: str, adopt: bool = False):
    return ctx.tracer.span(name, adopt=adopt) if _tracing(ctx) else nullcontext()


def _noop(ctx: Ctx, df, name: str) -> tuple[float, int]:
    """Write ``df`` to the noop sink; returns (seconds, rows). The row count
    is observed in the same job."""
    obs = Observation(name)
    with _span(ctx, name):
        t = perf_counter()
        df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
        dt = perf_counter() - t
    return dt, int(obs.get["n"])


def _read_and_edges(
    ctx: Ctx, out: Outcome, table: SnapshotTable, reads: int = READ_ROUNDS, edge_builds: int = EDGE_ROUNDS
) -> tuple[int, int, float]:
    """Closed-loop reads, then graph builds, of ``table``; returns the last
    row and edge counts and the total seconds."""
    total = 0.0
    for _ in range(reads):
        read_s, rows = _noop(ctx, table.read(), "bench.read_noop")
        out.read_rps.append(rows / read_s)
        total += read_s
    for _ in range(edge_builds):
        edges_s, edges = _noop(ctx, graph_builder.build_conv_edges_arrow(table.read()), "bench.edges_noop")
        out.edges_ps.append(edges / edges_s)
        total += edges_s
    return rows, edges, total


def _compaction_bytes(table: SnapshotTable) -> int:
    """Bytes of base files rewritten by ``compact_deltas`` commits, read
    back from the retained manifests."""
    total = 0
    for v in table.versions():
        m = table.manifest(v)
        if m["summary"].get("operation") != "compact-deltas":
            continue
        prev = table.manifest(m["parent"])["segments"]
        total += sum(
            int(ref.get("bytes", 0))
            for b, ref in m["segments"].items()
            if prev.get(b, {}).get("path") != ref.get("path")
        )
    return total


def _snapshot_counters(ctx: Ctx) -> tuple[dict[str, float], int]:
    if not _tracing(ctx):
        return {}, 0
    return dict(ctx.tracer.counters), ctx.tracer.codegen_compiles()


def _check(out: Outcome, table: SnapshotTable, expected: oracle.Expected, rows: int, edges: int) -> None:
    reason = oracle.check_table(table, expected)
    out.op(reason is None, f"final state: {reason}")
    out.op(rows == expected.state.num_rows, f"read returned {rows} rows, oracle {expected.state.num_rows}")
    out.op(edges == expected.edges, f"graph returned {edges} edges, oracle {expected.edges}")


def _record_traced(ctx, out, root, wall, replay_span, before, after, table, written, rows, edges, stream=None):
    (c0, g0), (c1, g1) = before, after
    out.traced.append(
        Traced(
            root=root, wall_s=wall, replay_span=replay_span, codegen=g1 - g0,
            counters={k: v - c0.get(k, 0) for k, v in c1.items()},
            bytes_written=written, read_rows=rows, edges_out=edges,
            table_bytes=table.size_stats()["total_bytes"], stream=stream or {},
        )
    )


# ----------------------------------------------------------- batch replay


@dataclass(frozen=True)
class BatchShape:
    log: gen.LogSpec
    epochs: int
    warm: gen.LogSpec
    # None keeps the engine's scale-adaptive default
    persist_log: bool | None = None


def _batch_iteration(
    ctx: Ctx, out: Outcome, shape: BatchShape, name: str, log_dir: str,
    files: list[gen.LogFile], expected: oracle.Expected | None,
) -> None:
    """One closed-loop iteration: replay into a fresh table, then read it
    and build its graph edges. ``expected=None`` is the warm-up: it runs the
    warm log and is neither checked nor recorded."""
    spark, d = ctx.spark, os.path.join(ctx.work, name)
    warm = expected is None
    epochs = WARM_EPOCHS if warm else shape.epochs
    table = SnapshotTable.create(spark, f"{d}/table", SCHEMA, KEYS, num_buckets=NUM_BUCKETS)
    lineage = LineageRecorder(spark, f"{d}/lineage")
    events = sum(f.events for f in files)
    before = _snapshot_counters(ctx)
    t_iter = perf_counter()
    with _span(ctx, "bench.iteration") as root:
        log = cdc_gen.read_cdc_log(spark, log_dir, fmt="json")
        t_call, t = time.time(), perf_counter()
        stats = replay.replay_batch(
            log, table, epochs=epochs, query_id="bench", lineage=lineage,
            persist_log=shape.persist_log,
        )
        replay_s = perf_counter() - t
        after = _snapshot_counters(ctx)
        # the warm-up reads once: enough to start the Python workers
        rows, edges, _ = _read_and_edges(ctx, Outcome(), table, 1, 1) if warm else _read_and_edges(ctx, out, table)
    wall = perf_counter() - t_iter
    if warm:
        shutil.rmtree(d, ignore_errors=True)
        return
    commit_ms = {
        int(r["epoch_id"]): r["committed_at_ms"]
        for r in lineage.read().where(~F.col("skipped")).collect()
    }
    _check(out, table, expected, rows, edges)
    out.op(
        len(stats) == epochs and not any(s.skipped for s in stats) and len(commit_ms) == epochs,
        f"replay committed {len(commit_ms)} of {epochs} epochs",
    )
    if out.failed:
        return
    # the first epoch is timed from the replay call, the rest commit to commit
    commits = [commit_ms[e] / 1000.0 for e in range(epochs)]
    out.epoch_ms += [(c - p) * 1000.0 for p, c in zip([t_call] + commits, commits)]
    # every file of a batch replay is due when the replay is called
    for f in files:
        e = next(k for k, s in enumerate(stats) if s.max_seq >= f.max_seq)
        out.fresh_ms.append((commits[e] - t_call) * 1000.0)
    out.replay_eps.append(events / replay_s)
    written = sum(s.bytes_written for s in stats)
    out.bytes_per_event.append((written + _compaction_bytes(table)) / events)
    if _tracing(ctx):
        _record_traced(ctx, out, root, wall, "replay.replay_batch", before, after, table, written, rows, edges)
    if ctx.tracer is not None:
        out.units.append((_tracing(ctx), wall))
    shutil.rmtree(d, ignore_errors=True)


def run_batch(ctx: Ctx, shape: BatchShape) -> Outcome:
    """Set up, then run one closed-loop iteration. A traced run runs it
    traced, then once more untraced for the tracing overhead."""
    out = Outcome()
    log_dir, warm_dir = os.path.join(ctx.work, "log"), os.path.join(ctx.work, "warm")
    t = perf_counter()
    files = gen.write_log(log_dir, shape.log, ctx.seed)
    warm_files = gen.write_log(warm_dir, shape.warm, ctx.seed + 1_000_003)
    out.setup["generate_s"] = perf_counter() - t
    t = perf_counter()
    _batch_iteration(ctx, out, shape, "warm", warm_dir, warm_files, None)
    out.setup["warmup_s"] = perf_counter() - t
    expected = oracle.final_state([f.path for f in files])
    plan = [True, False] if ctx.tracer is not None else [False]
    for i, trace_this in enumerate(plan):
        try:
            if trace_this:
                spans.install(ctx.tracer)
            _batch_iteration(ctx, out, shape, f"it{i}", log_dir, files, expected)
        except Exception:
            out.crashed()
        finally:
            if trace_this:
                ctx.tracer.uninstall()
        if out.failed:
            break
    out.notes.update(
        events_per_replay=shape.log.num_events, epochs_per_replay=shape.epochs,
        files=shape.log.num_files, replays=len(out.replay_eps),
    )
    return out


# ------------------------------------------------------- open-loop stream


@dataclass(frozen=True)
class TailShape:
    file_events: int
    period_s: float
    num_convs: int
    turns_per_conv: int
    warm_files: int
    auto_compact_layers: int = 4
    drain_timeout_s: float = 60.0


def _wait(pred, timeout: float, query=None) -> bool:
    end = time.time() + timeout
    while time.time() < end:
        if pred():
            return True
        if query is not None and not query.isActive:
            raise RuntimeError(f"stream stopped: {query.exception()}")
        time.sleep(0.01)
    return False


def _stream_spec(shape: TailShape, n_files: int) -> gen.LogSpec:
    return gen.LogSpec(n_files * shape.file_events, shape.num_convs, shape.turns_per_conv, n_files)


def _tail_warmup(ctx: Ctx, out: Outcome, shape: TailShape) -> None:
    """Drain a few files through the same MoR stream path, one file per
    micro-batch so the inline compaction fold runs, then read it."""
    d = os.path.join(ctx.work, "warm")
    gen.write_log(f"{d}/log", _stream_spec(shape, shape.warm_files), ctx.seed + 1_000_003)
    table = SnapshotTable.create(ctx.spark, f"{d}/table", SCHEMA, KEYS, num_buckets=NUM_BUCKETS)
    replay.replay_stream(
        ctx.spark, f"{d}/log", table, f"{d}/ckpt", query_id="warm", max_files_per_trigger=1,
        lineage=LineageRecorder(ctx.spark, f"{d}/lineage"), fmt="json", merge_mode="mor",
        auto_compact_layers=shape.auto_compact_layers,
    )
    _read_and_edges(ctx, Outcome(), table, 1, 1)
    shutil.rmtree(d, ignore_errors=True)


def _progress_start(p) -> float:
    return datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()


def _stream_window(
    ctx: Ctx, out: Outcome, shape: TailShape, files: list[gen.LogFile], table: SnapshotTable, d: str
) -> tuple[list[tuple], list[float], list[float], list]:
    """Start the sustained stream, land ``files`` on a fixed schedule from a
    generator thread, wait for the drain. Returns (commits, due, landed,
    data-batch progress)."""
    watch = f"{d}/watch"
    os.makedirs(watch)
    commits: list[tuple] = []  # (time, epoch, max_seq, bytes_written)

    def on_batch(batch, epoch_id, st) -> None:
        if not st.skipped:
            commits.append((time.time(), int(epoch_id), int(st.max_seq), int(st.bytes_written)))

    q = replay.replay_stream(
        ctx.spark, watch, table, f"{d}/ckpt", query_id="bench", available_now=False,
        lineage=LineageRecorder(ctx.spark, f"{d}/lineage"), on_batch=on_batch, fmt="json",
        merge_mode="mor", auto_compact_layers=shape.auto_compact_layers,
    )
    try:
        if not _wait(lambda: q.status["message"].startswith("Waiting for data"), 60, q):
            raise RuntimeError("stream did not start")
        t0 = time.time() + 0.05
        due = [t0 + k * shape.period_s for k in range(len(files))]
        landed: list[float] = []

        def generator() -> None:
            for f, at in zip(files, due):
                time.sleep(max(0.0, at - time.time()))
                os.replace(f.path, os.path.join(watch, os.path.basename(f.path)))
                landed.append(time.time())

        g = threading.Thread(target=generator, name="cdc-generator")
        g.start()
        g.join()
        last = files[-1].max_seq
        drained = _wait(lambda: any(c[2] >= last for c in commits), shape.drain_timeout_s, q)
        # an inline compaction after the last commit still belongs to it
        _wait(lambda: not q.status["isTriggerActive"], 30, q)
        progress = [p for p in q.recentProgress if p.numInputRows > 0]
    finally:
        q.stop()
    out.op(drained, f"stream did not commit seq {last} within {shape.drain_timeout_s} s")
    return commits, due, landed, progress


def _tail_iteration(ctx: Ctx, out: Outcome, shape: TailShape, files, expected):
    """The open-loop stream window, then the closed-loop reads. Returns the
    table and the reads' seconds, or ``(None, 0.0)`` on a failure."""
    d = os.path.join(ctx.work, "stream")
    table = SnapshotTable.create(ctx.spark, f"{d}/table", SCHEMA, KEYS, num_buckets=NUM_BUCKETS)
    events = sum(f.events for f in files)
    before = _snapshot_counters(ctx)
    t_iter = perf_counter()
    with _span(ctx, "bench.iteration") as root:
        with _span(ctx, "bench.stream_window", adopt=True):
            commits, due, landed, progress = _stream_window(ctx, out, shape, files, table, d)
        after = _snapshot_counters(ctx)
        rows, edges, read_s = _read_and_edges(ctx, out, table)
    wall = perf_counter() - t_iter
    _check(out, table, expected, rows, edges)
    max_committed = max((c[2] for c in commits), default=-1)
    uncovered = [f.path for f in files if f.max_seq > max_committed]
    out.op(not uncovered, f"{len(uncovered)} landed files never committed")
    if out.failed:
        return None, 0.0
    start = {int(p.batchId): _progress_start(p) for p in progress}
    epoch_s = [t - start[e] for t, e, _, _ in commits if e in start]
    out.epoch_ms += [s * 1000.0 for s in epoch_s]
    covered_at = []
    for f, at in zip(files, due):
        t_commit = min(t for t, _, mx, _ in commits if mx >= f.max_seq)
        covered_at.append(t_commit)
        out.fresh_ms.append((t_commit - at) * 1000.0)
    out.replay_eps.append(events / sum(epoch_s))
    written = sum(c[3] for c in commits)
    out.bytes_per_event.append((written + _compaction_bytes(table)) / events)
    late_ms = [(l - at) * 1000.0 for l, at in zip(landed, due)]
    backlog = [sum(l <= t for l in landed) - sum(c <= t for c in covered_at) for t, *_ in commits]
    per_batch = [sum(1 for f in files if prev < f.max_seq <= mx)
                 for prev, mx in zip([-1] + [c[2] for c in commits], [c[2] for c in commits])]
    dur = [p.durationMs for p in progress]
    stream = {
        "stream.trigger_ms_p50": median([x["triggerExecution"] for x in dur]),
        "stream.add_batch_ms_p50": median([x["addBatch"] for x in dur]),
        "stream.overhead_ms_p50": median([x["triggerExecution"] - x["addBatch"] for x in dur]),
        "stream.files_per_batch": sum(per_batch) / len(per_batch),
        "stream.backlog_files_max": float(max(backlog)),
        "stream.gen_late_ms_max": max(late_ms),
    }
    out.notes.update(
        files=len(files), file_events=shape.file_events, period_s=shape.period_s,
        batches=len(commits), generator_late_ms_max=round(max(late_ms), 1),
        generator_late_ms_p50=round(median(late_ms), 1),
        backlog_files_max=max(backlog),
        freshness_ms_p90=round(pct(out.fresh_ms, 90), 1) if len(out.fresh_ms) >= 100 else None,
    )
    if _tracing(ctx):
        _record_traced(ctx, out, root, wall, "bench.stream_window", before, after, table, written,
                       rows, edges, stream)
    return table, read_s


def run_tail(ctx: Ctx, shape: TailShape) -> Outcome:
    out = Outcome()
    n_files = max(10, round(ctx.seconds / shape.period_s))
    t = perf_counter()
    files = gen.write_log(os.path.join(ctx.work, "staging"), _stream_spec(shape, n_files), ctx.seed)
    out.setup["generate_s"] = perf_counter() - t
    t = perf_counter()
    _tail_warmup(ctx, out, shape)
    out.setup["warmup_s"] = perf_counter() - t
    expected = oracle.final_state([f.path for f in files])
    try:
        if ctx.tracer is not None:
            spans.install(ctx.tracer)
        table, read_s = _tail_iteration(ctx, out, shape, files, expected)
        if ctx.tracer is not None and table is not None:
            # the overhead is measured on the closed-loop reads: the same
            # reads again with the wrappers off
            out.units.append((True, read_s))
            ctx.tracer.uninstall()
            out.units.append((False, _read_and_edges(ctx, Outcome(), table)[2]))
    except Exception:
        out.crashed()
    finally:
        if ctx.tracer is not None:
            ctx.tracer.uninstall()
    return out
