"""Per-layer metrics of a traced run, from its spans and Spark event log.

``PER_LAYER`` names the benchmark's per-layer metrics with their units; a
traced run of any workload reports all of them. ``EXTRA`` holds the
stream and merge-on-read layers, which only ``tail_mor`` runs (0 on the
batch replays). "Per epoch" divides
by the epochs committed in the traced iterations; other figures are means
per traced iteration unless their name says otherwise.
"""

from __future__ import annotations

from collections import defaultdict

import spans
from measure import median

PER_LAYER = {
    # replay loop and winner aggregation
    "merge_prepare.input_bytes_per_epoch": "B",
    "merge_prepare.ms_per_epoch": "ms",
    "replay.self_ms": "ms",
    "replay.prepare_wait_ms_per_epoch": "ms",
    "replay.no_task_frac": "ratio",
    "sources.input_records_per_epoch": "count",
    # merge write
    "merge_upsert.ms_per_epoch": "ms",
    "merge_upsert.shuffle_write_bytes_per_epoch": "B",
    "merge_upsert.spill_bytes": "B",
    "merge_upsert.bytes_written_per_epoch": "B",
    # per-epoch fixed cost
    "spark.jobs_per_epoch": "count",
    "spark.tasks_per_epoch": "count",
    "spark.codegen_compiles_per_epoch": "count",
    "snapshot.manifest_reads_per_epoch": "count",
    "file_io.ops_per_epoch": "count",
    "file_io.bytes_per_epoch": "B",
    "lineage.record_ms_per_epoch": "ms",
    "lineage.flush_ms": "ms",
    # engine-wide
    "spark.idle_core_frac": "ratio",
    "spark.gc_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    # reads and graph
    "read.ms": "ms",
    "read.rows": "count",
    "snapshot.table_bytes": "B",
    "graph.edges_ms": "ms",
    "graph.edges_out": "count",
    "graph.executor_run_ms": "ms",
    # the tracer itself
    "trace.overhead_frac": "ratio",
}
# layers only the stream workload runs: printed and reported, but not part
# of the benchmark's per-layer metric set
EXTRA = {
    "stream.trigger_ms_p50": "ms",
    "stream.add_batch_ms_p50": "ms",
    "stream.overhead_ms_p50": "ms",
    "stream.files_per_batch": "count",
    "stream.backlog_files_max": "count",
    "stream.gen_late_ms_max": "ms",
    # merge-on-read maintenance
    "compact_deltas.ms": "ms",
    "compact_deltas.count": "count",
    "snapshot.delta_layers_max": "count",
}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(tracer, log: spans.EventLog, traced: list, cores: int, overhead: float):
    """Returns (metrics, report): the ``PER_LAYER`` values and the fuller
    JSON report written next to them."""
    tree = spans.SpanTree(tracer, log)
    replays = [next(c for c in t.root.children if c.name == t.replay_span) for t in traced]
    under: set[str] = set()
    for d in replays:
        under |= tree.subtree_ids(d)

    def named(name: str) -> list[spans.Span]:
        return [s for s in tree.named(name) if s.sid in under]

    epochs = len(named("replay.merge_with_retry"))
    per_epoch = 1.0 / max(1, epochs)
    n = max(1, len(traced))
    prep, ups = named("snapshot.merge_prepare"), named("snapshot.merge_upsert")
    tot = tree.totals(replays)
    wall_ms = sum(d.ms for d in replays)
    busy_ms = sum(
        spans.union_ms([iv], d.start, d.end) for d in replays for iv in tree.task_intervals(d)
    )
    any_task_ms = sum(spans.union_ms(tree.task_intervals(d), d.start, d.end) for d in replays)
    gaps = []
    for d in replays:
        ordered = sorted((s for s in ups if s.sid in tree.subtree_ids(d)), key=lambda s: s.start)
        gaps += [(b.start - a.end) * 1000.0 for a, b in zip(ordered, ordered[1:])]
    counters: dict[str, float] = defaultdict(float)
    for t in traced:
        for k, v in t.counters.items():
            counters[k] += v
    io_ops = sum(v for k, v in counters.items() if k.startswith("file_io.") and not k.endswith(".bytes"))
    io_bytes = sum(v for k, v in counters.items() if k.startswith("file_io.") and k.endswith(".bytes"))
    compactions = named("snapshot.compact_deltas")
    reads = [c for t in traced for c in t.root.children if c.name == "bench.read_noop"]
    edges = [c for t in traced for c in t.root.children if c.name == "bench.edges_noop"]
    m = {
        "merge_prepare.input_bytes_per_epoch": tree.totals(prep).input_bytes * per_epoch,
        "merge_prepare.ms_per_epoch": sum(s.ms for s in prep) * per_epoch,
        "replay.self_ms": _mean(tree.self_ms(d) for d in replays),
        "replay.prepare_wait_ms_per_epoch": _mean(gaps),
        "replay.no_task_frac": 1.0 - any_task_ms / wall_ms if wall_ms else 0.0,
        "sources.input_records_per_epoch": tot.input_records * per_epoch,
        "merge_upsert.ms_per_epoch": sum(s.ms for s in ups) * per_epoch,
        "merge_upsert.shuffle_write_bytes_per_epoch": tree.totals(ups).shuffle_write_bytes * per_epoch,
        "merge_upsert.spill_bytes": tree.totals(ups).spill_bytes * per_epoch,
        "merge_upsert.bytes_written_per_epoch": sum(t.bytes_written for t in traced) * per_epoch,
        "spark.jobs_per_epoch": tot.jobs * per_epoch,
        "spark.tasks_per_epoch": tot.tasks * per_epoch,
        "spark.codegen_compiles_per_epoch": sum(t.codegen for t in traced) * per_epoch,
        "snapshot.manifest_reads_per_epoch": counters["snapshot.manifest"] * per_epoch,
        "file_io.ops_per_epoch": io_ops * per_epoch,
        "file_io.bytes_per_epoch": io_bytes * per_epoch,
        "lineage.record_ms_per_epoch": sum(s.ms for s in named("lineage.record")) * per_epoch,
        "lineage.flush_ms": _mean(s.ms for s in named("lineage.flush")),
        "spark.idle_core_frac": 1.0 - busy_ms / (cores * wall_ms) if wall_ms else 0.0,
        "spark.gc_ms": tot.gc_ms / n,
        "spark.executor_cpu_ms": tot.cpu_ms / n,
        "compact_deltas.ms": sum(s.ms for s in compactions) / n,
        "compact_deltas.count": len(compactions) / n,
        "snapshot.delta_layers_max": max(tracer.samples.get("snapshot.delta_layers", [0])),
        "read.ms": _mean(s.ms for s in reads),
        "read.rows": _mean(t.read_rows for t in traced),
        "snapshot.table_bytes": _mean(t.table_bytes for t in traced),
        "graph.edges_ms": _mean(s.ms for s in edges),
        "graph.edges_out": _mean(t.edges_out for t in traced),
        "graph.executor_run_ms": tree.totals(edges).run_ms / max(1, len(edges)),
        "trace.overhead_frac": overhead,
    }
    for k in EXTRA:
        if k.startswith("stream."):
            m[k] = _mean(t.stream.get(k, 0.0) for t in traced)
    roots = [(t.root, t.wall_s) for t in traced]
    spark_by_name: dict[str, spans.SparkTotals] = defaultdict(spans.SparkTotals)
    for s in tree.spans:
        if s.sid in log.by_group:
            spark_by_name[s.name].add(log.by_group[s.sid])
    windows = [(t.root.start, t.root.end) for t in traced]
    report = {
        "epochs": epochs,
        "replay_wall_ms": wall_ms,
        # the fixed per-epoch share: replay time with no task running
        # anywhere (job set-up, codegen, scheduling round trips, metadata IO)
        "fixed_cost": {
            "no_task_ms": wall_ms - any_task_ms,
            "replay_wall_ms": wall_ms,
            "share": m["replay.no_task_frac"],
            "no_task_ms_per_epoch": (wall_ms - any_task_ms) * per_epoch,
        },
        "self_ms_by_layer": tree.self_by_name(),
        "spark_by_layer": {k: vars(v) for k, v in spark_by_name.items()},
        "unattributed_tasks_in_traced_windows": sum(
            1 for g, a, _ in log.tasks if g is None and any(lo <= a <= hi for lo, hi in windows)
        ),
        "reconcile_errors": spans.check_reconcile(tree, roots),
        "iterations": [
            {"wall_ms": t.wall_s * 1000.0, "root_self_ms": tree.self_ms(t.root),
             "children": [[c.name, c.ms] for c in t.root.children]}
            for t in traced
        ],
        "counters": dict(counters),
        "median_iteration_ms": median([t.wall_s * 1000.0 for t in traced]),
        "spans": spans.dump_spans(tracer),
    }
    return m, report
