"""Layered benchmark of the CDC → snapshot table → graph engine.

Usage (from the repository root)::

    python3 cdcbench/run.py --workload bulk_replay --seed 1 --seconds 18 --trace 0

``--trace 0`` prints every end-to-end metric; ``--trace 1`` runs the same
workload with span tracing and a Spark event log, prints every per-layer
metric and writes the full per-layer report to
``.cdcbench_out/trace-<workload>-seed<seed>.json``. The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics``. Everything the run writes stays inside the repository
checkout and is removed at exit, except that report.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from statistics import median as smedian
from time import perf_counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E = {
    "setup_s": "s",
    "replay_events_per_s": "events/s",
    "epoch_ms_p50": "ms",
    "freshness_ms_p50": "ms",
    "snapshot_read_rows_per_s": "rows/s",
    "graph_edges_per_s": "edges/s",
    "bytes_written_per_event": "B/event",
}


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _workloads(seconds: float):
    """Workload shapes. The measured work is fixed per run and sized from
    ``seconds`` (at this engine's speed on a 4-core machine) rather than cut off
    by a clock, so every run of a workload does the same work: one replay
    (``bulk_replay`` always replays its 300k-event log once; ``epoch_floor``
    gets one 5k-event epoch per 3 s, at least 4) or one stream window
    (``tail_mor``: one file per period for ``seconds``)."""
    from gen import LogSpec
    from workloads import BatchShape, TailShape, run_batch, run_tail

    floor_epochs = max(4, round(seconds / 3))

    return {
        # the throughput shape: the largest epochs the time budget allows, so
        # parse, winner aggregation and the merge-write shuffle weigh most;
        # persist_log=False takes the engine's big-log path (per-file
        # seq-range skipping), which it picks by itself only above 6M events
        "bulk_replay": lambda ctx: run_batch(ctx, BatchShape(
            log=LogSpec(300_000, 2_000, 50, 16), epochs=4,
            warm=LogSpec(50_000, 2_000, 50, 4), persist_log=False,
        )),
        # the per-epoch fixed-cost floor: 5k-event epochs over a cached log
        "epoch_floor": lambda ctx: run_batch(ctx, BatchShape(
            log=LogSpec(5_000 * floor_epochs, 100, 30, 16), epochs=floor_epochs,
            warm=LogSpec(4_000, 100, 30, 4),
        )),
        # open-loop merge-on-read stream, then closed-loop reads
        "tail_mor": lambda ctx: run_tail(ctx, TailShape(
            file_events=2_500, period_s=0.1, num_convs=2_000, turns_per_conv=50, warm_files=5,
        )),
    }


def _session(work: str, event_log: bool):
    from sql_graph_visualizer_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # keep every file the JVM and Python workers write inside the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="cdcbench", master=f"local[{_cores()}]", extra_conf=conf)


def _stop(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=18)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import sql_graph_visualizer_spark  # noqa: F401
    except ImportError as e:
        print(f"cdcbench: the engine package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    import measure
    import spans
    from workloads import Ctx

    workloads = _workloads(args.seconds)
    if args.workload not in workloads:
        print(f"cdcbench: unknown workload {args.workload!r}; one of {sorted(workloads)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".cdcbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        with measure.RssSampler() as rss:
            t = perf_counter()
            spark = _session(work, event_log=bool(args.trace))
            try:
                spark.sparkContext.setLogLevel("ERROR")
                session_s = perf_counter() - t
                tracer = spans.Tracer(spark, f"{args.workload}-{args.seed}") if args.trace else None
                ctx = Ctx(spark, work, args.seed, args.seconds, tracer)
                t_run = perf_counter()
                out = workloads[args.workload](ctx)
                measured_s = perf_counter() - t_run
                app_id = spark.sparkContext.applicationId
            finally:
                _stop(spark)
        setup_s = session_s + sum(out.setup.values())
        result = _report(args, out, setup_s, session_s, rss, measured_s, work, app_id, tracer)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def _report(args, out, setup_s, session_s, rss, measured_s, work, app_id, tracer) -> dict:
    correct = out.failed == 0 and bool(out.replay_eps)
    print(f"workload {args.workload}  seed {args.seed}  cores {_cores()}  measured {measured_s:.1f} s")
    print(f"setup: session {session_s:.2f} s, " + ", ".join(f"{k} {v:.2f} s" for k, v in out.setup.items()))
    for k, v in out.notes.items():
        print(f"  {k}: {v}")
    print(f"correct: {correct}  attempted {out.attempted}  failed {out.failed}  "
          f"failed_frac {out.failed / max(1, out.attempted):.4f}")
    for e in out.errors:
        print(f"  failure: {e}")
    print(f"peak_rss_mb = {rss.peak_mb:.1f} MB  (process tree, the JVM included; mean {rss.mean_mb:.1f} MB)")
    if not correct:
        return {"correct": False, "attempted": max(1, out.attempted), "failed": max(1, out.failed), "metrics": {}}
    if args.trace:
        values, units = _report_layers(args, out, work, app_id, tracer)
    else:
        values, units = _report_e2e(out, setup_s)
    return {
        "correct": True,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }


def _report_e2e(out, setup_s: float):
    import measure

    samples = {
        "replay_events_per_s": out.replay_eps, "epoch_ms_p50": out.epoch_ms,
        "freshness_ms_p50": out.fresh_ms, "snapshot_read_rows_per_s": out.read_rps,
        "graph_edges_per_s": out.edges_ps, "bytes_written_per_event": out.bytes_per_event,
    }
    values = {"setup_s": setup_s, **{k: smedian(v) for k, v in samples.items()}}
    for k, v in values.items():
        n = f"  (median of {len(samples[k])})" if k in samples else ""
        print(f"{k} = {v:.6g} {E2E[k]}{n}")
    for name, xs in (("epoch_ms", out.epoch_ms), ("freshness_ms", out.fresh_ms)):
        q = measure.supported_pct(len(xs))
        tail = f"p{q} {measure.pct(xs, q):.0f} ms" if q > 50 else "no percentile above p50"
        print(f"  {name}: {len(xs)} samples support {tail}; samples {[round(x) for x in xs]}")
    return values, E2E


def _report_layers(args, out, work, app_id, tracer):
    """Per-layer metrics of a traced run; fails loudly when a span is left
    open or the spans do not reconcile with the independently timed wall."""
    import layers
    import spans

    if tracer.open_spans():
        raise SystemExit(f"cdcbench: spans left open: {tracer.open_spans()}")
    log = spans.read_event_log(os.path.join(work, "eventlog", app_id))
    # the untraced unit runs after the traced one, further into the JVM's
    # warm-up, so this overhead is an upper bound
    (_, traced), (_, untraced) = out.units
    overhead = (traced - untraced) / untraced
    values, report = layers.layer_metrics(tracer, log, out.traced, _cores(), overhead)
    report.update(workload=args.workload, seed=args.seed, cores=_cores(),
                  traced_s=traced, untraced_s=untraced)
    os.makedirs(os.path.join(ROOT, ".cdcbench_out"), exist_ok=True)
    path = os.path.join(ROOT, ".cdcbench_out", f"trace-{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1)
    units = {**layers.PER_LAYER, **layers.EXTRA}
    for k, v in values.items():
        print(f"{k} = {v:.6g} {units[k]}")
    fc = report["fixed_cost"]
    print(f"fixed per-epoch cost: {fc['no_task_ms']:.0f} ms with no task running of "
          f"{fc['replay_wall_ms']:.0f} ms replay wall over {report['epochs']} epochs "
          f"(share {fc['share']:.3f})")
    print(f"tracing overhead: at most {overhead:+.3f} of the untraced wall "
          f"(traced {traced:.2f} s, then untraced {untraced:.2f} s)")
    print(f"per-layer report: {path}")
    if report["reconcile_errors"]:
        raise SystemExit("cdcbench: spans do not reconcile with wall time: " + "; ".join(report["reconcile_errors"]))
    return values, layers.PER_LAYER


if __name__ == "__main__":
    sys.exit(main())
