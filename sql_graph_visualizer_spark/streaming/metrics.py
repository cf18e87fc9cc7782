"""Per-epoch lineage / throughput metrics, persisted at each checkpoint.

Reference analogue: the realtime metrics tick — QPS = Σ count_star /
interval (``realtime_performance_monitor.go:406-419``) and the graph
metadata counters (``graph_performance_mapper.go:335-342``), which the
reference pushes to WebSocket clients (S16). Here metrics are first-class
data: an append-only lake table (FIXTURES.md §5 ``lineage_metrics``
schema), written with the same epoch fencing as the data so a replayed
epoch does not double-count.
"""

from __future__ import annotations

import time

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from sql_graph_visualizer_spark.lake.snapshot_table import MergeStats, SnapshotTable

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.StringType()),
        T.StructField("epoch_id", T.LongType()),
        T.StructField("rows_in", T.LongType()),
        T.StructField("upserts", T.LongType()),
        T.StructField("deletes", T.LongType()),
        T.StructField("buckets_touched", T.IntegerType()),
        T.StructField("skipped", T.BooleanType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("events_per_sec", T.DoubleType()),
        T.StructField("snapshot_version", T.LongType()),
        T.StructField("committed_at_ms", T.LongType()),
    ]
)


class LineageRecorder:
    """Appends one row per epoch to a metrics SnapshotTable.

    A flush is a driver-side parquet write plus a fenced manifest commit
    (``SnapshotTable.append``): it runs no Spark job, so committing an
    epoch's row costs file IO, not a job on the replay's critical path.

    ``flush_every``: buffer K epochs per commit (default 1 = commit per
    epoch). It exists only to limit small files: sustained replays at
    1 row/epoch otherwise accrete one tiny parquet file + one manifest
    per epoch over long runs. Buffered rows are observability data, not
    source of truth: a crash loses at most ``flush_every - 1`` buffered
    rows, and on resume the fenced merges re-record those epochs as
    ``skipped`` rows, so the lineage table still explains what happened.
    Call ``flush()`` (or rely on the replay drivers, which flush at
    end-of-replay) before reading."""

    def __init__(self, spark: SparkSession, path: str, flush_every: int = 1):
        self.flush_every = max(1, int(flush_every))
        self._buffer: list[tuple] = []
        if SnapshotTable.exists(path):
            self.table = SnapshotTable(spark, path)
        else:
            self.table = SnapshotTable.create(
                spark, path, LINEAGE_SCHEMA, key_cols=["query_id", "epoch_id"], num_buckets=4
            )

    def record(self, st: MergeStats, query_id: str) -> None:
        eps = (st.rows_in / (st.duration_ms / 1000.0)) if st.duration_ms > 0 else 0.0
        self._buffer.append(
            (
                query_id,
                int(st.epoch_id),
                int(st.rows_in),
                int(st.upserts),
                int(st.deletes),
                int(st.buckets_touched),
                bool(st.skipped),
                int(st.duration_ms),
                float(eps),
                int(st.snapshot_version),
                int(time.time() * 1000),
            )
        )
        if len(self._buffer) >= self.flush_every:
            self.flush()

    def flush(self) -> None:
        """Commit buffered rows, fenced per query_id on that query's max
        buffered epoch so crash-replay of the same epochs can't
        double-count. One recorder may be shared across query_ids
        (e.g. data replay + graph-sync): each query's rows get their own
        fenced append — fencing a query's rows under another query's key
        would leave its fence behind and let replays double-record."""
        if not self._buffer:
            return
        rows, self._buffer = self._buffer, []
        by_query: dict[str, list[tuple]] = {}
        for r in rows:
            by_query.setdefault(r[0], []).append(r)
        for query_id, qrows in by_query.items():
            max_epoch = max(r[1] for r in qrows)
            self.table.append(qrows, epoch_id=max_epoch, query_id=f"lineage:{query_id}")

    def read(self):
        self.flush()
        return self.table.read()
