"""Deterministic synthetic CDC log generator (binlog/WAL analogue).

Schema per FIXTURES.md §2::

    seq:long, op:string(insert|update|delete), conv_id:string,
    turn_idx:int, role:string, text:string, tool:string, ts:timestamp,
    schema_ver:int  [, model:string when schema_ver >= 2]

Reference analogue: the poll-loop change source (S14,
``internal/application/services/performance/performance_schema_adapter.go:212-301``)
and the delete-then-create upsert tick
(``simple_metrics_injector.go:170-213``). The generator replaces the
MySQL performance_schema with a deterministic event stream.

Everything is derived arithmetically from ``seq`` via ``xxhash64`` —
no ``rand()``, no wall clock — so the log is identical across runs,
partition counts, and parallelism levels (required for the two-cluster
scaling bench and the pytest oracle).

Skew: ``conv_id`` follows a power-law (``u^skew_exponent`` collapses the
uniform hash toward conversation 0), giving the hot-conversation skew the
north_rule requires us to handle explicitly (see operators/skew.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

ROLES = ("user", "assistant", "system", "tool")
TOOLS = ("search", "browser", "python", "calculator", "none")
BASE_TS = "2024-01-01 00:00:00"


def _u(col: Column, salt: int) -> Column:
    """Deterministic uniform [0,1) derived from a column + salt."""
    return (F.pmod(F.xxhash64(col, F.lit(salt)), F.lit(1_000_000)) / 1_000_000.0).cast("double")


def gen_cdc_log(
    spark: SparkSession,
    num_events: int,
    num_convs: int = 1000,
    turns_per_conv: int = 50,
    delete_frac: float = 0.10,
    skew_exponent: float = 3.0,
    schema_v2_from: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Produce ``num_events`` change events as a DataFrame.

    - ``seq`` = row id (the LSN analogue; globally unique, monotone).
    - key = ``(conv_id, turn_idx)``; multiple versions per key arise
      naturally since events >> keys on hot conversations.
    - ``op``: first-seen version of a key is semantically an insert, but
      ops are sampled (insert/update/delete) — LWW replay only cares about
      the max-seq event, matching the reference's AddNode overwrite
      semantics (``graph_aggregate.go:46-51``).
    - ``schema_v2_from``: events with ``seq >=`` this carry ``schema_ver=2``
      and a non-null ``model`` column (schema-evolution segment).
    """
    df = spark.range(0, num_events, 1, num_partitions or spark.sparkContext.defaultParallelism)
    seq = F.col("id")

    u_conv = _u(seq, 1)
    conv = F.floor(F.pow(u_conv, F.lit(skew_exponent)) * num_convs).cast("long")
    conv_id = F.concat(F.lit("conv-"), F.lpad(conv.cast("string"), 6, "0"))

    turn_idx = F.pmod(F.xxhash64(seq, F.lit(2)), F.lit(turns_per_conv)).cast("int")

    u_op = _u(seq, 3)
    op = (
        F.when(u_op < delete_frac, F.lit("delete"))
        .when(u_op < delete_frac + 0.30, F.lit("insert"))
        .otherwise(F.lit("update"))
    )

    role_idx = F.pmod(F.xxhash64(seq, F.lit(4)), F.lit(len(ROLES)))
    role = F.element_at(F.array(*[F.lit(r) for r in ROLES]), (role_idx + 1).cast("int"))

    tool_idx = F.pmod(F.xxhash64(seq, F.lit(5)), F.lit(len(TOOLS)))
    tool_raw = F.element_at(F.array(*[F.lit(t) for t in TOOLS]), (tool_idx + 1).cast("int"))
    tool = F.when((role == "tool") & (tool_raw != "none"), tool_raw)

    text = F.concat(
        F.lit("turn "),
        turn_idx.cast("string"),
        F.lit(" of "),
        conv_id,
        F.lit(" v"),
        seq.cast("string"),
        F.lit(" "),
        F.repeat(F.lit("lorem ipsum dolor sit amet "), (F.pmod(F.xxhash64(seq, F.lit(6)), F.lit(8)) + 1).cast("int")),
    )

    ts = F.timestamp_add("SECOND", seq.cast("int"), F.to_timestamp(F.lit(BASE_TS)))

    out = df.select(
        seq.alias("seq"),
        op.alias("op"),
        conv_id.alias("conv_id"),
        turn_idx.alias("turn_idx"),
        F.when(op != "delete", role).alias("role"),
        F.when(op != "delete", text).alias("text"),
        F.when(op != "delete", tool).alias("tool"),
        ts.alias("ts"),
    )
    if schema_v2_from is not None:
        out = out.withColumn(
            "schema_ver", F.when(F.col("seq") >= schema_v2_from, F.lit(2)).otherwise(F.lit(1))
        ).withColumn(
            "model",
            F.when(
                (F.col("seq") >= schema_v2_from) & (F.col("op") != "delete"),
                F.concat(F.lit("model-"), F.pmod(F.xxhash64("seq", F.lit(7)), F.lit(3)).cast("string")),
            ),
        )
    else:
        out = out.withColumn("schema_ver", F.lit(1))
    return out


# JSON change-event schema (the Debezium/Maxwell-style binlog-tail format)
CDC_JSON_SCHEMA = (
    "seq long, op string, conv_id string, turn_idx int, role string, "
    "text string, tool string, ts timestamp, schema_ver int"
)


def write_cdc_log_dir(
    df: DataFrame, path: str, num_files: int, fmt: str = "parquet"
) -> None:
    """Materialize the log as ~num_files files ordered by seq range, so a
    file-based readStream (with maxFilesPerTrigger) replays roughly in
    LSN order — the binlog-tail analogue. Correctness never depends on
    this ordering (LWW resolves on seq), only bench realism does.
    ``fmt='json'`` writes gzip JSON-lines — the Debezium/Maxwell shape."""
    ordered = df.repartitionByRange(num_files, "seq").sortWithinPartitions("seq")
    w = ordered.write.mode("overwrite")
    if fmt == "json":
        w.option("compression", "gzip").json(path)
    else:
        w.parquet(path)


def read_cdc_log(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    if fmt == "json":
        df = spark.read.schema(CDC_JSON_SCHEMA).json(path)
    else:
        df = spark.read.parquet(path)
    # Tag the frame with its file source (r8, guide §6 file skipping):
    # a bounded replay splits the log into contiguous seq ranges, but a
    # gzip-JSON scan has no native min/max file skipping — every epoch
    # would decompress+parse EVERY file. replay_batch uses this tag to
    # probe per-file seq ranges once and then read, per epoch, only the
    # files that can contain the epoch's range. Parquet needs no such
    # help (the seq predicate pushes to row-group stats natively).
    # The tag is advisory metadata on this DataFrame object only — it
    # does not survive transformations, and derived/transformed logs
    # simply take the full-scan path as before. The file set itself is
    # the frame's own ``inputFiles()`` listing, never a re-listing of
    # ``path``.
    df._sgv_file_source = {"fmt": fmt}
    return df


def read_cdc_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
    fmt: str = "parquet",
):
    """File-source streaming read of a CDC log directory (binlog tail);
    parquet or Debezium-style JSON lines.

    Reference analogue: the 5s poll ticker
    (``realtime_performance_monitor.go:287-303``) — here the micro-batch
    boundary comes from the trigger + maxFilesPerTrigger backpressure cap
    (reference's MaxStatements/MaxTables caps,
    ``performance_schema_adapter.go:602-619``).
    """
    if fmt == "json":
        reader = spark.readStream.schema(CDC_JSON_SCHEMA)
    else:
        reader = spark.readStream.schema(spark.read.parquet(path).schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(path) if fmt == "json" else reader.parquet(path)
