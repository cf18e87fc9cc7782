"""Independent last-writer-wins oracle, computed by DuckDB over the same
gzip JSON files the engine replays.

The final state is the event with the highest ``seq`` per
``(conv_id, turn_idx)``, dropped when that event is a delete. The check
compares per-turn ``text`` with ``SnapshotTable.read()`` under a stable
``(conv_id, turn_idx)`` ordering.
"""

from __future__ import annotations

from dataclasses import dataclass

import duckdb
import pyarrow as pa

COLUMNS = "{seq: 'BIGINT', op: 'VARCHAR', conv_id: 'VARCHAR', turn_idx: 'INTEGER', text: 'VARCHAR', tool: 'VARCHAR'}"
STATE_SCHEMA = pa.schema([("conv_id", pa.string()), ("turn_idx", pa.int32()), ("text", pa.string())])


@dataclass
class Expected:
    state: pa.Table  # conv_id, turn_idx, text sorted by (conv_id, turn_idx)
    edges: int  # one HAS_TURN per live turn plus one USES_TOOL per tool turn


def final_state(paths: list[str]) -> Expected:
    files = ", ".join(f"'{p}'" for p in paths)
    with duckdb.connect() as con:
        con.execute("SET threads TO 2")
        rel = con.sql(
            f"""
            SELECT conv_id, turn_idx, text, tool FROM (
              SELECT *, row_number() OVER (
                PARTITION BY conv_id, turn_idx ORDER BY seq DESC) AS rn
              FROM read_json([{files}], format = 'newline_delimited',
                             compression = 'gzip', columns = {COLUMNS}))
            WHERE rn = 1 AND op <> 'delete'
            ORDER BY conv_id, turn_idx
            """
        ).arrow()
    rel = rel.read_all() if isinstance(rel, pa.RecordBatchReader) else rel
    tools = rel.column("tool").null_count
    state = rel.select(["conv_id", "turn_idx", "text"]).cast(STATE_SCHEMA)
    return Expected(state, 2 * rel.num_rows - tools)


def check_table(table, expected: Expected) -> str | None:
    """``None`` when ``table.read()`` equals the oracle, else a reason."""
    got = (
        table.read().select("conv_id", "turn_idx", "text").toArrow()
        .cast(STATE_SCHEMA).sort_by([("conv_id", "ascending"), ("turn_idx", "ascending")])
    )
    want = expected.state
    if got.num_rows != want.num_rows:
        return f"{got.num_rows} rows, oracle has {want.num_rows}"
    if not got.combine_chunks().equals(want.combine_chunks()):
        return "per-turn text differs from the oracle"
    return None
