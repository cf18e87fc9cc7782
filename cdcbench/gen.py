"""Seeded CDC change-log generator owned by the benchmark.

The program under test receives only the files this module writes, so no
change to the engine (including its own ``sources/cdc_gen.py``) can alter a
workload's input. The shape matches the engine's generator: ``seq`` is the
LSN (dense, monotone), ``conv_id`` follows a power law (``u ** skew`` pulls
the uniform draw toward conversation 0, giving hot conversations), 10% of
events are deletes, and each ``(conv_id, turn_idx)`` key sees many versions.

Files are gzip JSON lines, one object per event in the engine's flat
change-event schema (``seq, op, conv_id, turn_idx, role, text, tool, ts,
schema_ver``); null fields are omitted, as Spark's JSON writer does. Each
file holds a contiguous seq range, written in LSN order. Lines are built
column-wise with Arrow string kernels, so a million events take seconds.
"""

from __future__ import annotations

import gzip
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

ROLES = ("user", "assistant", "system", "tool")
TOOLS = ("search", "browser", "python", "calculator")
LOREM = "lorem ipsum dolor sit amet "
BASE_TS = np.datetime64("2024-01-01T00:00:00", "s")


@dataclass(frozen=True)
class LogSpec:
    num_events: int
    num_convs: int
    turns_per_conv: int
    num_files: int
    delete_frac: float = 0.10
    skew_exponent: float = 3.0


@dataclass(frozen=True)
class LogFile:
    path: str
    max_seq: int
    events: int


def _cat(*parts) -> pa.Array:
    return pc.binary_join_element_wise(*parts, "")


def _jsonl(rng: np.random.Generator, spec: LogSpec, seq0: int, n: int) -> bytes:
    """``n`` newline-terminated JSON lines for seqs ``seq0 .. seq0+n-1``."""
    seq = np.arange(seq0, seq0 + n, dtype=np.int64)
    conv = np.floor(rng.random(n) ** spec.skew_exponent * spec.num_convs).astype(np.int64)
    turn = rng.integers(0, spec.turns_per_conv, n)
    u_op = rng.random(n)
    role = rng.integers(0, len(ROLES), n)
    # a tool turn names one of the tools or none (the engine's "none" draw)
    tool = np.where(role == ROLES.index("tool"), rng.integers(0, len(TOOLS) + 1, n), len(TOOLS))
    reps = rng.integers(1, 9, n)

    seq_s = pc.cast(pa.array(seq), pa.string())
    turn_s = pc.cast(pa.array(turn), pa.string())
    conv_s = _cat("conv-", pc.utf8_lpad(pc.cast(pa.array(conv), pa.string()), 6, "0"))
    ts = pa.array(np.datetime_as_string(BASE_TS + seq.astype("timedelta64[s]"), unit="s"))
    is_del = u_op < spec.delete_frac
    op = pa.array(["delete", "insert", "update"]).take(
        pa.array(np.where(is_del, 0, np.where(u_op < spec.delete_frac + 0.30, 1, 2)))
    )
    head = _cat('{"seq":', seq_s, ',"op":"', op, '","conv_id":"', conv_s, '","turn_idx":', turn_s, ",")
    tail = _cat('"ts":"', ts, 'Z","schema_ver":1}\n')
    text = _cat(
        "turn ", turn_s, " of ", conv_s, " v", seq_s, " ",
        pa.array([LOREM * k for k in range(9)]).take(pa.array(reps)),
    )
    tool_kv = pa.array([f'"tool":"{t}",' for t in TOOLS] + [""]).take(pa.array(tool))
    full = _cat(
        head, '"role":"', pa.array(ROLES).take(pa.array(role)), '","text":"', text, '",',
        tool_kv, tail,
    )
    lines = pc.if_else(pa.array(is_del), _cat(head, tail), full)
    # the string array's data buffer is exactly the concatenated lines
    offsets = np.frombuffer(lines.buffers()[1], dtype=np.int32, count=len(lines) + 1, offset=lines.offset * 4)
    return lines.buffers()[2].to_pybytes()[offsets[0] : offsets[-1]]


def write_log(out_dir: str, spec: LogSpec, seed: int, seq0: int = 0) -> list[LogFile]:
    """Write ``spec.num_events`` events with seqs ``seq0 ..`` into
    ``spec.num_files`` files under ``out_dir``; same seed, same bytes."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    per = -(-spec.num_events // spec.num_files)
    files = []
    for k in range(spec.num_files):
        lo = seq0 + k * per
        n = min(per, seq0 + spec.num_events - lo)
        if n <= 0:
            break
        path = os.path.join(out_dir, f"part-{k:05d}.json.gz")
        with open(path, "wb") as f:
            f.write(gzip.compress(_jsonl(rng, spec, lo, n), compresslevel=1, mtime=0))
        files.append(LogFile(path, lo + n - 1, n))
    return files
