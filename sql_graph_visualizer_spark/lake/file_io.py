"""FileIO — the metadata-plane storage interface of SnapshotTable.

Iceberg separates data IO (done by the engine's writers) from table
*metadata* IO (manifests, version hints), behind a pluggable ``FileIO``.
SnapshotTable does the same: Spark reads/writes the bulk parquet data
files through its own Hadoop filesystem layer, while every metadata
operation — manifest create, version-hint flip, file listing, size
stat, expiry — goes through this interface. So do metadata-sized data
files the driver writes itself: an ``append`` of a few rows (one
lineage row per epoch) serializes its parquet on the driver and
creates it here, instead of launching a Spark write job.

``LocalFileIO`` implements it over POSIX primitives and carries the
atomicity the commit protocol relies on:

- ``create_exclusive`` = ``open(..., 'x')``: optimistic concurrency — a
  racing committer loses and must retry on the new base snapshot;
- ``replace_atomic`` = write-temp + ``os.replace``: the version-hint
  flip is all-or-nothing.

An object-store backend slots in here with the SAME contract mapped to
store primitives: ``create_exclusive`` → S3 ``PutObject`` with
``If-None-Match: *`` (or a DynamoDB/catalog conditional put — what
Iceberg's S3 commit does), ``replace_atomic`` → PutObject (single-key
PUTs are atomic), ``listdir`` → ListObjectsV2 by prefix. Nothing above
this interface assumes POSIX.
"""

from __future__ import annotations

import os
import shutil
import uuid


class LocalFileIO:
    """POSIX-backed FileIO (the HadoopTableOperations analogue)."""

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def read_text(self, path: str) -> str:
        with open(path) as f:
            return f.read()

    def create_exclusive(self, path: str, data: str | bytes) -> None:
        """Create-if-absent (raises FileExistsError on a lost commit race).
        ``bytes`` are written as-is (driver-written data files); ``str``
        as text (manifests, segments)."""
        with open(path, "xb" if isinstance(data, bytes) else "x") as f:
            f.write(data)

    def replace_atomic(self, path: str, data: str) -> None:
        """Atomically replace ``path`` with ``data`` (readers see old or
        new content, never a partial write)."""
        tmp = f"{path}.{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as f:
            f.write(data)
        os.replace(tmp, path)

    def listdir(self, path: str) -> list[str]:
        return sorted(os.listdir(path))

    def getsize(self, path: str) -> int:
        return os.path.getsize(path)

    def getmtime(self, path: str) -> float:
        return os.path.getmtime(path)

    def remove(self, path: str) -> None:
        os.remove(path)

    def rmtree(self, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)
