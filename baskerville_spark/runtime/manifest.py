"""Checkpoint manifest: per-partition lineage + metrics, atomic commits.

Reference parity: the Runtime ledger row — one row per engine run with
start/stop/processed flag/n_request_sets (src/baskerville/db/models.py:41-75,
completion update src/baskerville/models/base_spark.py:567-579) — made
per-partition and idempotent. The reference's cache used A/B parquet file
alternation for atomicity (src/baskerville/models/request_set_cache.py:62-97);
here each partition commit is a single parquet file written to a temp name
and ``os.replace``-d into the manifest directory (atomic on POSIX). On a
real deployment this directory is an Iceberg table and the commit is a
snapshot append — the interface is the same.

Resume contract: pending = all_partitions − done (anti-join semantics); a
killed job re-runs only unfinished partitions and re-commits are idempotent
(same part_id overwrites by filename). The ledger is read back on the
driver in one pyarrow read of the directory (``read_manifest``), with no
Spark job; ``done_partitions`` and the CLI's row count both filter that
table.
"""

from __future__ import annotations

import os
import re
import uuid
from datetime import datetime, timezone
from urllib.parse import urlparse

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import SparkSession

from baskerville_spark import __version__

_ARROW_SCHEMA = pa.schema(
    [
        pa.field("part_id", pa.int32(), nullable=False),
        pa.field("status", pa.string(), nullable=False),
        pa.field("attempt", pa.int32(), nullable=False),
        pa.field("n_rows", pa.int64()),
        pa.field("n_violations", pa.int64()),
        pa.field("started_at", pa.timestamp("us", tz="UTC")),
        pa.field("finished_at", pa.timestamp("us", tz="UTC")),
        pa.field("code_version", pa.string()),
    ]
)


def _local_dir(path: str) -> str:
    """Filesystem path of a local manifest location (a plain path or a
    ``file:`` URI); any other ``scheme://`` URI (s3a, hdfs, …) raises."""
    if path.startswith("file:"):
        return urlparse(path).path
    if re.match(r"[A-Za-z][A-Za-z0-9+.-]*://", path):
        raise ValueError(f"manifest commits write local files, not {path!r}")
    return path


def read_manifest(path: str) -> pa.Table:
    """Every manifest row, in ONE pyarrow read of the local directory (no
    Spark job). Hidden and ``_``-prefixed files (an uncommitted ``._tmp_*``
    write) are skipped; a file without a manifest column reads it as NULL,
    so a foreign file marks nothing done; a corrupt file raises
    ``ArrowInvalid`` naming it, never a silent empty ledger that would force
    a full recompute. A missing directory is an empty ledger. A remote URI
    raises, as commits do."""
    local = _local_dir(path)
    if not os.path.isdir(local):
        return _ARROW_SCHEMA.empty_table()
    return pq.read_table(local, schema=_ARROW_SCHEMA)


def done_partitions(spark: SparkSession, path: str) -> set[int]:
    """Done-mark part_ids of the manifest at ``path`` (``read_manifest``)."""
    t = read_manifest(path)
    return set(t.filter(pc.field("status") == "done")["part_id"].to_pylist())


def commit_partition(
    path: str,
    part_id: int,
    n_rows: int,
    n_violations: int,
    started_at: datetime,
) -> None:
    """Atomically record one finished partition (``attempt`` 1: a retry
    rewrites the same mark)."""
    path = _local_dir(path)
    os.makedirs(path, exist_ok=True)
    now = datetime.now(timezone.utc)
    table = pa.Table.from_pylist(
        [
            {
                "part_id": part_id,
                "status": "done",
                "attempt": 1,
                "n_rows": n_rows,
                "n_violations": n_violations,
                "started_at": started_at,
                "finished_at": now,
                "code_version": __version__,
            }
        ],
        schema=_ARROW_SCHEMA,
    )
    tmp = os.path.join(path, f"._tmp_{uuid.uuid4().hex}.parquet")
    final = os.path.join(path, f"part-{part_id:05d}.parquet")
    pq.write_table(table, tmp)
    os.replace(tmp, final)  # atomic on POSIX; Iceberg snapshot commit at scale


def invalidate_partitions(path: str, part_ids: list[int]) -> None:
    """Remove the done-marks for partitions whose data changed underneath a
    finished run (snapshot diff said 'changed') so run_resumable picks them
    up again. Missing marks are fine — an 'added' partition never had one.
    Atomic per partition (unlink), same idempotence contract as commit."""
    path = _local_dir(path)
    for p in part_ids:
        mark = os.path.join(path, f"part-{int(p):05d}.parquet")
        try:
            os.remove(mark)
        except FileNotFoundError:
            pass
