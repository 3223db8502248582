"""Binlog segment store source (S1/S2 of SURVEY.md §2.1).

The reference tails a TCP replication stream; the engine's equivalent
source is a *segment store*: each binlog file (rotation unit,
binlog_reader.zig:376-393) lands as one parquet file of framed event
packets — FIXTURES.md F2 layout:

    file_seq int32 | offset int64 | gtid int64 | event_seq int64 |
    event_blob binary

Batch reads and Structured-Streaming reads share this schema.  In
streaming, the file boundary IS the rotation boundary, so rotation
handling (S7) is free: ``maxFilesPerTrigger`` bounds a micro-batch to
whole segments and the per-segment decode session sees a complete,
self-describing unit.

At 100 TB the store is tens of thousands of segment files; the file-stream
source tracks per-file offsets in the checkpoint, scan parallelism is one
task per segment (no shuffle to ingest), and bounded replay prunes files via
the ``file_seq``/``offset`` columns pushed into the parquet scan.

The ``_schemas.json`` sidecar lists the store's distinct TABLE_MAP
descriptors, so readers skip the blob scan; :func:`write_segments` is its
one writer and :func:`read_sidecars` its one reader.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    ByteType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..binlog.decoder import table_map_descs

EVENTS_SCHEMA = StructType(
    [
        StructField("file_seq", IntegerType(), False),
        StructField("offset", LongType(), False),
        StructField("gtid", LongType(), False),
        StructField("event_seq", LongType(), False),
        StructField("event_type", ByteType(), True),
        StructField("event_blob", BinaryType(), False),
    ]
)

SIDECAR = "_schemas.json"


def _sidecar_entries(store_dir: str) -> set[tuple] | None:
    """``store_dir``'s sidecar as ``(database, table, desc)`` entries, or
    None without one.  A v1 entry (a bare desc string) names no table."""
    path = os.path.join(store_dir, SIDECAR)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return {
            (e.get("database"), e.get("table"), e["desc"])
            if isinstance(e, dict)
            else (None, None, e)
            for e in json.load(f)
        }


def _sorted(entries: set[tuple]) -> list[tuple]:
    return sorted(entries, key=lambda e: (e[0] or "", e[1] or "", e[2]))


def read_sidecars(paths: list[str]) -> list[tuple] | None:
    """The union of the sidecar entries of every store directory holding
    one of ``paths``, sorted; None when any of them has no sidecar (the
    caller then scans the blobs for TABLE_MAPs instead)."""
    out: set[tuple] = set()
    for store_dir in {os.path.dirname(p) for p in paths}:
        entries = _sidecar_entries(store_dir)
        if entries is None:
            return None
        out |= entries
    return _sorted(out)


def write_segments(segments, out_dir: str) -> list[str]:
    """Write ``segments`` (a list of ``(file_seq, [(offset, gtid,
    event_seq, blob), ...])``) into the store at ``out_dir``, one
    ``segment-%06d.parquet`` per segment, and return their paths.

    The store is append-only, and so is its sidecar: the existing entries
    plus every TABLE_MAP among the new blobs replace it atomically BEFORE
    any segment file lands, so it covers every segment on disk — a crash
    in between leaves an extra entry, never a missing one."""
    os.makedirs(out_dir, exist_ok=True)
    entries = _sidecar_entries(out_dir) or set()
    seen: set[bytes] = set()
    for _fs, rows in segments:
        entries.update(table_map_descs((r[3] for r in rows), seen))
    tmp = os.path.join(out_dir, SIDECAR + ".tmp")
    with open(tmp, "w") as f:
        json.dump([{"database": d, "table": t, "desc": s} for d, t, s in _sorted(entries)], f)
    os.replace(tmp, os.path.join(out_dir, SIDECAR))

    paths = []
    for file_seq, rows in segments:
        tbl = pa.table(
            {
                "file_seq": pa.array([file_seq] * len(rows), pa.int32()),
                "offset": pa.array([r[0] for r in rows], pa.int64()),
                "gtid": pa.array([r[1] for r in rows], pa.int64()),
                "event_seq": pa.array([r[2] for r in rows], pa.int64()),
                # event type from the header (byte 5 of the framed packet:
                # OK byte + 4B timestamp); a plain column lets readers push
                # event-type predicates into the parquet scan (P3 pushdown)
                "event_type": pa.array([r[3][5] for r in rows], pa.int8()),
                "event_blob": pa.array([r[3] for r in rows], pa.binary()),
            }
        )
        path = os.path.join(out_dir, f"segment-{file_seq:06d}.parquet")
        pq.write_table(tbl, path)
        paths.append(path)
    return paths


def read_segments(spark: SparkSession, path: str) -> DataFrame:
    """Batch read of the whole segment store (bounded replay)."""
    return spark.read.schema(EVENTS_SCHEMA).parquet(path)


def stream_segments(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """Streaming read; one segment file per micro-batch by default —
    the backpressure analogue of the reference's bounded event queue
    (mpsc_queue.zig:57-78 → maxFilesPerTrigger)."""
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)
