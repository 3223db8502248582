"""Structured Streaming source over a :class:`BucketedLakeTable` change feed.

Completes the consumer story for the lake's CDC-out: instead of a manual
``read_changes(from_version=...)`` poll loop (tests drive that form in
``TestChangeFeedConsumerChain``), a downstream pipeline subscribes with
ordinary Structured Streaming and gets watermarks, stateful operators, and
sinks for free::

    from myzql_binlog_connector_spark.streaming.feed import LakeChangesDataSource
    spark.dataSource.register(LakeChangesDataSource)
    feed = (spark.readStream.format("lake_changes")
            .option("path", table_path)
            .option("startingVersion", 1)        # or "latest"
            .option("maxVersionsPerBatch", 10)   # optional rate limit
            .load())

Why manifest versions make ideal streaming offsets: they are monotonic,
durable, and a committed version's delta files are immutable — so replaying
a micro-batch after a crash rereads byte-identical data, which is exactly
Structured Streaming's exactly-once offset contract.  The source is
read-only and writer-independent: it never touches LATEST or the
manifests, and it tolerates a half-finished commit (manifest linked,
pointer not yet swapped) by resolving the head with the lake's read-only
``_head_version``, which rolls the head *view* forward the same way
``BucketedLakeTable._latest_committed`` does, without performing recovery.

Semantics parity with ``BucketedLakeTable.read_changes``: same rows, same
``_commit_version`` column, same ``RetentionOverrunError`` when a resume
would cross the vacuum floor (``allowGaps=true`` opts into flooring, the
Delta CDF ``startingVersion``-style escape hatch).

Scale shape: the driver only lists commits (KB-sized manifest JSON reads
plus one getsize() per delta file); each micro-batch fans Arrow-native
``read()`` tasks sized by a byte budget (``chunkBytes``; the default
adapts to the planned volume so a catch-up drain fills every core — see
``_plan_commits`` for the measured granularity trade-off), and each
task streams its delta-file slice as RecordBatches — no
driver-side row handling, no Python row loop (Spark's Python data source
Arrow path keeps batches columnar end to end).

The reference has no outbound feed (it is a capture tool; sinks at
src/output.zig write stdout/files) — this is beyond-parity surface on the
Spark side of the engine.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import LongType, StructField, StructType

from ..plans.lake import (
    _head_version,
    _load_manifest,
    _retention_floor,
    iter_commit_deltas,
)

COMMIT_VERSION_COL = "_commit_version"


class FeedSchemaChangedError(RuntimeError):
    """A commit in the planned range carries columns the running query's
    pinned schema lacks (ADD COLUMN landed after the query started).

    Structured Streaming pins a source's schema at query start; silently
    projecting newer commits down to it would DROP the added column's
    values from the feed and let a long-running replica diverge from its
    primary without any signal (Delta CDF fails loud here too).  Restart
    the query — schema re-resolves from the head manifest on start, and
    offsets resume from the checkpoint, so no change data is lost."""


@dataclass
class _CommitPartition(InputPartition):
    """A slice of one committed version's delta files = one read task.
    Must stay picklable: plain strings/ints only."""

    version: int
    files: tuple
    schema_json: str


DEFAULT_CHUNK_BYTES = 128 << 20  # spark.sql.files.maxPartitionBytes default

#: smallest adaptive chunk — below this, Python-source task overhead
#: (~25-50 ms each) stops amortizing (the same measurement that ruled out
#: file-granular planning; see _plan_commits)
MIN_CHUNK_BYTES = 8 << 20


def _target_parallelism() -> int:
    """Task-count floor for adaptive chunk sizing.  ``SPARK_GRAFT_CPUS``
    is this repo's documented core-count contract (bench.py masters on
    it); absent that, the local core count — in local mode (where the
    floor matters: small backlogs, one box) it IS the parallelism, and on
    a real cluster the floor is quickly irrelevant because any
    hundreds-of-GB backlog exceeds it at the 128 MB cap anyway."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        try:
            return max(1, int(env))
        except ValueError:
            pass
    return os.cpu_count() or 8


def _plan_commits(
    path: str,
    s: int,
    e: int,
    allow_gaps: bool,
    chunk_bytes: int | None = None,
    query_schema: StructType | None = None,
) -> "list[_CommitPartition]":
    """Size-budgeted partitions over the delta files of each change-data
    commit in versions (s, e] — shared by the streaming and batch readers.

    Granularity is a BYTE BUDGET per task (default = Spark's own
    maxPartitionBytes, 128 MB), measured from both extremes on the 2.95M-row
    bench table: commit-granular capped parallelism at #commits (2c->8c
    drain efficiency 0.19-0.26 — a 4-commit drain can never use 8 cores),
    while file-granular drowned in Python-source task overhead (128 tiny
    tasks, ~4x slower absolute at 2c).  A budget adapts task count to data
    volume: at 100 TB a hundreds-of-GB commit fans out over many tasks, a
    trickle of small commits stays one task each.  The feed has no
    intra-commit ordering contract, so the split is free.  Driver cost is
    one getsize() stat per file in range (same metadata class Delta/
    Iceberg planners pay).  Same retention contract as
    ``read_changes(from_version=s+1)``."""
    if e <= s:
        return []
    s = _retention_floor(path, s + 1, allow_gaps) - 1
    m = _load_manifest(path, e)
    if query_schema is not None:
        # Schema-evolution gate (round-6 ADVICE): lake schema evolution is
        # strictly additive (add/widen; narrowing fails loud at merge), so
        # the END manifest's schema is a superset of every schema in
        # (s, e] — one name comparison against the already-loaded manifest
        # detects any ADD COLUMN in the range with zero extra IO.  Widened
        # types need no gate: _read_commit casts with pyarrow's safe cast,
        # which raises on overflow rather than truncating.
        pinned = {f_.name for f_ in query_schema.fields}
        added = [
            f_["name"]
            for f_ in json.loads(m["schema"])["fields"]
            if f_["name"] not in pinned
        ]
        if added:
            raise FeedSchemaChangedError(
                f"table schema evolved under the running feed: commit(s) "
                f"<= v{e} added column(s) {added} that the query's pinned "
                f"schema lacks.  Restart the streaming query (schema "
                f"re-resolves on start; offsets resume from checkpoint) — "
                f"projecting down would silently drop the new column's "
                f"values from the change feed."
            )
    # shared with read_changes: covers the head manifest's lineage window
    # AND — for a consumer further behind than the window — the older
    # retained versions via their own manifests; skips compaction/
    # rebucket/watermark-only commits (no change data)
    commits = []
    total = 0
    for v, files in iter_commit_deltas(path, s + 1, e, m):
        sized = []
        for f in files:
            try:
                fsz = os.path.getsize(f)
            except OSError:
                fsz = None  # unknown size: isolate it below
            else:
                total += fsz
            sized.append((f, fsz))
        commits.append((v, sized))
    if chunk_bytes is None:
        # Adaptive default (scale-adaptive partitioning): the 128 MB cap
        # is right for a 100 TB backlog, but a multi-commit CATCH-UP drain
        # of a few hundred MB would plan only a handful of partitions and
        # leave most cores idle through the feed read AND every downstream
        # map-side stage (the replica's LWW partial aggregate inherited a
        # 4-partition feed at bench scale — 4 of 32 cores).  Aim for at
        # least ~one chunk per core, floored so Python-source task
        # overhead keeps amortizing; an explicit chunkBytes option still
        # wins unconditionally.
        chunk_bytes = min(
            DEFAULT_CHUNK_BYTES,
            max(MIN_CHUNK_BYTES, total // _target_parallelism()),
        )
    parts: list[_CommitPartition] = []
    for v, sized in commits:
        chunk: list[str] = []
        size = 0
        for f, fsz in sized:
            fs = chunk_bytes if fsz is None else fsz
            if chunk and size + fs > chunk_bytes:
                parts.append(
                    _CommitPartition(
                        version=int(v), files=tuple(chunk),
                        schema_json=m["schema"],
                    )
                )
                chunk, size = [], 0
            chunk.append(f)
            size += fs
        if chunk:
            parts.append(
                _CommitPartition(
                    version=int(v), files=tuple(chunk), schema_json=m["schema"]
                )
            )
    return parts


def _read_commit(partition: _CommitPartition, query_schema: StructType):
    """Stream one commit's delta files as Arrow RecordBatches aligned to
    the query's pinned schema — executor-side, shared by both readers.
    Files committed before an ADD COLUMN lack fields (null-pad); files
    after a widen carry wider physical types (cast) — mirrors
    ``_read_files``' schema-on-read."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql.pandas.types import to_arrow_schema

    target_fields = [
        f_ for f_ in query_schema.fields if f_.name != COMMIT_VERSION_COL
    ]
    target = to_arrow_schema(StructType(target_fields))
    out_schema = target.append(pa.field(COMMIT_VERSION_COL, pa.int64(), False))
    for path in partition.files:
        for batch in pq.ParquetFile(path).iter_batches():
            cols = []
            for f_ in target:
                idx = batch.schema.get_field_index(f_.name)
                if idx < 0:
                    cols.append(pa.nulls(batch.num_rows, f_.type))
                else:
                    col = batch.column(idx)
                    cols.append(
                        col if col.type == f_.type else col.cast(f_.type)
                    )
            cols.append(
                pa.array(
                    np.full(batch.num_rows, partition.version, dtype=np.int64)
                )
            )
            yield pa.RecordBatch.from_arrays(cols, schema=out_schema)


class LakeChangesDataSource(DataSource):
    """``format("lake_changes")`` — see module docstring.

    Options: ``path`` (required, table root), ``startingVersion``
    (int, default 1, or ``latest``), ``maxVersionsPerBatch`` (int rate
    limit on commits per micro-batch), ``allowGaps`` (bool, default
    false), ``chunkBytes`` (per-task byte budget for delta-file reads;
    default adapts to the planned volume — see ``_plan_commits``)."""

    @classmethod
    def name(cls) -> str:
        return "lake_changes"

    def _table_schema(self) -> StructType:
        path = self.options.get("path")
        if not path:
            raise ValueError("lake_changes requires option 'path'")
        head = _head_version(path)
        if head == 0:
            raise FileNotFoundError(
                f"no committed manifest under {path!r} — create the table "
                f"(first merge) before subscribing to its change feed"
            )
        return StructType.fromJson(
            json.loads(_load_manifest(path, head)["schema"])
        )

    def schema(self) -> StructType:
        # feed rows = stored schema (payload + META_COLS; _deleted marks
        # tombstones) + the commit version, exactly like read_changes().
        # Fields are forced nullable: pre-evolution files null-pad added
        # columns (and manifests written before the lake stored added
        # columns as nullable may still carry a non-nullable flag).
        return StructType(
            [
                type(f_)(f_.name, f_.dataType, True)
                for f_ in self._table_schema().fields
            ]
            + [StructField(COMMIT_VERSION_COL, LongType(), False)]
        )

    def streamReader(self, schema: StructType) -> "LakeChangesStreamReader":
        return LakeChangesStreamReader(dict(self.options), schema)

    def reader(self, schema: StructType) -> "LakeChangesBatchReader":
        return LakeChangesBatchReader(dict(self.options), schema)


class LakeChangesStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict, schema: StructType):
        self.path = options["path"]
        self.schema = schema
        self.starting = str(options.get("startingversion", "1")).lower()
        self.allow_gaps = (
            str(options.get("allowgaps", "false")).lower() == "true"
        )
        mvb = options.get("maxversionsperbatch")
        self.max_versions = int(mvb) if mvb else None
        cb = options.get("chunkbytes")
        self.chunk_bytes = int(cb) if cb else None  # None: adaptive
        # driver-side rate-limit floor: the end of the last planned batch.
        # Seeding (measured against Spark 4.1's call order, which invokes
        # latestOffset BEFORE initialOffset on a fresh query): a fresh
        # query seeds from initialOffset inside latestOffset — correct,
        # there is no WAL yet; a checkpoint restart replays the last WAL
        # batch through partitions(start, end) before asking for a new
        # latestOffset, which snaps the floor to the true committed
        # position — so a capped latestOffset can never fall below the
        # WAL and move offsets backward.
        self._last_end: int | None = None

    # ---- offsets --------------------------------------------------------

    def initialOffset(self) -> dict:
        if self.starting == "latest":
            v = _head_version(self.path)
        else:
            v = int(self.starting) - 1
        self._last_end = max(self._last_end or 0, v)
        return {"version": v}

    def latestOffset(self) -> dict:
        if self._last_end is None:
            self._last_end = self.initialOffset()["version"]
        head = _head_version(self.path)
        if self.max_versions is not None:
            head = min(head, self._last_end + self.max_versions)
        head = max(head, self._last_end)  # offsets never move backward
        self._last_end = head
        return {"version": head}

    # ---- planning (driver) ----------------------------------------------

    def partitions(self, start: dict, end: dict):
        s, e = int(start["version"]), int(end["version"])
        # snap the rate-limit floor to the engine's own position — on a
        # checkpoint restart this replay runs before any latestOffset
        self._last_end = max(self._last_end or 0, s, e)
        return _plan_commits(
            self.path, s, e, self.allow_gaps, chunk_bytes=self.chunk_bytes,
            query_schema=self.schema,
        )

    # ---- reading (executors, Arrow-native) ------------------------------

    def read(self, partition: _CommitPartition):
        if partition is not None:  # None = engine's empty-plan sentinel
            yield from _read_commit(partition, self.schema)

    def commit(self, end: dict) -> None:
        pass  # offsets are durable manifest versions; nothing to ack


class LakeChangesBatchReader(DataSourceReader):
    """``spark.read.format("lake_changes")`` — the one-shot form of the
    feed (Delta CDF ``table_changes`` analogue): versions
    ``[startingVersion, endingVersion]`` as a batch DataFrame, same rows
    and retention semantics as the stream and ``read_changes``."""

    def __init__(self, options: dict, schema: StructType):
        self.path = options["path"]
        self.schema = schema
        self.starting = int(options.get("startingversion", 1))
        ev = options.get("endingversion")
        self.ending = int(ev) if ev else None
        self.allow_gaps = (
            str(options.get("allowgaps", "false")).lower() == "true"
        )
        cb = options.get("chunkbytes")
        self.chunk_bytes = int(cb) if cb else None  # None: adaptive

    def partitions(self):
        end = self.ending if self.ending is not None else _head_version(self.path)
        # same gate as the stream: a batch read pins its schema at load()
        # time, so an endingVersion past an ADD COLUMN (or a commit racing
        # between schema resolution and planning) must fail loud, not
        # project the new column away
        return _plan_commits(
            self.path, self.starting - 1, end, self.allow_gaps,
            chunk_bytes=self.chunk_bytes, query_schema=self.schema,
        )

    def read(self, partition: _CommitPartition):
        # an empty partitions() list makes Spark call read(None) once —
        # a version range holding no change-data commits is an empty
        # DataFrame, not an error
        if partition is not None:
            yield from _read_commit(partition, self.schema)
