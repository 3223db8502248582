"""BucketedLakeTable — the engine's merge-capable table format.

The reference only *logs* changes to parquet; the north rule requires
*applying* them (MERGE/upsert keyed on (conv_id, turn_idx)) into an Iceberg
table.  This sandbox has no Iceberg runtime jar, so the engine ships a
self-contained hash-bucketed parquet table with atomic manifest commits that
exposes the same contract (`merge`, schema evolution, snapshot isolation,
per-commit lineage/metrics, watermarks).  On a real cluster the
:class:`IcebergApplier` in ``plans/iceberg.py`` swaps in `MERGE INTO` with no
change to the pipeline.

Design for 100 TB:

  * **Hash-bucket layout** — bucket K holds the rows whose
    ``pmod(hash(key), n_buckets)`` is K, and the manifest lists every
    bucket's files.  A table's first commit, a big write and a fold land
    each bucket's rows in ``_bucket=K/`` under a writer-unique
    ``data/v{N}…-{uuid}/`` dir.  A small merge into a committed table
    writes its delta as one *shared* file in that dir instead, sorted by
    a ``_bucket`` data column and listed under every bucket it dirtied.
    So bucket K's rows are the rows of its files with ``_bucket = K``,
    and every reader of a shared file filters it to the buckets that
    list it.  A merge touches only the buckets that contain changed keys;
    untouched buckets are carried forward by manifest reference — zero
    read/write amplification on cold data.
  * **Tombstoned LWW, merge-on-read** — every row carries
    ``(_gtid, _event_seq, _event_row_index, _deleted)``.  A merge *appends*
    the (batch-reduced) change rows as new files in their buckets — write
    cost is O(batch), never O(bucket) — and readers resolve last-writer-wins
    per key over the union of a bucket's files.  When a bucket holds
    more than ``max_files_per_bucket`` files on top of its *base*, the
    merge commit folds those files into one (local compaction) so read
    amplification stays bounded.  Folding is size-tiered, after O'Neil et
    al.'s LSM-tree: a bucket's oldest file is its base while the files
    after it hold less than ``BASE_FRAC`` of its bytes, and a fold leaves
    the base alone and rewrites only the deltas; once they outgrow that
    share the bucket folds whole, into one file.  A single-file bucket
    reads with no LWW aggregate; a keyed read of small multi-file buckets
    runs it in one task, with no shuffle.  DELETEs persist as
    tombstones, which makes the merge **idempotent and commutative under
    redelivery**: replaying an old micro-batch cannot resurrect a deleted
    row because the tombstone still outranks it.  Tombstones older than the
    low watermark are dropped at compaction.
  * **Atomic commits** — a commit writes new data files, then a new
    manifest, then atomically swaps the ``LATEST`` pointer (os.replace).
    Readers resolve ``LATEST`` once and read an immutable snapshot.
  * **Exactly-once** — the manifest stores per-file_seq binlog watermarks
    written in the same commit as the data (transactional with it);
    ``merge`` drops change rows at-or-below the watermarks of the manifest
    it commits on, so a redelivered batch is a no-op (cf. SURVEY.md §2.6
    T5/T6).
"""

from __future__ import annotations

import datetime
import functools
import json
import os
import re
import time
import uuid
from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    NumericType,
    StructField,
    StructType,
    TimestampType,
)

from ..operators.dedup import lww_dedup, quote_ident

MANIFEST_DIR = "_manifests"
LATEST = "LATEST"
META_COLS = ("_gtid", "_event_seq", "_event_row_index", "_deleted")
# a change row's binlog position: merge gates on it and advances the
# watermarks with it, and never stores it
TRANSPORT_COLS = ("_file_seq", "_log_pos")
# the gate's per-file_seq watermark map
_WM_SCHEMA = StructType(
    [
        StructField("wm_file_seq", IntegerType()),
        StructField("wm_log_pos", LongType()),
        StructField("wm_eri", LongType()),
    ]
)
# the LWW order: per key the change with the highest tuple wins
ORDER_COLS = ("_gtid", "_event_seq", "_event_row_index")
# a bucket's oldest file is its base while the files after it hold less
# than this share of its bytes: the inline fold leaves a base in place and
# rewrites only the files above it
BASE_FRAC = 0.5
# hot merge-on-read table: snappy (Delta's default) — decode speed dominates
# read cost and merge wall-time beats ~1.5x file size on a CDC-applied table
# that compaction rewrites anyway.  Set on every write, so a session-wide
# parquet codec (bench.py runs zstd) never leaks into lake files.
CODEC = "snappy"

# permitted type widenings, as ``simpleString()`` ladders: a value of an
# earlier type is exactly representable in any later one
_LADDERS = (("tinyint", "smallint", "int", "bigint"), ("float", "double"))


def _widened(old: str, new: str) -> str | None:
    """The one type-widening rule (lake merge, struct union of a batch's
    descriptors, Iceberg ``evolve``): the wider of two ``simpleString()``
    types, or ``None`` when neither holds the other.  Integers widen along
    tinyint < smallint < int < bigint, float widens to double, and
    decimal(P,S) to decimal(P',S) in either precision direction with the
    same scale (Iceberg's permitted decimal evolution); a scale change
    stays incompatible.  An incoming type narrower than the stored one
    keeps the stored type."""
    if old == new:
        return old
    for ladder in _LADDERS:
        if old in ladder and new in ladder:
            return max(old, new, key=ladder.index)
    mo = re.fullmatch(r"decimal\((\d+),(\d+)\)", old)
    mn = re.fullmatch(r"decimal\((\d+),(\d+)\)", new)
    if mo and mn and mo.group(2) == mn.group(2):
        return old if int(mo.group(1)) >= int(mn.group(1)) else new
    return None


def _footer_stats(path: str, cols: list[str]) -> dict:
    """Per-file min/max for ``cols`` straight from the parquet footer — a
    KB-sized metadata read, never a data scan (the Iceberg manifest-stats /
    Delta file-stats pattern).  Returns ``{col: [min, max]}`` restricted to
    JSON-serializable primitive stats; a column without sound footer stats
    is simply omitted, which readers treat as "file may match anything"
    (safe over-read, never a wrong prune)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    out: dict = {}
    if md.num_row_groups == 0:
        return out
    idx = {
        md.row_group(0).column(j).path_in_schema: j
        for j in range(md.row_group(0).num_columns)
    }
    for c in cols:
        j = idx.get(c)
        if j is None:
            continue
        lo = hi = None
        ok = True
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(j).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            mn, mx = st.min, st.max
            if isinstance(mn, bool) or not isinstance(mn, (int, float, str)):
                ok = False
                break
            lo = mn if lo is None or mn < lo else lo
            hi = mx if hi is None or mx > hi else hi
        if ok and lo is not None:
            out[c] = [lo, hi]
    return out


def _sql_literal(v) -> str:
    """The SQL text of ``F.lit(v)``: the same value, parsed in one call.

    Key lookups, their bucket-id probe and :func:`local_relation` build
    their literals here, so each of their expressions costs one py4j
    round trip, where a ``Column`` chain costs one per column, literal
    and operator.  A float is a ``CAST`` of its ``repr`` (which also
    spells NaN and ±Infinity): a bare ``1.5`` parses as DECIMAL(2,1).  A
    string is its UTF-8 bytes as a hex literal cast to STRING, so quotes,
    backslashes, backticks and newlines need no escaping.  A Decimal is
    an exact ``BD`` literal in positional notation (``1E+3`` would parse
    as a DOUBLE).  A datetime is its epoch microseconds as pyspark's
    converter computes them for ``F.lit`` (``TimestampType.toInternal``:
    a naive one is local wall time of this process)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):  # before int: bool is an int subclass
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return f"CAST('{v!r}' AS DOUBLE)"
    if isinstance(v, str):
        return f"CAST(X'{v.encode('utf-8').hex()}' AS STRING)"
    if isinstance(v, (bytes, bytearray)):
        return f"X'{bytes(v).hex()}'"
    if isinstance(v, Decimal):
        return f"{v:f}BD"
    if isinstance(v, datetime.datetime):  # before date: a datetime is a date
        return f"TIMESTAMP_MICROS({TimestampType().toInternal(v)})"
    if isinstance(v, datetime.date):
        return f"DATE'{v.isoformat()}'"
    raise TypeError(f"no SQL literal for {type(v).__name__} {v!r}")


def _values_sql(schema: StructType, rows: list[tuple]) -> str:
    """``rows`` (non-empty) as an inline table, ``VALUES ... AS
    _local(<names>)``, every cell ``CAST(<literal> AS <field type>)``."""
    types = [f.dataType.simpleString() for f in schema.fields]

    def cells(row) -> str:
        return ", ".join(f"CAST({_sql_literal(v)} AS {t})" for t, v in zip(types, row))

    tuples = ", ".join(f"({cells(row)})" for row in rows)
    names = ", ".join(quote_ident(f.name) for f in schema.fields)
    return f"VALUES {tuples} AS _local({names})"


def local_relation(
    spark: SparkSession, schema: StructType, rows: list[tuple]
) -> DataFrame:
    """``rows`` (non-empty) as a driver-local relation: an inline
    ``VALUES`` table whose cells are ``CAST(value AS <field type>)``.
    Catalyst folds it into a ``LocalRelation``, so a projection over it
    plans as a ``LocalTableScan`` and collects with no Spark job, and a
    broadcast of it ships without one.  ``createDataFrame`` over a Python
    list parallelizes an RDD instead and pays a job per use.

    Every cell is SQL text (:func:`_sql_literal`), the value of
    ``F.lit(v).cast(type)``, and the whole table parses in one call.
    Values are not bound as parameter markers: each bound parameter is a
    py4j round trip, and a 1,000-row map of three ints binds in ~1.9 s
    but inlines in ~0.08 s (4-core VM, ``local[2]``)."""
    return spark.sql(f"SELECT * FROM {_values_sql(schema, rows)}")


def gate_redelivered(changes: DataFrame, wm: DataFrame) -> DataFrame:
    """The exactly-once redelivery gate (T5/T6) both backends share: drop
    change rows at-or-below their file's stored watermark.  ``wm`` is the
    small per-file_seq map ``(wm_file_seq, wm_log_pos, wm_eri)``; it is
    broadcast, and a file with no watermark keeps all its rows."""
    joined = changes.join(
        F.broadcast(wm), changes["_file_seq"] == wm["wm_file_seq"], "left"
    )
    keep = (
        F.col("wm_log_pos").isNull()
        | (F.col("_log_pos") > F.col("wm_log_pos"))
        | (
            (F.col("_log_pos") == F.col("wm_log_pos"))
            & (F.col("_event_row_index") > F.col("wm_eri"))
        )
    )
    return joined.filter(keep).drop("wm_file_seq", "wm_log_pos", "wm_eri")


def _manifest_path(table_path: str, version: int) -> str:
    return os.path.join(table_path, MANIFEST_DIR, f"v{version}.json")


def _load_manifest(table_path: str, version: int) -> dict:
    with open(_manifest_path(table_path, version)) as f:
        return json.load(f)


def _latest_pointer(table_path: str) -> int:
    """The ``LATEST`` pointer; 0 when none was ever published."""
    try:
        with open(os.path.join(table_path, MANIFEST_DIR, LATEST)) as f:
            return int(f.read().strip())
    except FileNotFoundError:
        return 0


def _head_version(table_path: str, pointer: int | None = None) -> int:
    """The newest committed version, read-only: ``pointer`` (default the
    ``LATEST`` pointer) rolled forward past every manifest a crashed
    writer linked but never published.  0 = no committed version.  Never
    performs recovery, so the change-feed readers stay writer-independent;
    :meth:`BucketedLakeTable._latest_committed` finishes the commit."""
    head = _latest_pointer(table_path) if pointer is None else pointer
    while os.path.exists(_manifest_path(table_path, head + 1)):
        head += 1
    return head


def _manifest_versions(table_path: str) -> list[int]:
    """Every retained manifest version, ascending."""
    try:
        names = os.listdir(os.path.join(table_path, MANIFEST_DIR))
    except FileNotFoundError:
        return []
    return sorted(
        int(mm.group(1))
        for mm in (re.fullmatch(r"v(\d+)\.json", n) for n in names)
        if mm
    )


def _retention_floor(
    table_path: str,
    from_version: int,
    allow_gaps: bool = False,
    need: int | None = None,
) -> int:
    """The first version a change feed from ``from_version`` reads, after
    the one retention check every feed reader makes: when version ``need``
    (default ``from_version``) precedes the oldest retained manifest,
    vacuum has expired part of the feed, and a silent gap would corrupt
    every incremental consumer (Delta CDF / Iceberg changelog raise here
    too) — so raise, unless ``allow_gaps`` floors the feed at the oldest
    retained version instead."""
    oldest = min(_manifest_versions(table_path), default=from_version)
    need = from_version if need is None else need
    if need < oldest and not allow_gaps:
        gap = (
            f"needs the prior state at version {need}, which precedes"
            if need < from_version
            else "precedes"
        )
        raise RetentionOverrunError(
            f"change feed from_version={from_version} {gap} the oldest "
            f"retained version {oldest} (vacuumed): the feed would be "
            f"gapped.  Re-bootstrap the consumer from a snapshot, or allow "
            f"gaps (read_changes(allow_gaps=True), lake_changes option "
            f"allowGaps=true) to accept a feed starting at {oldest}."
        )
    return max(from_version, oldest)


def _bucket_sql(bucket_cols: list[str], n_buckets: int) -> str:
    """The bucket function: ``pmod(hash(bucket_cols), n_buckets)``."""
    return f"pmod(hash({', '.join(map(quote_ident, bucket_cols))}), {int(n_buckets)})"


def _bucket_expr(bucket_cols: list[str], n_buckets: int):
    return F.expr(_bucket_sql(bucket_cols, n_buckets))


def _shared(path: str) -> bool:
    """Whether ``path`` is a shared delta file (one small merge's rows of
    every bucket it dirtied, in a ``_bucket`` data column): its dir is not
    a ``_bucket=K`` partition."""
    return not os.path.basename(os.path.dirname(path)).startswith("_bucket=")


def _bucket_shares(path: str, counts: dict, n_rows: int) -> dict:
    """``{str(bucket): bytes}`` of a shared file: the bytes each bucket's
    rows would take as a file of their own, which is what a per-bucket
    file's size measures.  That is the file's footer, plus the rest of
    its bytes apportioned by the rows each bucket received (``counts``,
    ``{bucket: rows}`` of ``n_rows``)."""
    import pyarrow.parquet as pq

    size = os.path.getsize(path)
    footer = pq.ParquetFile(path).metadata.serialized_size
    return {str(b): footer + (size - footer) * c // n_rows for b, c in counts.items()}


def _has_base(files: list[str], bucket: str, bucket_bytes: dict) -> bool:
    """Whether a bucket's oldest file is its base: the files after it
    hold less than ``BASE_FRAC`` of its bytes.  A shared file counts the
    bytes recorded for the bucket when it was written (``bucket_bytes``,
    ``{path: {bucket: bytes}}``, see :func:`_bucket_shares`), not its
    whole size."""
    sizes = [
        bucket_bytes[p][bucket] if p in bucket_bytes else os.path.getsize(p)
        for p in files
    ]
    return bool(sizes) and sum(sizes[1:]) < BASE_FRAC * sizes[0]


def iter_commit_deltas(
    table_path: str, lo: int, hi: int, head_manifest: dict
) -> list[tuple[int, list[str]]]:
    """``[(version, delta_files), ...]`` for change-data commits in
    ``[lo, hi]`` — the shared planning step of the change feed (batch
    ``read_changes`` and the ``lake_changes`` streaming source).

    The head manifest's lineage covers only its trailing window (commits
    older than that are trimmed to bound manifest size), but every
    retained VERSION still has its own manifest whose lineage tail is its
    own commit record — so a consumer further behind than the lineage
    window is served from per-version manifests (one KB-sized JSON read
    per missing version) instead of silently losing the older commits.
    Compaction / rebucket / watermark-only commits move no change data and
    are skipped."""
    covered: dict[int, list[str]] = {}
    for rec in head_manifest.get("lineage", []):
        v = rec.get("version")
        files = rec.get("delta_files")
        if files and lo <= v <= hi and not rec.get("compaction"):
            covered[int(v)] = files
    seen = {
        rec.get("version")
        for rec in head_manifest.get("lineage", [])
        if rec.get("version") is not None
    }
    window_floor = min(seen, default=lo)
    for v in range(lo, min(hi, window_floor - 1) + 1):
        # below the head's lineage window: ask the version's own manifest
        try:
            mv = _load_manifest(table_path, v)
        except FileNotFoundError:
            continue  # vacuumed: caller's retention check already ruled
        lineage = mv.get("lineage") or []
        rec = lineage[-1] if lineage else {}
        files = rec.get("delta_files")
        if rec.get("version") == v and files and not rec.get("compaction"):
            covered[v] = files
    return sorted(covered.items())


def _zorder_expr(cols: list[str], bounds: dict, bits: int = 16):
    """Interleaved-bit Z-value over numeric columns — pure Column algebra
    (shiftleft/bitwise ops, whole-stage-codegen'd), no UDF.

    Each column is normalized to ``bits`` bits against its global
    [min, max] over the data being rewritten (``bounds``), then the bit
    planes are interleaved so sorting by the result clusters rows along a
    space-filling curve: row-group min/max stay tight for EVERY z-ordered
    column at once, where a linear sort tightens only its leading column
    (Delta ``OPTIMIZE ZORDER BY``).  NULLs normalize to 0 (sort first —
    any constant corner of the curve keeps them co-located)."""
    # Per-column width cap (round-6 ADVICE): interleave positions reach
    # bits*n - 1; position 63 is the long's sign bit (half the rows would
    # sort as negative) and shifts >= 64 wrap mod 64 in the JVM, scrambling
    # the curve entirely for 4+ columns.  Shrinking the width keeps every
    # position in [0, 62] — resolution per column drops, ordering survives.
    bits = min(bits, 63 // max(1, len(cols)))
    norms = []
    for c in cols:
        lo, hi = bounds[c]
        rng = float(hi - lo) or 1.0
        scaled = (
            (F.col(c).cast("double") - F.lit(float(lo))) / F.lit(rng)
        ) * F.lit(float((1 << bits) - 1))
        norms.append(
            F.coalesce(
                F.least(
                    F.lit((1 << bits) - 1),
                    F.greatest(F.lit(0), scaled.cast("long")),
                ),
                F.lit(0),
            )
        )
    z = F.lit(0)
    n = len(cols)
    for b in range(bits):
        for i, norm in enumerate(norms):
            bit = F.shiftright(norm, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * n + i))
    return z


class RetentionOverrunError(ValueError):
    """A change-feed consumer asked for versions that vacuum has expired —
    resuming would silently gap the feed (Delta CDF / Iceberg changelog
    raise in the same situation)."""


class ConcurrentWriteError(RuntimeError):
    """Two writers raced to commit the same table version.  The table is a
    single-writer design (one applier per table, like one binlog applier
    per replica); this guard turns an accidental second writer from silent
    interleaved LATEST swaps into a clean failure — the loser's data files
    stay orphaned (invisible to readers) until vacuum."""


class DescriptorMiss(RuntimeError):
    """A typed batch decoded against a given descriptor set met a TABLE_MAP
    outside it: the decoder emitted a marker row (negative ``_file_seq``)
    where it would have typed rows with names and kinds planned for other
    schemas.  :meth:`BucketedLakeTable.merge` raises it from its stats
    pass, before any write or commit; the applier then rescans the batch's
    descriptors and applies it again."""


class BucketedLakeTable:
    """``n_buckets`` sizing: aim for ~0.5–2 GB of live data per bucket, so a
    100 TB table wants tens of thousands of buckets; the sandbox default is
    small only because test tables are.  ``max_files_per_bucket`` bounds
    merge-on-read amplification: a bucket is folded (locally compacted)
    inside the merge commit once it holds more than this many files on top
    of its base (see ``BASE_FRAC``), so it holds at most
    ``max_files_per_bucket + 1`` files."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: list[str],
        n_buckets: int = 64,
        max_files_per_bucket: int = 8,
        hot_bucket_split_rows: int = 1 << 18,
        auto_fold: bool = True,
        stats_cols: list[str] | None = None,
        lineage_keep: int = 200,
        bucket_cols: list[str] | None = None,
    ):
        self.spark = spark
        self.path = path
        self.key_cols = list(key_cols)
        # bucket_cols: the subset of key columns the bucket hash uses
        # (default: all of them).  Bucketing on a prefix — e.g.
        # bucket_cols=["conv_id"] for a (conv_id, turn_idx) key — co-locates
        # every row of a group in ONE bucket, so group-scoped reads
        # (read(keys=[{"conv_id": ...}])) prune to that bucket the way point
        # lookups do, at the cost of coarser write skew (the hot-bucket
        # salt-split guards that).  LWW identity stays the FULL key; this
        # only changes row placement.  Layout-authoritative like n_buckets:
        # the committed manifest wins over the handle (_sync_layout).
        self.bucket_cols = self._checked_bucket_cols(bucket_cols) or self.key_cols
        self.n_buckets = n_buckets
        self.max_files_per_bucket = max_files_per_bucket
        # a bucket whose batch row count exceeds BOTH 3x the dirty-bucket
        # mean and this floor is "hot": its write is salt-split across
        # multiple tasks (files still land in the one _bucket=b directory)
        # and the hot set is recorded in lineage.  Guards the one skew the
        # pmod(hash(keys)) layout can't dodge: value skew concentrating a
        # batch in few buckets (e.g. a single-column key with a viral key,
        # or unlucky hash clustering).
        self.hot_bucket_split_rows = hot_bucket_split_rows
        # auto_fold=False defers the inline fold (the one O(bucket-history)
        # step a merge can take — the round-6 endurance run measured it at
        # ~8x a normal batch when every bucket crosses the threshold at
        # once) to an out-of-band maintenance pass: run
        # ``compact(needs_fold())`` on the operator's schedule, the Delta
        # OPTIMIZE pattern.  Reads stay correct regardless — they resolve
        # LWW across however many files a bucket has — only read
        # amplification grows until compaction runs.
        self.auto_fold = auto_fold
        # stats_cols: column names whose per-file min/max are recorded in
        # the manifest at commit time (parquet-footer read, no data scan)
        # and consulted by read(ranges=...) to skip buckets whose files
        # can't match — Delta/Iceberg data skipping.  Default off: a table
        # nobody range-queries shouldn't pay even the footer reads.
        self.stats_cols = list(stats_cols) if stats_cols else None
        # lineage window kept in each manifest (bounds manifest size; the
        # change feed serves versions below the window from per-version
        # manifests, see iter_commit_deltas)
        self.lineage_keep = lineage_keep

    def _checked_bucket_cols(self, bucket_cols: list[str] | None) -> list[str] | None:
        """``bucket_cols`` as a list, checked to be a non-empty subset of
        the key columns (``None`` passes through)."""
        if bucket_cols is None:
            return None
        bucket_cols = list(bucket_cols)
        if not bucket_cols or not set(bucket_cols) <= set(self.key_cols):
            raise ValueError(
                f"bucket_cols {bucket_cols} must be a non-empty subset "
                f"of key_cols {self.key_cols}"
            )
        return bucket_cols

    # ------------------------------------------------------------------
    # manifest plumbing
    # ------------------------------------------------------------------

    def _mdir(self) -> str:
        return os.path.join(self.path, MANIFEST_DIR)

    def exists(self) -> bool:
        return self._latest_committed() is not None

    def _latest_committed(self) -> int | None:
        """Resolve the newest committed version, rolling forward any
        commit a crash left half-finished.

        The ``os.link`` of ``v{N}.json`` in :meth:`_commit` IS the commit
        point; the ``LATEST`` swap afterwards is only a pointer move.  A
        crash between the two (or before the very first swap) leaves a
        fully-committed manifest the pointer doesn't reach — readers would
        silently serve version N-1, and the restarted writer would be
        permanently wedged: every retry recomputes version N and hits the
        CAS with no live competitor.  Recovery is roll-forward, never
        roll-back: finish the orphaned commit (append its lineage record
        if the crash lost it, swap ``LATEST``) and return N.
        """
        latest = _latest_pointer(self.path)
        head = _head_version(self.path, latest)
        if head != latest:
            self._publish(self._read_manifest(head))
        return head or None

    def _publish(self, manifest: dict) -> None:
        """Make a linked manifest the head: append its lineage record to
        the durable metrics log, then swap ``LATEST`` to its version.  The
        commit path and crash recovery both end here.  Idempotent: racing
        recoveries swap to the same version and the metrics append is
        version-guarded."""
        lineage = manifest.get("lineage") or []
        if lineage:
            self._append_metrics(lineage[-1])
        tmp = os.path.join(self._mdir(), f".latest.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            f.write(str(manifest["version"]))
        os.replace(tmp, os.path.join(self._mdir(), LATEST))  # atomic swap

    def _append_metrics(self, record: dict) -> None:
        """Append one lineage record to the durable metrics log unless a
        record for the same version is already the tail.  Both the normal
        commit path and crash recovery call this, and watermark-only
        commits reuse the previous batch's lineage tail — the guard keeps
        metrics.jsonl at exactly one line per producing commit."""
        import fcntl

        path = os.path.join(self._mdir(), "metrics.jsonl")
        # O_APPEND plus an advisory lock serializes the tail-check-then-
        # append: a crash-recovery _publish racing the committing
        # writer for the same version could otherwise interleave the check
        # and both append (round-6 ADVICE), double-counting in metrics().
        # Driver-side, one lock per commit — negligible at any scale.
        # buffering=0: the append must reach the file BEFORE the lock is
        # released — a buffered write would flush at close(), after the
        # finally-unlock, letting the next locker read a stale tail and
        # append a duplicate anyway
        with open(path, "a+b", buffering=0) as f:
            try:
                fcntl.flock(f, fcntl.LOCK_EX)
            except OSError:
                pass  # no flock on this FS: keep the unserialized behavior
            try:
                size = f.seek(0, os.SEEK_END)
                f.seek(max(0, size - 65536))
                tail = f.read().splitlines()
                if tail:
                    try:
                        if (
                            json.loads(tail[-1]).get("version")
                            == record.get("version")
                        ):
                            return
                    except json.JSONDecodeError:
                        pass
                f.write((json.dumps(record) + "\n").encode())
            finally:
                try:
                    fcntl.flock(f, fcntl.LOCK_UN)
                except OSError:
                    pass

    def _read_manifest(self, version: int | None = None) -> dict:
        if version is None:
            version = self._latest_committed()
            if version is None:
                raise FileNotFoundError(
                    f"no committed manifest at {self._mdir()}"
                )
        try:
            return _load_manifest(self.path, version)
        except FileNotFoundError:
            raise ValueError(
                f"no manifest v{version} at {self._mdir()} "
                f"(available: {self.versions()})"
            ) from None

    def versions(self) -> list[int]:
        """Committed snapshot versions available for time travel."""
        return _manifest_versions(self.path)

    def _commit(self, manifest: dict):
        os.makedirs(self._mdir(), exist_ok=True)
        version = manifest["version"]
        mpath = _manifest_path(self.path, version)
        # exclusive-create CAS: write the manifest to a temp name, then
        # os.link it into place — link() fails with EEXIST if another
        # writer already committed this version, and (unlike open('x') +
        # write) a manifest only ever APPEARS complete.  This is the
        # commit lock: two racing writers both compute version = latest+1;
        # exactly one link wins, the loser raises ConcurrentWriteError
        # before touching LATEST.
        mtmp = os.path.join(self._mdir(), f".manifest.{uuid.uuid4().hex}")
        with open(mtmp, "w") as f:
            json.dump(manifest, f, indent=1)
        try:
            os.link(mtmp, mpath)
        except FileExistsError:
            raise ConcurrentWriteError(
                f"version {version} already committed at {self._mdir()} — "
                f"another writer won the race.  This table is single-writer; "
                f"re-read LATEST and retry (or stop the second applier)."
            ) from None
        finally:
            os.remove(mtmp)
        # the metrics append (A2: per-micro-batch lineage/metrics rows,
        # queryable via :meth:`metrics`) and the LATEST swap; a crash
        # anywhere after the link above is finished by roll-forward
        # recovery in _latest_committed(), through the same step
        self._publish(manifest)

    def metrics(self) -> "DataFrame":
        """Durable per-commit lineage/metrics as a DataFrame (one row per
        commit: rows, buckets, bytes, wall_ms, watermarks, evolution)."""
        path = os.path.join(self._mdir(), "metrics.jsonl")
        return self.spark.read.json(path)

    # ------------------------------------------------------------------
    # read paths
    # ------------------------------------------------------------------

    def snapshot_manifest(self) -> dict | None:
        return self._read_manifest() if self.exists() else None

    def _read_files(self, files: list[str], schema_json: str) -> DataFrame:
        schema = StructType.fromJson(json.loads(schema_json))
        if not files:
            return self.spark.createDataFrame([], schema)
        # read with the EXPLICIT current schema: a bucket holds files from
        # several commits whose physical schemas may differ (merge-on-read +
        # evolution); schema-on-read null-pads missing columns and promotes
        # narrower numerics per file — plain spark.read.parquet would pin one
        # file's schema and silently drop newer columns
        return self.spark.read.schema(schema).parquet(*files)

    def _scan(self, bucket_files: dict, schema_json: str) -> tuple[DataFrame, list[str]]:
        """The rows of the buckets in ``bucket_files`` (``{bucket:
        files}``) and the distinct paths they come from.  Each path is
        read once.  A shared file is filtered to the buckets that list it
        here: its other rows belong to buckets that are not being read,
        or that folded it away, and those may be stale (a folded bucket
        may since have dropped a key's tombstone).

        Shared files listed under the same buckets share one scan, and
        the per-bucket files join the first of them: they have no
        ``_bucket`` column, so it reads NULL there and passes the filter.
        The usual part is thus one scan, not a union of two.  The bucket
        ids are an array literal, which codegen passes by reference: an
        ``IN`` list inlines them, so each new set of ids compiled a new
        class: about 5 ms of a 75 ms 3-key lookup on a 16-bucket table
        (4-core host, ``local[2]``)."""
        plain, shared = {}, {}
        for b, fl in bucket_files.items():
            for p in fl:
                if _shared(p):
                    shared.setdefault(p, []).append(int(b))
                else:
                    plain[p] = None
        paths = [*plain, *shared]
        if not shared:
            return self._read_files(paths, schema_json), paths
        groups: dict = {}  # the buckets a shared file is read for -> files
        for p, bs in shared.items():
            groups.setdefault(tuple(sorted(bs)), []).append(p)
        schema = StructType.fromJson(json.loads(schema_json)).add("_bucket", IntegerType())
        files = list(plain)
        parts = []
        for bs, group in groups.items():
            ids = ", ".join(map(str, bs))
            parts.append(
                self.spark.read.schema(schema)
                .parquet(*files, *group)
                .filter(f"_bucket IS NULL OR array_contains(array({ids}), _bucket)")
                .drop("_bucket")
            )
            files = []
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df, paths

    def _collect_stats(self, paths: list[str]) -> dict:
        """{path: {col: [min, max]}} of ``stats_cols`` from parquet footers
        ({} on a table without ``stats_cols``).  Driver-side for small
        commits; distributed over executors past 64 files (footers live on
        shared storage on a real cluster, so executors read them as well
        as the driver does — and a 100 TB commit can touch tens of
        thousands of buckets, too many for a driver loop)."""
        if not self.stats_cols:
            return {}
        cols = list(self.stats_cols)
        if len(paths) > 64:
            sc = self.spark.sparkContext
            return dict(
                sc.parallelize(sorted(paths), max(1, len(paths) // 32))
                .map(lambda p: (p, _footer_stats(p, cols)))
                .collect()
            )
        return {p: _footer_stats(p, cols) for p in paths}

    def _sync_layout(self, m: dict) -> None:
        """Reconcile this handle with the table's committed physical layout
        before writing.  The manifest is authoritative: ``n_buckets`` at
        construction is a create-time parameter only, and a handle opened
        with a stale value (e.g. after another writer ran ``rebucket``)
        must adopt the committed layout or every merge would scatter keys
        across the wrong bucket directories.  ``key_cols`` defines the
        table's identity semantics and can never drift — mismatch raises."""
        mk = m.get("key_cols")
        if mk is not None and list(mk) != self.key_cols:
            raise ValueError(
                f"table at {self.path} is keyed by {list(mk)}, "
                f"handle opened with {self.key_cols}"
            )
        nb = m.get("n_buckets")
        if nb is not None and int(nb) != self.n_buckets:
            self.n_buckets = int(nb)
        # a manifest without the field predates bucket_cols and was
        # bucketed on the full key — the committed layout always wins
        mb = self._manifest_bucket_cols(m, self.key_cols)
        if mb != self.bucket_cols:
            self.bucket_cols = mb

    @staticmethod
    def _manifest_bucket_cols(m: dict, default: list[str]) -> list[str]:
        """Bucket columns of the manifest BEING READ (pre-bucket_cols
        manifests bucketed on the full key)."""
        return list(m.get("bucket_cols") or m.get("key_cols") or default)

    def _buckets_for_keys(
        self,
        keys: list[dict],
        schema: StructType,
        n_buckets: int,
        bucket_cols: list[str],
    ) -> set:
        """Bucket ids for key tuples, computed with Spark's own hash (no
        Python Murmur3 reimplementation to drift).  Up to
        ``KEY_PREDICATE_MAX`` tuples hash on the driver: one ``SELECT
        pmod(hash(...)) FROM VALUES ...`` statement over the key values
        cast to the stored key types (:func:`_values_sql`, the literal
        and cast :meth:`_key_cond` renders, so bucket ids and row
        predicate agree), which plans as a ``LocalTableScan`` and
        collects with no Spark job.  Larger sets hash the probe frame
        the semi-join uses (one job: a ``VALUES`` table that size costs
        more to parse than the job).  ``n_buckets`` and ``bucket_cols``
        come from the manifest BEING READ, not the handle — a
        time-travel read across a ``rebucket`` must hash against that
        snapshot's layout."""
        if not keys:
            return set()
        if len(keys) <= self.KEY_PREDICATE_MAX:
            values = _values_sql(
                StructType([schema[c] for c in bucket_cols]),
                [tuple(k[c] for c in bucket_cols) for k in keys],
            )
            probe = self.spark.sql(
                f"SELECT {_bucket_sql(bucket_cols, n_buckets)} AS b FROM {values}"
            )
        else:
            probe = self._key_probe_df(keys, schema, bucket_cols).select(
                _bucket_expr(bucket_cols, n_buckets).alias("b")
            )
        return {r["b"] for r in probe.collect()}

    def _select_buckets(
        self,
        m: dict,
        schema: StructType,
        keys: list[dict] | None = None,
        ranges: dict | None = None,
    ) -> dict:
        """The scan-planning half of a pruned read: subset the manifest's
        {bucket: files} map to buckets that can contain matching rows.

        Pruning is deliberately BUCKET-granular, never file-granular: this
        is a merge-on-read table, so dropping one file of a multi-file
        bucket could drop the newest version (or the tombstone) of a key
        whose older version survives in another file — LWW would then
        resurrect stale data.  A key lives in exactly one bucket, so
        keeping or dropping whole buckets keeps LWW exact.  A bucket
        survives range pruning if ANY of its files may match (a file
        without recorded stats always may)."""
        buckets = m["files"]
        if keys is not None:
            hit = self._buckets_for_keys(
                keys,
                schema,
                int(m.get("n_buckets", self.n_buckets)),
                self._manifest_bucket_cols(m, self.bucket_cols),
            )
            buckets = {b: fl for b, fl in buckets.items() if int(b) in hit}
        if ranges:
            stats = m.get("file_stats", {})

            def file_may_match(p: str) -> bool:
                s = stats.get(p)
                if s is None:
                    return True
                for c, (lo, hi) in ranges.items():
                    cs = s.get(c)
                    if cs is None:
                        continue
                    if (hi is not None and cs[0] > hi) or (
                        lo is not None and cs[1] < lo
                    ):
                        return False
                return True

            buckets = {
                b: fl
                for b, fl in buckets.items()
                if any(file_may_match(p) for p in fl)
            }
        return buckets

    # OR-predicate lookups stay under this many key tuples; larger probe
    # sets switch to a broadcast semi-join (a 10k-term boolean expression
    # would blow up codegen/analysis, a broadcast of 10k keys is trivial)
    KEY_PREDICATE_MAX = 64

    def _probe_cols(self, keys: list[dict], bucket_cols: list[str]) -> list[str]:
        """The column set a key-lookup probes: every dict must name the
        same columns, all of them key columns (only key-column predicates
        commute with the per-key LWW aggregate), and at least the bucket
        columns of the manifest being read (otherwise no bucket can be
        ruled out and the caller should use a plain filter instead).
        Full-key dicts always qualify; with ``bucket_cols`` a prefix of
        the key, group lookups ({"conv_id": ...}) qualify too."""
        cols = [c for c in self.key_cols if c in keys[0]]
        want = set(keys[0])
        if not want <= set(self.key_cols):
            raise ValueError(
                f"keys may only name key columns {self.key_cols}, "
                f"got {sorted(want)}"
            )
        if any(set(k) != want for k in keys):
            raise ValueError("every key dict must name the same columns")
        if not set(bucket_cols) <= want:
            raise ValueError(
                f"keys must include the table's bucket columns "
                f"{list(bucket_cols)} to prune (got {sorted(want)})"
            )
        return cols

    def _key_cond(self, keys: list[dict], schema: StructType, cols: list[str]):
        """Row-level predicate for key tuples (OR over tuples, AND over
        the probed columns, null-safe equality typed from the stored
        schema), as one SQL expression: ``(`c1` <=> CAST(lit AS t1) AND
        ...) OR ...`` with :func:`_sql_literal` values, parenthesized
        into a left-deep tree (Spark's parser would balance a flat ``OR``
        list).  Only used for probe sets small enough to inline — see
        :meth:`_apply_keys`."""
        types = {c: schema[c].dataType.simpleString() for c in cols}

        def chain(op: str, terms) -> str:
            return functools.reduce(lambda a, b: f"({a} {op} {b})", terms)

        per_key = (
            chain(
                "AND",
                (
                    f"{quote_ident(c)} <=> CAST({_sql_literal(k[c])} AS {types[c]})"
                    for c in cols
                ),
            )
            for k in keys
        )
        return F.expr(chain("OR", per_key))

    def _key_probe_df(
        self, keys: list[dict], schema: StructType, cols: list[str] | None = None
    ) -> DataFrame:
        cols = cols or self.key_cols
        key_fields = StructType(
            [type(schema[c])(c, schema[c].dataType, True) for c in cols]
        )
        return self.spark.createDataFrame(
            [tuple(k[c] for c in cols) for k in keys], key_fields
        ).dropDuplicates()

    def _apply_keys(
        self,
        part: DataFrame,
        keys: list[dict],
        schema: StructType,
        cols: list[str],
    ) -> DataFrame:
        """Restrict ``part`` to the probe key tuples (exact keys or
        bucket-prefix groups).  Small sets inline an OR predicate (pushes
        into the parquet scan); big sets broadcast a semi-join instead —
        both are functions of key columns only, so they keep or drop whole
        key groups and commute with the LWW aggregate."""
        if len(keys) <= self.KEY_PREDICATE_MAX:
            return part.filter(self._key_cond(keys, schema, cols))
        probe = F.broadcast(self._key_probe_df(keys, schema, cols))
        cond = None
        for c in cols:  # eqNullSafe: same NULL-key semantics as
            e = part[c].eqNullSafe(probe[c])  # the predicate path
            cond = e if cond is None else (cond & e)
        return part.join(probe, on=cond, how="leftsemi")

    def read(
        self,
        include_tombstones: bool = False,
        include_meta: bool = False,
        at_version: int | None = None,
        keys: list[dict] | dict | None = None,
        ranges: dict | None = None,
    ) -> DataFrame:
        """Snapshot as a DataFrame (live rows, payload columns).

        ``at_version`` time-travels to an earlier committed snapshot
        (Iceberg ``VERSION AS OF`` analogue): manifests are immutable and
        retained per version, and compaction rewrites manifests but never
        deletes data files, so any committed version stays readable.  A
        future vacuum must bound this to its retention window.

        ``keys``: key tuple(s) ({key_col: value} or a list of them) — the
        read plans only the buckets those keys hash to (point lookups
        touch 1 bucket of tens of thousands at 100 TB) and returns exactly
        the matching live rows.  Dicts may name a SUBSET of the key
        columns as long as it covers the table's ``bucket_cols`` — on a
        table bucketed by ``["conv_id"]`` a ``{"conv_id": ...}`` lookup is
        a one-bucket GROUP fetch (every turn of the conversation).  ``ranges``: {col: (lo, hi)} (either bound
        None for open) — buckets whose recorded file stats (``stats_cols``)
        exclude the range are never scanned, and the predicate is exact
        row-level (NULLs excluded, SQL comparison semantics).  Both prune
        at bucket granularity — see ``_select_buckets`` for why
        file-granular pruning would corrupt merge-on-read LWW.

        Predicate placement vs the LWW aggregate: the key-equality
        predicate COMMUTES with per-key LWW (it keeps or drops whole key
        groups), so it is applied directly on both scans — Catalyst pushes
        it into the parquet readers, where row-group stats on the key
        columns skip IO inside surviving buckets.  The range predicate
        does NOT commute (a key whose newest version falls outside the
        range must not resurrect an in-range older version), so it runs
        below the aggregate only on single-file (folded) buckets — one
        version per key by construction — and after the aggregate on
        multi-file buckets.  ``compact(sort_by=...)`` clusters folded
        files so those pushed range filters skip whole row groups.

        Buckets with a single (folded) file hold one version per key by
        construction and union in with no shuffle; only multi-file buckets
        pay the LWW aggregate.  Each part reads every distinct file once,
        and a shared delta file only for the buckets of that part that list
        it (:meth:`_scan`): a bucket that folded it away may since have
        dropped the tombstone that outranked one of its rows.  Keys hash
        to exactly one bucket, so the aggregate over the multi-file union
        is bucket-local-correct.  A keyed read of at most
        ``KEY_PREDICATE_MAX`` tuples whose multi-file part totals no more
        than ``spark.sql.files.maxPartitionBytes`` coalesces that part to one
        partition, so the aggregate plans no Exchange and the lookup runs
        as one job.  Spark would scan such a part in several tasks (it
        splits at ``min(maxPartitionBytes, max(openCostInBytes, (bytes +
        files * openCostInBytes) / parallelism))``), but it reads Parquet
        by whole row groups, so no more of those tasks are busy than the
        part has row groups.
        Measured with Spark 4.1.2 on a 4-core host (3-key lookups on a
        bucket of 2 or 8 files, 1 to 118 MB, rows in key order or
        shuffled, files in the page cache), the one-task plan was faster
        at every size, at ``local[4]`` and ``local[2]``, by 5-26% in the
        median."""
        m = self._read_manifest(at_version)
        schema = StructType.fromJson(json.loads(m["schema"]))
        if isinstance(keys, dict):
            keys = [keys]
        probe_cols = (
            self._probe_cols(keys, self._manifest_bucket_cols(m, self.bucket_cols))
            if keys
            else None
        )
        bucket_files = self._select_buckets(m, schema, keys=keys, ranges=ranges)
        single, multi = {}, {}
        for b, fl in bucket_files.items():
            (multi if len(fl) > 1 else single)[b] = fl

        def range_filter(part: DataFrame) -> DataFrame:
            # tombstones null-pad payload columns, so a plain col >= lo
            # evaluates NULL and would drop them even when the caller asked
            # for them (round-6 ADVICE) — exempt tombstones from the
            # row-level range predicate when include_tombstones is set
            def keep(pred):
                if include_tombstones:
                    return F.col("_deleted") | pred
                return pred

            for c, (lo, hi) in (ranges or {}).items():
                if lo is not None:
                    part = part.filter(keep(F.col(c) >= F.lit(lo)))
                if hi is not None:
                    part = part.filter(keep(F.col(c) <= F.lit(hi)))
            return part

        parts = []
        if single:
            part, _ = self._scan(single, m["schema"])
            if keys:
                part = self._apply_keys(part, keys, schema, probe_cols)
            parts.append(range_filter(part))
        if multi:
            part, paths = self._scan(multi, m["schema"])
            if keys:
                part = self._apply_keys(part, keys, schema, probe_cols)  # pre-LWW: commutes
                conf = self.spark._jsparkSession.sessionState().conf()
                if len(keys) <= self.KEY_PREDICATE_MAX and sum(
                    os.path.getsize(p) for p in paths
                ) <= conf.filesMaxPartitionBytes():
                    # one task scans the key-filtered files and aggregates
                    # them, with no Exchange, so the lookup is one job; up
                    # to this size that beat the shuffled aggregate (see
                    # ``read``)
                    part = part.coalesce(1)
            parts.append(range_filter(lww_dedup(part, self.key_cols, ORDER_COLS)))
        if not parts:
            parts = [self._read_files([], m["schema"])]
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        if not include_tombstones:
            df = df.filter("NOT _deleted")
        if not include_meta:
            df = df.drop(*META_COLS, "_bucket")
        return df

    def snapshot_with_version(
        self, include_meta: bool = False
    ) -> tuple[DataFrame, int]:
        """The race-free consumer bootstrap pair: a snapshot DataFrame AND
        the version it is pinned to, resolved from ONE manifest read.

        ``read()`` then ``snapshot_manifest()['version']`` separately is a
        classic CDC bug — a commit landing between the two makes the
        follow-on feed (``startingVersion = version + 1``) either skip or
        double-apply that commit.  Pin both to the same manifest:

            snap, v = table.snapshot_with_version(include_meta=True)
            ... materialize snap ...
            spark.readStream.format("lake_changes")
                 .option("path", table.path)
                 .option("startingVersion", v + 1).load()
        """
        m = self._read_manifest()
        v = int(m["version"])
        return self.read(at_version=v, include_meta=include_meta), v

    def read_changes(
        self,
        from_version: int = 1,
        to_version: int | None = None,
        allow_gaps: bool = False,
    ) -> DataFrame:
        """Change feed (CDC-out): the change rows committed in versions
        ``[from_version, to_version]``, with a ``_commit_version`` column —
        the incremental-consumer API (Delta CDF / Iceberg changelog
        analogue).  Served directly from each commit's delta files: the
        merge-on-read layout already materializes exactly these rows, so
        the feed costs no extra storage or write work.  Rows are
        batch-reduced upserts/tombstones (``_deleted`` = delete).

        Compaction rewrites manifests but never deletes data files, so
        feeds over folded history stay readable.  Retention = the lineage
        window (last 200 commits kept in the manifest) intersected with
        the vacuum window: ``vacuum()`` deletes expired versions' delta
        files.  A consumer resuming from a version that vacuum has expired
        gets ``RetentionOverrunError`` — a silent gap would corrupt every
        downstream incremental view, which is why Delta CDF / Iceberg
        changelog raise here too.  Pass ``allow_gaps=True`` to explicitly
        accept a feed floored at the oldest retained version (the
        "starting-version-latest" style escape hatch)."""
        m = self._read_manifest()
        schema = StructType.fromJson(json.loads(m["schema"]))
        hi = m["version"] if to_version is None else to_version
        lo = _retention_floor(self.path, from_version, allow_gaps)
        parts = [
            self._read_files(files, m["schema"]).withColumn(
                "_commit_version", F.lit(int(v))
            )
            for v, files in iter_commit_deltas(self.path, lo, hi, m)
        ]
        if not parts:
            empty = self._read_files([], m["schema"])
            return empty.withColumn("_commit_version", F.lit(0)).limit(0)
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df

    def read_changes_typed(
        self,
        from_version: int = 1,
        to_version: int | None = None,
        max_pruned_keys: int = 10_000,
    ) -> DataFrame:
        """Delta-CDF-parity change feed: each change row classified as
        ``insert`` / ``update_preimage`` / ``update_postimage`` /
        ``delete`` in a ``_change_type`` column (plus ``_commit_version``),
        with preimage/delete rows carrying the PRIOR row's payload values.

        The raw feed (:meth:`read_changes`) ships post-state upserts +
        tombstones because the merge-on-read write path never reads old
        state (that's what keeps merges O(batch)).  This method computes
        the preimages AT READ TIME instead of at write time: for each
        commit, the prior values are the LWW state at ``version - 1``
        restricted to the commit's keys — a bucket-pruned time-travel
        read when the key set is small (``max_pruned_keys``), else one
        scan with a join.  Cost is O(commits in range × affected buckets);
        use it for analytics windows (audit diffs, slowly-changing-
        dimension loads, incremental aggregates that subtract old values).
        Consumers that only need post-state (replication, matviews) should
        stay on the raw feed, which pays none of this.

        Classification semantics (Delta CDF):

        - upsert of a key with no prior live row → ``insert``
        - upsert of a key with a prior live row → an ``update_preimage``
          row (old values) AND an ``update_postimage`` row (new values)
        - tombstone of a key with a prior live row → ``delete`` carrying
          the deleted row's values
        - tombstone of a key with no prior live row (redundant delete,
          e.g. a replayed tombstone) → no row: nothing was deleted

        Requires version ``from_version - 1`` to still be retained
        (preimages need it); inserts-only from a table's first commit
        (``from_version=1``) need no prior state."""
        m = self._read_manifest()
        schema = StructType.fromJson(json.loads(m["schema"]))
        hi = int(m["version"] if to_version is None else to_version)
        _retention_floor(
            self.path,
            from_version,
            need=from_version - 1 if from_version > 1 else from_version,
        )
        payload = [
            f_.name
            for f_ in schema.fields
            if f_.name not in META_COLS and f_.name != "_bucket"
        ]
        value_cols = [c for c in payload if c not in self.key_cols]
        parts = []
        for v, files in iter_commit_deltas(self.path, from_version, hi, m):
            delta = self._read_files(files, m["schema"])
            prev = None
            if v > 1:
                key_rows = delta.select(*self.key_cols).dropDuplicates()
                n_keys = key_rows.count()
                if n_keys <= max_pruned_keys:
                    keys = [r.asDict() for r in key_rows.collect()]
                    prev = self.read(at_version=v - 1, keys=keys) if keys else None
                else:
                    prev = self.read(at_version=v - 1).join(
                        key_rows, on=self.key_cols, how="leftsemi"
                    )
            if prev is None:
                post = delta.filter(~F.col("_deleted")).select(
                    *payload, F.lit("insert").alias("_change_type")
                )
                parts.append(post.withColumn("_commit_version", F.lit(int(v))))
                continue
            # pre-evolution snapshots may lack later-added columns
            for c in payload:
                if c not in prev.columns:
                    prev = prev.withColumn(c, F.lit(None).cast(schema[c].dataType))
            p = prev.select(
                *self.key_cols,
                F.lit(True).alias("_had_prev"),
                *[F.col(c).alias(f"_pre_{c}") for c in value_cols],
            )
            j = delta.join(p, on=self.key_cols, how="left")
            had = F.coalesce(F.col("_had_prev"), F.lit(False))
            post = j.filter(~F.col("_deleted")).select(
                *payload,
                F.when(had, F.lit("update_postimage"))
                .otherwise(F.lit("insert"))
                .alias("_change_type"),
            )
            pre = j.filter((~F.col("_deleted")) & had).select(
                *self.key_cols,
                *[F.col(f"_pre_{c}").alias(c) for c in value_cols],
                F.lit("update_preimage").alias("_change_type"),
            ).select(*payload, "_change_type")
            dele = j.filter(F.col("_deleted") & had).select(
                *self.key_cols,
                *[F.col(f"_pre_{c}").alias(c) for c in value_cols],
                F.lit("delete").alias("_change_type"),
            ).select(*payload, "_change_type")
            out = post.unionByName(pre).unionByName(dele)
            parts.append(out.withColumn("_commit_version", F.lit(int(v))))
        if not parts:
            empty = self._read_files([], m["schema"]).select(*payload)
            return (
                empty.withColumn("_change_type", F.lit(""))
                .withColumn("_commit_version", F.lit(0))
                .limit(0)
            )
        df = parts[0]
        for pt in parts[1:]:
            df = df.unionByName(pt)
        return df

    def watermarks(self) -> dict:
        return self._read_manifest().get("watermarks", {}) if self.exists() else {}

    def lineage(self) -> list[dict]:
        return self._read_manifest().get("lineage", []) if self.exists() else []

    # ------------------------------------------------------------------
    # merge (the J2 operator)
    # ------------------------------------------------------------------

    def bucket_expr(self):
        return _bucket_expr(self.bucket_cols, self.n_buckets)

    def _write_buckets(self, df: DataFrame, tag: str, buckets, shared: bool = False) -> dict:
        """Write ``df`` (carrying ``_bucket``, already partitioned and
        sorted by the caller) as snappy parquet partitioned by bucket;
        return ``{str(bucket): [files]}`` for each of ``buckets`` (an empty
        list where the write produced none).  ``shared`` writes no
        ``_bucket=K`` partitions: ``_bucket`` stays a data column, and
        every bucket of ``buckets`` lists the written files (the caller
        writes from one task, so one file).

        The dir is writer-unique, ``data/{tag}-{uuid}``: two racers both
        computing version N must never share a directory — mode
        ("overwrite") from the loser would otherwise delete the winner's
        already-committed parquet files if its write lands after the
        winner's commit.  The manifest records absolute file paths, so
        readers never depend on the dir name, and vacuum reclaims a loser's
        orphaned dir (unreferenced by any retained manifest)."""
        out_dir = os.path.join(self.path, "data", f"{tag}-{uuid.uuid4().hex[:8]}")
        writer = df.write.mode("overwrite").option("compression", CODEC)
        if shared:
            writer.parquet(out_dir)
            files = sorted(
                os.path.join(out_dir, x)
                for x in os.listdir(out_dir)
                if x.endswith(".parquet")
            )
            return {str(b): files for b in buckets}
        writer.partitionBy("_bucket").parquet(out_dir)
        out = {}
        for b in buckets:
            bdir = os.path.join(out_dir, f"_bucket={b}")
            out[str(b)] = (
                [os.path.join(bdir, x) for x in os.listdir(bdir) if x.endswith(".parquet")]
                if os.path.isdir(bdir)
                else []
            )
        return out

    def _rewrite(
        self,
        bucket_files: dict,
        schema_json: str,
        tag: str,
        buckets,
        layout: tuple[int, list[str]] | None = None,
        drop_tombstones_below: tuple | None = None,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
    ) -> tuple[dict, dict]:
        """The one bucket rewrite behind the inline fold, ``compact`` and
        ``rebucket``: the LWW state of the rows of ``bucket_files``
        (``{bucket: files}``, read as :meth:`_scan` reads them; tombstones
        kept, unless older than ``drop_tombstones_below``), hashed into
        ``layout`` (``(n_buckets, bucket_cols)``, default the handle's),
        one file per bucket of ``buckets`` from at most
        ``defaultParallelism`` write tasks, each clustered by ``sort_by``
        (default ``stats_cols``; ``[]`` disables) or by a Z-value over
        ``zorder_by``.  Returns the ``{str(bucket): [files]}`` map of
        ``buckets`` and the new files' footer stats."""
        n_buckets, bucket_cols = layout or (self.n_buckets, self.bucket_cols)
        df = lww_dedup(self._scan(bucket_files, schema_json)[0], self.key_cols, ORDER_COLS)
        if drop_tombstones_below is not None:
            df = df.filter(
                (~F.col("_deleted")) | (F.col("_gtid") >= F.lit(drop_tombstones_below[0]))
            )
        df = df.withColumn("_bucket", _bucket_expr(bucket_cols, n_buckets))
        if zorder_by:
            if sort_by:
                raise ValueError("pass sort_by or zorder_by, not both")
            for c in zorder_by:
                t_ = df.schema[c].dataType
                if not isinstance(t_, NumericType):
                    raise ValueError(
                        f"zorder_by column {c!r} has type {t_.simpleString()} "
                        f"— Z-order needs a numeric column (cast temporals to "
                        f"epoch numbers at ingest; a string would silently "
                        f"normalize to a constant)"
                    )
            # one aggregate over the data being rewritten for the global
            # bounds the normalization needs (driver gets 2 scalars/col)
            agg_row = df.agg(
                *[F.min(c).alias(f"lo_{c}") for c in zorder_by],
                *[F.max(c).alias(f"hi_{c}") for c in zorder_by],
            ).collect()[0]
            bounds = {
                c: (agg_row[f"lo_{c}"] or 0, agg_row[f"hi_{c}"] or 0)
                for c in zorder_by
            }
            df = df.withColumn("_z", _zorder_expr(zorder_by, bounds))
        # one write task per core, not per bucket: a task writes its
        # buckets in _bucket order, one file each, and a small fold pays
        # far less in fixed per-task costs
        out = df.repartition(
            min(len(buckets), self.spark.sparkContext.defaultParallelism), "_bucket"
        )
        if zorder_by:
            out = out.sortWithinPartitions("_bucket", "_z").drop("_z")
        else:
            if sort_by is None:
                sort_by = self.stats_cols or []
            if sort_by:
                # lead with _bucket: the partitionBy write needs
                # partition-col order and would otherwise insert its own
                # sort (by _bucket alone, not stable) on any task holding
                # >1 bucket, destroying the clustering this exists to
                # create
                out = out.sortWithinPartitions("_bucket", *sort_by)
        new = self._write_buckets(out, tag, buckets)
        return new, self._collect_stats([p for fl in new.values() for p in fl])

    def _next_manifest(
        self,
        base: dict,
        record: dict,
        files: dict,
        new_stats: dict,
        new_bytes: dict | None = None,
        **fields,
    ) -> dict:
        """The manifest that commits ``record``: ``base`` (``{}`` before a
        table's first commit) at ``record["version"]``, with ``files`` as
        its bucket map, ``fields`` overriding, the lineage window advanced
        by ``record`` and trimmed to ``lineage_keep``, and ``file_stats``
        and ``bucket_bytes`` (a shared file's bytes per bucket, see
        :func:`_has_base`) carried forward for the live files only (so the
        manifest stays O(live files)), ``new_stats`` and ``new_bytes``
        added."""
        m = {
            **base,
            **fields,
            "version": record["version"],
            "files": files,
            "lineage": (base.get("lineage", []) + [record])[-self.lineage_keep:],
        }
        live = {p for fl in files.values() for p in fl}
        for key, new, want in (
            ("file_stats", new_stats, self.stats_cols),
            ("bucket_bytes", new_bytes or {}, new_bytes),
        ):
            if want or key in base:
                m[key] = {
                    p: s for p, s in {**base.get(key, {}), **new}.items() if p in live
                }
        return m

    def merge(
        self,
        changes: DataFrame,
        batch_id: int | None = None,
        extra_lineage: dict | None = None,
    ) -> dict:
        """Apply a change batch: upserts + tombstones, LWW per key.

        ``changes`` must contain the payload columns plus META_COLS.  A
        batch that also carries ``TRANSPORT_COLS`` (the typed decode's
        ``_file_seq``/``_log_pos``) merges exactly once (T5/T6): rows
        at-or-below their file's watermark in the manifest this commit
        builds on are redelivered work and dropped, the commit advances
        those watermarks with the data, and the transport columns are not
        stored.  A batch left empty commits nothing and returns a skip
        record (``skipped``, every count zero).  A gated batch holding a
        row at a negative ``_file_seq`` (the typed decoder's marker for a
        TABLE_MAP outside its known descriptors) raises
        :class:`DescriptorMiss` from the stats pass, before any write.
        The persisted batch is released on every exit.  ``extra_lineage`` fields
        join the commit record.  Returns the commit's lineage/metrics
        record.

        A big batch, and a table's first commit, write one file per dirty
        bucket (several for a hot one): they lay down the buckets' bases.
        A later small batch writes one shared file from one task, sorted
        by ``_bucket`` then ``stats_cols``: the manifest lists it under
        every dirty bucket, records in ``bucket_bytes`` what each bucket's
        rows of it weigh (:func:`_bucket_shares`), and the commit record
        lists and counts it once.
        """
        t0 = time.monotonic()

        m = self._read_manifest() if self.exists() else None
        if m:
            self._sync_layout(m)
        old_schema_json = m["schema"] if m else None
        gated = set(TRANSPORT_COLS) <= set(changes.columns)
        unstored = {"_bucket", *(TRANSPORT_COLS if gated else ())}
        change_fields = [f_ for f_ in changes.schema.fields if f_.name not in unstored]

        # --- schema evolution: diff incoming payload schema vs stored ------
        if m:
            stored = StructType.fromJson(json.loads(old_schema_json))
            merged_fields = list(stored.fields)
            names = {f_.name: i for i, f_ in enumerate(merged_fields)}
            evolution: list[str] = []
            for f_ in change_fields:
                if f_.name not in names:
                    # force nullable: every pre-evolution row IS null here
                    merged_fields.append(type(f_)(f_.name, f_.dataType, True))
                    evolution.append(f"add:{f_.name}:{f_.dataType.simpleString()}")
                else:
                    old_t = merged_fields[names[f_.name]].dataType.simpleString()
                    new_t = f_.dataType.simpleString()
                    w = _widened(old_t, new_t)
                    if w is None:
                        raise ValueError(
                            f"incompatible type change for {f_.name}: {old_t} -> {new_t}"
                        )
                    if w != old_t:
                        merged_fields[names[f_.name]] = type(f_)(f_.name, f_.dataType, True)
                        evolution.append(f"widen:{f_.name}:{old_t}->{new_t}")
            schema = StructType(merged_fields)
        else:
            # store every field nullable: tombstones null-pad payload
            # columns, and later ADD COLUMNs null-pad history — a
            # non-nullable manifest field would be a lie the first time
            # either happens (file sources report nullable for the same
            # reason)
            schema = StructType(
                [type(f_)(f_.name, f_.dataType, True) for f_ in change_fields]
            )
            evolution = ["create"]
        schema_json = json.dumps(schema.jsonValue())

        # align the batch to the merged schema (the transport columns ride
        # along for the gate and the stats), then gate it against the
        # watermarks of the manifest read above
        have = set(changes.columns)
        changes = changes.select(
            *[
                (F.col(f_.name) if f_.name in have else F.lit(None))
                .cast(f_.dataType)
                .alias(f_.name)
                for f_ in schema.fields
            ],
            *(TRANSPORT_COLS if gated else ()),
        )
        wms = (m or {}).get("watermarks", {})
        if gated and wms:
            # the watermark map as a driver-local relation: broadcast
            # with no Spark job
            changes = gate_redelivered(
                changes,
                local_relation(
                    self.spark,
                    _WM_SCHEMA,
                    [
                        (int(fs), int(v["log_pos"]), int(v["event_row_index"]))
                        for fs, v in wms.items()
                    ],
                ),
            )
        bucket_expr = self.bucket_expr()
        changes = changes.persist()
        # released on every exit: the skip, a DescriptorMiss, a failed
        # stats pass or write, and after the write (the fold reads files)
        try:
            # ONE pass yields the dirty-bucket counts and, grouped by file
            # too, the new per-file watermarks: O(files × buckets) rows,
            # never O(rows)
            stats = (
                changes.groupBy(*(["_file_seq"] if gated else []), bucket_expr.alias("_b"))
                .agg(
                    *(
                        [
                            F.max(F.struct("_log_pos", "_event_row_index")).alias("mx"),
                            F.max("_gtid").alias("max_gtid"),
                        ]
                        if gated
                        else []
                    ),
                    F.count(F.lit(1)).alias("n"),
                )
                .collect()
            )
            if gated and any(r["_file_seq"] < 0 for r in stats):
                raise DescriptorMiss(
                    "the batch holds a TABLE_MAP outside the descriptors it was "
                    "decoded with"
                )
            if not stats:
                return {
                    "batch_id": batch_id,
                    "skipped": True,
                    "input_rows": 0,
                    "dirty_buckets": [],
                    "buckets_folded": [],
                    "files_written": 0,
                    "bytes_written": 0,
                }
            counts: dict = {}
            new_wms: dict = {}
            for r in stats:
                counts[r["_b"]] = counts.get(r["_b"], 0) + r["n"]
                if gated:
                    pos = (r["mx"]["_log_pos"], r["mx"]["_event_row_index"])
                    wm = new_wms.setdefault(
                        str(r["_file_seq"]),
                        {"log_pos": pos[0], "event_row_index": pos[1], "gtid": r["max_gtid"]},
                    )
                    if pos > (wm["log_pos"], wm["event_row_index"]):
                        wm["log_pos"], wm["event_row_index"] = pos
                    wm["gtid"] = max(wm["gtid"], r["max_gtid"])
            n_changes = sum(counts.values())
            dirty = sorted(counts)
            mean_rows = n_changes / len(dirty)
            hot = {
                int(b): int(c)
                for b, c in counts.items()
                if c >= 3 * mean_rows and c > self.hot_bucket_split_rows
            }
            hot_splits = {
                b: min(32, -(-c // self.hot_bucket_split_rows)) for b, c in hot.items()
            }
            old_files = (m or {}).get("files", {})

            # --- merge-on-read append: batch-reduce, then write ONLY the batch --
            # The LWW max_by hash aggregate pre-reduces map-side (hot keys never
            # concentrate on one reducer); existing bucket data is NOT read or
            # rewritten — write cost is O(batch), readers resolve LWW across a
            # bucket's files, and the fold below bounds how many there can be.
            #
            # Big batches take ONE shuffle: repartition(n_buckets, bucket_cols)
            # hash-partitions by Murmur3(bucket_cols) pmod n_buckets — exactly
            # the bucket function — and HashPartitioning on a subset of the
            # grouping keys still satisfies the aggregate's
            # ClusteredDistribution (equal full key ⇒ equal subset ⇒ same
            # partition), so the groupBy reuses that one exchange, partition i
            # holds precisely bucket i, and the partitionBy write needs no
            # second shuffle.  Small batches (streaming micro-batches) would
            # spawn n_buckets near-empty write tasks on that plan, so a cheap
            # second shuffle over the few dirty buckets wins there; hot batches
            # drop out too — partition i == bucket i makes a hot bucket one
            # giant task, and the alignment can't salt within a partition.
            # A small batch on top of a committed table is a delta, not a
            # base: it is written from one task as one shared file (below).
            aligned = n_changes >= self.n_buckets * 512 and not hot
            shared = m is not None and not aligned and not hot
            batch = changes.drop(*TRANSPORT_COLS) if gated else changes
            src = (
                batch.repartition(self.n_buckets, *[F.col(c) for c in self.bucket_cols])
                if aligned
                else batch
            )
            reduced = lww_dedup(src, self.key_cols, ORDER_COLS).withColumn(
                "_bucket", bucket_expr
            )
            if hot_splits:
                # split each hot bucket's write across ~count/split_rows
                # tasks: a per-key salt (different hash seed than the
                # bucket fn) picks one of the bucket's write slots, and every
                # (bucket, salt) group is placed in its own partition by id
                # (hashing the pair would let groups share a task); files
                # still land under the single _bucket=b directory, and
                # readers/manifest already handle multi-file buckets
                salt_col = F.lit(0)
                for b, nsplit in hot_splits.items():
                    salt_col = F.when(
                        F.col("_bucket") == b,
                        F.pmod(
                            F.hash(*[F.col(c) for c in self.key_cols], F.lit(21557)),
                            F.lit(nsplit),
                        ),
                    ).otherwise(salt_col)
                first_slot, n_slots = [], 0
                for b in dirty:
                    first_slot += [F.lit(b), F.lit(n_slots)]
                    n_slots += hot_splits.get(b, 1)
                slot = F.create_map(*first_slot)[F.col("_bucket")] + salt_col
                reduced = reduced.withColumn("_slot", slot).repartitionById(n_slots, "_slot")
                reduced = reduced.drop("_slot")
            elif shared:
                # one task, one file: the batch's reduce runs in the write
                # task, with no second shuffle; each bucket's rows lie
                # together, clustered by stats_cols as a fold's file is
                reduced = reduced.coalesce(1).sortWithinPartitions(
                    "_bucket", *(self.stats_cols or [])
                )
            elif not aligned:
                reduced = reduced.repartition(max(len(dirty), 1), "_bucket")

            version = (m["version"] + 1) if m else 1
            delta = self._write_buckets(reduced, f"v{version}", dirty, shared=shared)
        finally:
            changes.unpersist()

        new_files = dict(old_files)
        for b in dirty:
            new_files[str(b)] = old_files.get(str(b), []) + delta[str(b)]
        delta_files = list(dict.fromkeys(p for b in dirty for p in delta[str(b)]))
        new_bytes = {
            p: _bucket_shares(p, counts, n_changes) for p in (delta_files if shared else [])
        }
        bucket_bytes = {**(m or {}).get("bucket_bytes", {}), **new_bytes}

        # --- bounded read amplification: fold over-threshold buckets --------
        # A bucket with a base folds only the files above it, tombstones
        # kept (the base may hold the key): LWW over ORDER_COLS is
        # associative over any subset of a bucket's files.  A bucket
        # without one folds whole, into one file.
        folded = self._over_cap(new_files, bucket_bytes, dirty) if self.auto_fold else []
        kept = {  # the base each folded bucket keeps, if it has one
            b: new_files[str(b)][:1]
            if _has_base(new_files[str(b)], str(b), bucket_bytes)
            else []
            for b in folded
        }
        refolded, new_stats = {}, {}
        if folded:
            refolded, new_stats = self._rewrite(
                {str(b): new_files[str(b)][len(kept[b]):] for b in folded},
                schema_json,
                f"v{version}_fold",
                folded,
            )
            new_files.update({b: kept[int(b)] + fl for b, fl in refolded.items()})
        # footer stats only for the deltas the fold did not supersede
        live_deltas = {p for b in dirty if b not in folded for p in delta[str(b)]}
        new_stats.update(self._collect_stats(sorted(live_deltas)))
        # the files this commit wrote: a carried base is not one of them
        written = delta_files + [p for fl in refolded.values() for p in fl]
        bytes_written = sum(os.path.getsize(p) for p in written)
        record = {
            "version": version,
            "batch_id": batch_id,
            "input_rows": n_changes,
            "dirty_buckets": dirty,
            "buckets_folded": folded,
            "buckets_rebased": [b for b in folded if not kept[b]],
            "files_written": len(written),
            "bytes_written": bytes_written,
            # the commit's delta files (pre-fold) ARE the change feed for
            # this version — read_changes() serves downstream incremental
            # consumers straight from them, no extra changelog copy
            "delta_files": delta_files,
            "hot_buckets": {str(b): c for b, c in sorted(hot.items())[:16]},
            "schema_evolution": evolution,
            "wall_ms": round((time.monotonic() - t0) * 1000, 2),
            **({"watermarks": new_wms} if gated else {}),
            **(extra_lineage or {}),
        }
        self._commit(
            self._next_manifest(
                m or {},
                record,
                new_files,
                new_stats,
                new_bytes,
                schema=schema_json,
                n_buckets=self.n_buckets,
                key_cols=self.key_cols,
                bucket_cols=self.bucket_cols,
                watermarks={**wms, **new_wms},
            )
        )
        return record

    def set_watermarks(self, wms: dict):
        """Update watermarks in a fresh commit that adds no data and leaves
        the lineage tail as it is.  No engine path calls it: a fully
        redelivered batch commits nothing.  It is a maintenance hook for
        moving a table's watermarks by hand."""
        m = self._read_manifest()
        m["version"] += 1
        m["watermarks"].update(wms)
        self._commit(m)

    # ------------------------------------------------------------------
    # maintenance
    # ------------------------------------------------------------------

    def _over_cap(self, files: dict, bucket_bytes: dict, buckets=None) -> list[int]:
        """The fold trigger: the buckets of ``files`` (only those in
        ``buckets``, when given) holding more than
        ``max_files_per_bucket`` files on top of their base, ascending.
        A shared file counts as one file in each bucket that lists it."""
        cap = self.max_files_per_bucket

        def over(b: str) -> bool:
            fl = files.get(b, [])
            return len(fl) > cap and len(fl) - _has_base(fl, b, bucket_bytes) > cap

        cands = files if buckets is None else [str(b) for b in buckets]
        return sorted(int(b) for b in cands if over(b))

    def needs_fold(self) -> list[int]:
        """Buckets holding more than ``max_files_per_bucket`` files on
        top of their base — the inline-fold trigger.  With
        ``auto_fold=False`` a maintenance loop runs
        ``compact(buckets=needs_fold())`` on its own schedule instead of
        paying the fold inside a merge commit; ``compact`` folds each
        bucket whole, base included."""
        if not self.exists():
            return []
        m = self._read_manifest()
        return self._over_cap(m["files"], m.get("bucket_bytes", {}))

    def compact(
        self,
        drop_tombstones_below: tuple | None = None,
        buckets: list[int] | None = None,
        small_file_bytes: int = 32 * 1024 * 1024,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
    ) -> dict:
        """Incremental compaction: fold multi-file buckets and bin-pack
        small files, rewriting ONLY the selected buckets (others are carried
        forward by manifest reference — at 100 TB a compaction pass must
        never touch cold, already-folded data).

        Bucket selection: explicit ``buckets``, else any bucket with more
        than one file or a file under ``small_file_bytes``.  With
        ``drop_tombstones_below`` (tombstone GC below the low watermark),
        every non-empty bucket is selected — GC must visit all data.

        ``sort_by``: cluster each rewritten bucket's rows by these columns
        (``sortWithinPartitions`` — no extra shuffle; the repartition by
        bucket is already the only exchange).  Clustering makes parquet
        row-group min/max on those columns tight, so the range/key
        predicates ``read`` pushes into the scan skip whole row groups
        inside a bucket — the Delta ``OPTIMIZE ZORDER BY`` analogue
        (linear order: right for one range column such as ``ts``).
        Defaults to ``stats_cols`` when set — a table that records
        range-pruning stats wants its folded files clustered the same
        way; pass ``[]`` to disable.

        ``zorder_by``: cluster by an interleaved-bit Z-value over these
        NUMERIC columns instead (Delta ``OPTIMIZE ZORDER BY``): a linear
        sort tightens row-group stats only for its leading column, a
        Z-order keeps them tight for every listed column at once — right
        when reads range-filter on more than one dimension.  Mutually
        exclusive with ``sort_by``; global [min, max] per column is one
        aggregate over the rewritten buckets."""
        m = self._read_manifest()
        self._sync_layout(m)
        old_files = m["files"]

        if buckets is not None:
            targets = [b for b in buckets if old_files.get(str(b))]
        elif drop_tombstones_below is not None:
            targets = [int(b) for b, fl in old_files.items() if fl]
        else:
            def needs(fl: list[str]) -> bool:
                if len(fl) > 1:
                    return True
                return any(
                    os.path.exists(p) and os.path.getsize(p) < small_file_bytes
                    for p in fl
                )

            targets = [int(b) for b, fl in old_files.items() if fl and needs(fl)]
        targets = sorted(targets)
        if not targets:
            return {"version": m["version"], "compacted_buckets": []}

        new_parts, new_stats = self._rewrite(
            {str(b): old_files[str(b)] for b in targets},
            m["schema"],
            f"v{m['version'] + 1}",
            targets,
            drop_tombstones_below=drop_tombstones_below,
            sort_by=sort_by,
            zorder_by=zorder_by,
        )
        # the files each target bucket held when this compaction PLANNED —
        # the conflict-detection baseline below
        planned = {str(b): list(old_files.get(str(b), [])) for b in targets}

        # --- optimistic commit (Delta-style conflict resolution) ----------
        # Maintenance must not serialize with ingest at 100 TB: losing the
        # version CAS to a concurrent merge is NOT a conflict unless that
        # merge touched a bucket this compaction rewrote.  The fold files
        # are already on disk under a writer-unique dir, so a retry only
        # re-reads the newest manifest, re-checks the target buckets, and
        # re-commits — no data rewrite.  A genuine overlap (the merge
        # appended a delta to a compacted bucket) must fail loud: committing
        # would drop that delta's newest versions.
        base = m
        for _attempt in range(5):
            conflicts = [
                b for b in targets
                if list(base["files"].get(str(b), [])) != planned[str(b)]
            ]
            if conflicts:
                raise ConcurrentWriteError(
                    f"compaction conflict: bucket(s) {conflicts} changed "
                    f"since planning (a concurrent merge landed deltas "
                    f"there) — rerun compact() to fold the new state."
                )
            version = base["version"] + 1
            record = {"version": version, "compaction": True,
                      "compacted_buckets": targets}
            try:
                self._commit(self._next_manifest(
                    base, record, {**base["files"], **new_parts}, new_stats
                ))
                return {"version": version, "compacted_buckets": targets}
            except ConcurrentWriteError:
                base = self._read_manifest()  # someone else committed: rebase
        raise ConcurrentWriteError(
            "compaction lost the commit race 5 times in a row — "
            "writer contention is pathological; rerun when ingest quiesces."
        )

    def rebucket(
        self, n_buckets: int, bucket_cols: list[str] | None = None
    ) -> dict:
        """Migrate the table to a new bucket count — the operation that
        keeps buckets at ~0.5–2 GB as a table grows from GBs toward 100 TB
        (the Iceberg partition-spec-evolution analogue for this layout).
        ``bucket_cols`` optionally migrates the bucket-column layout in the
        same rewrite (e.g. full-key → ``["conv_id"]`` to turn conversation
        fetches into one-bucket reads).

        One full rewrite: the current LWW state — tombstones included,
        they still gate late replays — is hashed into the new layout,
        clustered by ``stats_cols`` when set, and committed as one new
        version.  Older manifests keep referencing the old layout, so time
        travel across the boundary stays exact (``read`` hashes key
        lookups against the manifest being read, not the handle), and the
        change feed is unaffected (delta files are per-commit and carry no
        bucket structure).  Future merges from any handle adopt the new
        count via ``_sync_layout``."""
        m = self._read_manifest()
        self._sync_layout(m)
        old_n = int(m["n_buckets"])
        n_buckets = int(n_buckets)
        if n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
        new_bucket_cols = self._checked_bucket_cols(bucket_cols) or self.bucket_cols
        if n_buckets == old_n and new_bucket_cols == self.bucket_cols:
            return {"version": m["version"], "rebucket": None}
        version = m["version"] + 1
        written, new_stats = self._rewrite(
            m["files"],
            m["schema"],
            f"v{version}",
            range(n_buckets),
            layout=(n_buckets, new_bucket_cols),
        )
        files_map = {b: fl for b, fl in written.items() if fl}
        record = {
            "version": version,
            "rebucket": [old_n, n_buckets],
            "files_written": sum(len(fl) for fl in files_map.values()),
        }
        if new_bucket_cols != self.bucket_cols:
            record["rebucket_cols"] = [self.bucket_cols, new_bucket_cols]
        self._commit(self._next_manifest(
            m, record, files_map, new_stats,
            n_buckets=n_buckets, bucket_cols=new_bucket_cols,
        ))
        self.n_buckets = n_buckets
        self.bucket_cols = new_bucket_cols
        return record

    def vacuum(self, retain_last: int = 10, orphan_grace_s: float = 3600) -> dict:
        """Reclaim storage: delete data files unreachable from the last
        ``retain_last`` committed manifests, then drop the older manifests
        themselves.  This bounds time travel AND the change feed to the
        retention window (reads at vacuumed versions raise; read_changes
        serves only retained commits' delta files) — the Iceberg
        expire-snapshots analogue.  The live snapshot is never touched:
        the latest manifest is always retained.

        ``orphan_grace_s``: an unreferenced file younger than this is
        SKIPPED, because "not referenced by any manifest" has two causes —
        a superseded/CAS-losing file (reclaimable) or an IN-FLIGHT writer's
        data that simply hasn't committed yet.  Deleting the latter would
        make the racing commit's manifest point at missing files.  Delta's
        VACUUM has the same guard (uncommitted-file retention); pass 0 only
        when no writer can be mid-commit.

        Run from the single maintenance writer while no reader is pinned
        to a version being expired (same operational contract as Iceberg
        expire-snapshots): an in-flight read that planned against a
        vacuumed manifest would lose files mid-scan.

        At 100 TB this is the storage-reclamation half of maintenance:
        merge-on-read appends and folds leave superseded delta files on
        disk precisely so time travel/changelog stay cheap; vacuum is
        where their lifetime ends, explicitly and atomically-per-file."""
        now = time.time()
        versions = self.versions()
        keep = set(versions[-max(1, retain_last):])
        live: set[str] = set()
        for v in sorted(keep):
            m = self._read_manifest(v)
            for fl in m["files"].values():
                live.update(os.path.abspath(p) for p in fl)
            for rec in m.get("lineage", []):
                # retained commits' delta files keep the change feed readable
                if rec.get("version") in keep and rec.get("delta_files"):
                    live.update(os.path.abspath(p) for p in rec["delta_files"])
        data_root = os.path.join(self.path, "data")
        removed_files = removed_bytes = skipped_in_grace = 0
        for dirpath, _dirs, files in os.walk(data_root):
            for fn in files:
                p = os.path.join(dirpath, fn)
                if fn.endswith(".parquet") and os.path.abspath(p) not in live:
                    try:
                        if now - os.path.getmtime(p) < orphan_grace_s:
                            skipped_in_grace += 1  # maybe an in-flight commit
                            continue
                        removed_bytes += os.path.getsize(p)
                        os.remove(p)
                    except FileNotFoundError:
                        continue  # another vacuum raced us to it
                    removed_files += 1
        for dirpath, _dirs, _files in os.walk(data_root, topdown=False):
            if dirpath != data_root and not os.listdir(dirpath):
                os.rmdir(dirpath)
        removed_manifests = 0
        for v in versions:
            if v not in keep:
                os.remove(os.path.join(self._mdir(), f"v{v}.json"))
                removed_manifests += 1
        return {
            "removed_files": removed_files,
            "removed_bytes": removed_bytes,
            "skipped_in_grace": skipped_in_grace,
            "removed_manifests": removed_manifests,
            "retained_versions": sorted(keep),
        }
