"""Spark-facing decode: raw binlog event blobs → change rows, in one of two
outputs: the JSON change-event envelope (``decode_changes``,
``decode_segment_files``) or typed Arrow columns (``decode_typed``,
``decode_typed_from_files``).  Every merging apply (``apply_files``,
``apply_events``, so also the live stream) takes the typed output.

Each output reads an event frame (a segment-store scan, a streaming
micro-batch) with one shared plan prelude (``_decode_events``):

    events(file_seq, offset, gtid, event_seq, event_blob)
      → repartition(file_seq)              # a segment is a self-contained
      → sortWithinPartitions(file_seq, offset)   # decode unit: TABLE_MAP
      → mapInArrow(decode)                 # precedes its ROWS events
      → [filter / dedup / merge downstream]

or, over a one-file-per-segment store, size-balanced bins of segment
files read inside the task (``_decode_files``) with no shuffle at all.

Both outputs run one driver (``_decode_driver``): the same per-event
loop over ``BinlogSession``, the same quarantine rollback and dead-letter
triage record, and the same vectorized collector
(``rowvec.VecCollector``); only the row builder (``EnvelopeBatch`` or
``TypedBatch``) and the collector's plan builder and assembler differ.

Scale notes: segments are independent decode units (each starts with
FORMAT_DESCRIPTION and re-announces TABLE_MAP before ROWS runs, exactly as a
real binlog file does), so decoding parallelizes linearly across segments —
at 10^10 events the source is tens of thousands of segment files spread over
executors, no global state, no driver collect.  The per-partition
``BinlogSession`` carries the table-map cache in arrival order, preserving
the reference's last-TABLE_MAP-wins semantics within each segment
(binlog_reader.zig:419-424).  Decode happens inside Arrow batches
(``mapInArrow``): Python runs once per ~8192-row batch, never per Spark row.
"""

from __future__ import annotations

from functools import partial
from typing import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..binlog.decoder import BinlogSession

ENVELOPE_SCHEMA = StructType(
    [
        StructField("timestamp", LongType(), False),
        StructField("server_id", IntegerType(), False),
        StructField("log_pos", LongType(), False),
        StructField("event_row_index", LongType(), False),
        StructField("database", StringType(), True),
        StructField("table_name", StringType(), True),
        StructField("dml_type", StringType(), False),
        StructField("before_values", StringType(), True),
        StructField("after_values", StringType(), True),
        StructField("gtid", LongType(), False),
        StructField("event_seq", LongType(), False),
        StructField("file_seq", IntegerType(), False),
        StructField("payload_schema", StringType(), True),
    ]
)

_ARROW_ENVELOPE = pa.schema(
    [
        ("timestamp", pa.int64()),
        ("server_id", pa.int32()),
        ("log_pos", pa.int64()),
        ("event_row_index", pa.int64()),
        ("database", pa.string()),
        ("table_name", pa.string()),
        ("dml_type", pa.string()),
        ("before_values", pa.string()),
        ("after_values", pa.string()),
        ("gtid", pa.int64()),
        ("event_seq", pa.int64()),
        ("file_seq", pa.int32()),
        ("payload_schema", pa.string()),
    ]
)

#: dml_type marker for quarantined (dead-letter) packets — see
#: :func:`decode_changes` ``on_error="quarantine"``
DML_CORRUPT = "_corrupt"

#: ``_file_seq`` of the typed decode's descriptor-miss marker row (see
#: :func:`make_typed_decoder` ``known``): no binlog file has a negative
#: one, and ``BucketedLakeTable.merge`` raises ``DescriptorMiss`` on it
MISS_FILE_SEQ = -1


def _triage(blob, err, framed: bool = True) -> str:
    """The dead-letter triage record of an undecodable packet, as JSON: the
    error, the event-type byte and a hex prefix of the raw bytes, so a DLQ
    consumer can triage without re-reading the source.  The envelope
    carries it in ``after_values``, the typed output in ``_corrupt``.

    ``framed=False``: ``blob`` is a bare event BODY (vec-flush retries
    hand the deferred payload, not the framed packet), so byte 5 is row
    data, not the event type — report it as unknown rather than lie."""
    from ..binlog.decoder import _dumps

    mv = memoryview(blob)
    return _dumps({
        "error": f"{type(err).__name__}: {err}"[:500],
        "event_type": mv[5] if framed and len(mv) > 5 else None,
        "blob_prefix": bytes(mv[:64]).hex(),
        "blob_len": len(mv),
    })


def _padded(arrays, n: int, schema: pa.Schema) -> pa.RecordBatch:
    """RecordBatch of ``arrays`` plus null columns for the trailing fields
    of ``schema`` they lack (the typed quarantine ``_corrupt`` column)."""
    arrays = list(arrays) + [pa.nulls(n, f.type) for f in list(schema)[len(arrays):]]
    return pa.RecordBatch.from_arrays(arrays, schema=schema)


def _rows_batch(out, schema: pa.Schema) -> pa.RecordBatch:
    """An :class:`EnvelopeBatch`/:class:`TypedBatch` as a RecordBatch."""
    return _padded(
        [pa.array(c, type=f.type) for c, f in zip(out.columns(), schema)],
        len(out),
        schema,
    )


def _dead_batch(
    dead: list[tuple], schema: pa.Schema, names: tuple, fixed: dict
) -> pa.RecordBatch:
    """Dead-letter rows: ``dead`` holds (file_seq, gtid, event_seq,
    log_pos, triage) tuples, which land in the output's ``names``
    columns; ``fixed`` gives constant columns; every other column is
    null."""
    n = len(dead)
    cols = dict(zip(names, zip(*dead)))
    cols.update({name: [v] * n for name, v in fixed.items()})
    return pa.RecordBatch.from_arrays(
        [pa.array(cols[f.name], f.type) if f.name in cols else pa.nulls(n, f.type)
         for f in schema],
        schema=schema,
    )


def _blob_views(arr) -> list:
    """Zero-copy memoryviews over a (Large)Binary Arrow array's data buffer.

    ``to_pylist()`` materializes every blob as Python ``bytes`` up front —
    double the peak memory of the batch.  Slicing one memoryview over the
    shared data buffer keeps the bytes where Arrow put them; the decoder
    stack (wire/decoder/rowvec) consumes buffer-protocol objects
    throughout."""
    import numpy as np

    if isinstance(arr, pa.ChunkedArray):
        out: list = []
        for ch in arr.chunks:
            out.extend(_blob_views(ch))
        return out
    n = len(arr)
    if n == 0:
        return []
    bufs = arr.buffers()
    off_dtype = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    offs = np.frombuffer(
        bufs[1],
        dtype=off_dtype,
        count=n + 1,
        offset=arr.offset * np.dtype(off_dtype).itemsize,
    )
    # pyarrow Buffers export format 'b' (SIGNED char) — indexing would
    # return negative ints for bytes > 0x7f; cast('B') is zero-copy
    mv = memoryview(bufs[2]).cast("B")
    return [mv[offs[i] : offs[i + 1]] for i in range(n)]


def _vec_flush_rows(parallelism: int | None) -> int:
    """Per-worker deferred-row flush bound for the vectorized collector.

    A fixed TOTAL budget (1M estimated rows across the job) divided by the
    worker count, clamped to [8192, 512k].  Rationale: the numpy kernels
    saturate their vectorization win by a few thousand rows per group, but
    the deferred buffers + flush output batches are ~100 bytes/row of hot
    working set PER WORKER — at local[32] a 512k/worker bound (~50 MB x 32)
    thrashed the shared memory bus and JVM heap and made the typed path
    1.8x slower than the per-row parsers (round-4 regression); 16-32k/worker
    restored it to fastest-overall.  At 2 cores the same formula yields the
    old 512k bound, where big batches win (+28% pinned A/B).
    """
    if not parallelism or parallelism <= 0:
        return 1 << 19
    return max(8192, min(1 << 19, (1 << 20) // parallelism))


def _decode_driver(new_session, new_out, new_vec, process, schema, dead_names,
                   dead_fixed, on_error, out_batch_rows, flush_rows):
    """The mapInArrow body both outputs run: one ``BinlogSession`` per
    call, the per-event loop, the vec flush and the dead-letter rows.

    Only the pieces handed in differ by output: ``new_out`` makes the row
    builder (:class:`EnvelopeBatch` or :class:`TypedBatch`), ``new_vec``
    the :class:`rowvec.VecCollector` with that output's plan builder and
    assembler, ``process`` is the session's entry point for that output
    (:meth:`BinlogSession.process_packet_columnar` or
    :meth:`BinlogSession.process_packet_typed`, always called with the
    collector), and ``dead_names``/``dead_fixed`` place the dead-letter record
    (see :func:`_dead_batch`).  Input batches carry ``file_seq``, ``gtid``,
    ``event_seq`` and ``event_blob``.

    Output order: per-row batches of ``out_batch_rows`` and vec-flush
    batches (every ``flush_rows`` deferred rows) as they fill, then the
    last per-row rows, the final flush, one batch of dead letters, and,
    when the session met a TABLE_MAP outside its ``known_descs``, one
    marker row at ``MISS_FILE_SEQ`` (laid out like a dead letter whose
    triage record is null)."""
    quarantine = on_error == "quarantine"

    def decode_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        session, out, vec = new_session(), new_out(), new_vec()
        dead: list[tuple] = []  # (file_seq, gtid, event_seq, log_pos, triage)

        def q_cb(fs, g, es, lp, payload, err):
            dead.append((fs, g, es, lp, _triage(payload, err, framed=False)))

        def flushed():
            for rb in vec.flush(on_error=on_error, quarantine=q_cb):
                session.rows_emitted += rb.num_rows
                yield rb

        for batch in batches:
            file_seqs = batch.column("file_seq").to_pylist()
            gtids = batch.column("gtid").to_pylist()
            event_seqs = batch.column("event_seq").to_pylist()
            blobs = _blob_views(batch.column("event_blob"))
            for i in range(batch.num_rows):
                # Snapshot so a failed event can be rolled back instead
                # of leaving the batch ragged (which would fail the whole
                # partition in RecordBatch.from_arrays — defeating quarantine
                # exactly on the events it exists for).  Lazy while the
                # batch is empty — truncate(None) clears (round-7 A/B: the
                # unconditional per-event snapshot was ~8% of clean decode
                # on the typed path, where vectorized events leave the
                # batch empty).
                marks = out.mark() if (quarantine and len(out)) else None
                try:
                    process(session, blobs[i], file_seqs[i], gtids[i],
                            event_seqs[i], out, vec)
                except Exception as e:
                    if not quarantine:
                        raise
                    out.truncate(marks)
                    mv = blobs[i]
                    # header log_pos: OK byte + timestamp, type, server_id,
                    # event_size; 0 when the packet is shorter than that
                    lp = int.from_bytes(mv[14:18], "little") if len(mv) >= 18 else 0
                    dead.append((file_seqs[i], gtids[i], event_seqs[i], lp,
                                 _triage(mv, e)))
                if len(out) >= out_batch_rows:
                    yield _rows_batch(out, schema)
                    out.truncate(None)
                if vec.rows_hint >= flush_rows:
                    # bound deferred-buffer memory (and keep string columns
                    # far below the int32 Arrow offset limit on huge
                    # inputs); sized per worker count — see _vec_flush_rows
                    yield from flushed()
        if len(out):
            yield _rows_batch(out, schema)
        yield from flushed()
        if dead:
            yield _dead_batch(dead, schema, dead_names, dead_fixed)
        if session.descriptor_miss:
            yield _dead_batch([(MISS_FILE_SEQ, 0, 0, 0, None)], schema, dead_names, dead_fixed)

    return decode_partition


def make_decoder(table_filter=None, stop_position=None, out_batch_rows: int = 8192,
                 verify_crc: bool = False, on_error: str = "raise",
                 flush_rows: int | None = None):
    """Build the envelope mapInArrow function.  One BinlogSession per
    partition: the table-map cache persists across Arrow batches within
    the partition, matching the reference reader whose cache lives for the
    connection.  Decode is columnar end to end: events with a vectorized
    plan decode in batched numpy programs (binlog/rowvec.py), the rest
    through the generic parser straight into per-column lists — no per-row
    dicts on the path.

    ``on_error="quarantine"``: an undecodable packet (CRC mismatch, parse
    error, truncated body) becomes a dead-letter row with
    ``dml_type='_corrupt'`` (triage record in ``after_values``) instead
    of failing the job; decode continues.  Default ``"raise"`` keeps
    reference-parity fail-fast semantics."""
    from ..binlog.decoder import EnvelopeBatch
    from ..binlog.rowvec import VecCollector, assemble_envelope, build_env_plan

    return _decode_driver(
        new_session=lambda: BinlogSession(
            table_filter=table_filter, stop_position=stop_position, verify_crc=verify_crc
        ),
        new_out=EnvelopeBatch,
        new_vec=lambda: VecCollector(
            build_env_plan, partial(assemble_envelope, arrow_schema=_ARROW_ENVELOPE)
        ),
        process=BinlogSession.process_packet_columnar,
        schema=_ARROW_ENVELOPE,
        dead_names=("file_seq", "gtid", "event_seq", "log_pos", "after_values"),
        dead_fixed={"timestamp": 0, "server_id": 0, "event_row_index": 1,
                    "dml_type": DML_CORRUPT},
        on_error=on_error,
        out_batch_rows=out_batch_rows,
        flush_rows=flush_rows or _vec_flush_rows(None),
    )


# ---------------------------------------------------------------------------
# typed fast path: decode straight into typed Arrow columns (no JSON
# envelope, no from_json) — the apply pipeline's hot path
# ---------------------------------------------------------------------------

# payload kind → (Arrow, Spark) type; the merge meta columns likewise
_KIND_TYPES = {
    "i": (pa.int64(), LongType()),
    "f": (pa.float64(), DoubleType()),
    "s": (pa.string(), StringType()),
}
_META_TYPES = [
    ("_deleted", pa.bool_(), BooleanType()),
    ("_gtid", pa.int64(), LongType()),
    ("_event_seq", pa.int64(), LongType()),
    ("_event_row_index", pa.int64(), LongType()),
    ("_file_seq", pa.int32(), IntegerType()),
    ("_log_pos", pa.int64(), LongType()),
]

_INT_CODES = frozenset({1, 2, 3, 8, 9, 13, 16, 247, 248})  # ints/year/bit/enum/set
_FLOAT_CODES = frozenset({4, 5})


def _payload_kinds(descs: list[str]) -> list[str]:
    """Widest per-position Arrow kind over all schema descriptors seen:
    'i' int64 / 'f' float64 / 's' string."""
    import json as _json

    kinds: list[str] = []
    for desc in descs:
        for i, (code, meta, _n) in enumerate(_json.loads(desc)):
            if code == 254:  # STRING: ENUM/SET are ints, CHAR is string
                kind = "i" if (meta >> 8) in (247, 248) else "s"
            elif code in _INT_CODES:
                kind = "i"
            elif code in _FLOAT_CODES:
                kind = "f"
            else:
                kind = "s"
            if i >= len(kinds):
                kinds.append(kind)
            elif kinds[i] != kind:
                if {kinds[i], kind} == {"i", "f"}:
                    kinds[i] = "f"
                else:
                    kinds[i] = "s"
    return kinds


def make_typed_decoder(
    column_names: list[str],
    kinds: list[str],
    key_positions: tuple[int, ...],
    table_filter=None,
    stop_position=None,
    out_batch_rows: int = 8192,
    flush_rows: int | None = None,
    on_error: str = "raise",
    known: frozenset[str] | None = None,
):
    """Typed twin of :func:`make_decoder`: returns ``(decode_partition,
    schema)``, where ``decode_partition`` maps event Arrow batches to
    typed change rows and ``schema`` is their Spark schema.

    Output columns: payload (one per ``column_names``, type per
    ``kinds``) + the merge meta columns.  DELETE rows carry only the key
    positions (from the before image) — matching the envelope-path
    semantics of ``TranscriptsApplier.typed_changes``.

    ``on_error="quarantine"``: the flagship replay path's parity with the
    envelope decoder's dead-letter contract — an undecodable packet (CRC
    mismatch, truncation, parse error) becomes a row whose payload columns
    are null and whose ``_corrupt`` column carries the triage record
    (:func:`_triage`), instead of failing the job.  The output schema
    gains the ``_corrupt`` string column ONLY in this mode (null on good
    rows).

    ``known``: the descriptors ``column_names``/``kinds`` were planned
    from.  A partition whose stream holds a TABLE_MAP (past the table
    filter) outside them decodes nothing from there on and ends with one
    marker row: ``_file_seq = MISS_FILE_SEQ``, null payload and null
    ``_corrupt``, so it survives the quarantine split and the merge's
    watermark gate, and :meth:`BucketedLakeTable.merge` raises
    :class:`DescriptorMiss` on it before writing anything."""
    from ..binlog.decoder import TypedBatch
    from ..binlog.rowvec import VecCollector, assemble_typed, build_plan

    arrow_schema = pa.schema(
        [(name, _KIND_TYPES[k][0]) for name, k in zip(column_names, kinds)]
        + [(name, at) for name, at, _st in _META_TYPES]
    )
    schema = StructType(
        [StructField(name, _KIND_TYPES[k][1], True) for name, k in zip(column_names, kinds)]
        + [StructField(name, st, False) for name, _at, st in _META_TYPES]
    )
    out_schema = arrow_schema
    if on_error == "quarantine":
        out_schema = arrow_schema.append(pa.field("_corrupt", pa.string()))
        schema = schema.add("_corrupt", StringType(), True)
    kinds_t, keys_t, n_payload = tuple(kinds), tuple(key_positions), len(column_names)

    def assemble(plan, big, walk, metas):
        rb = assemble_typed(plan, big, walk, metas, arrow_schema)
        return _padded(rb.columns, rb.num_rows, out_schema)

    decode_partition = _decode_driver(
        new_session=lambda: BinlogSession(
            table_filter=table_filter, stop_position=stop_position, known_descs=known
        ),
        new_out=lambda: TypedBatch(kinds_t, keys_t, n_payload),
        new_vec=lambda: VecCollector(
            partial(build_plan, kinds=kinds_t, key_positions=keys_t, n_payload=n_payload),
            assemble,
        ),
        process=BinlogSession.process_packet_typed,
        schema=out_schema,
        dead_names=("_file_seq", "_gtid", "_event_seq", "_log_pos", "_corrupt"),
        dead_fixed={"_deleted": False, "_event_row_index": 0},
        on_error=on_error,
        out_batch_rows=out_batch_rows,
        flush_rows=flush_rows or _vec_flush_rows(None),
    )
    return decode_partition, schema


def _bin_pack_paths(spark, paths: list[str], per_core: int = 2) -> DataFrame:
    """LPT bin-packing of segment files into decode tasks.

    One task per *file* drowns small segments in per-task overhead (~25 ms
    each) and lets one hot segment straggle a whole wave; packing by file
    size into ``per_core × parallelism`` bins gives one balanced wave with
    amortized task cost.  File size is a good proxy for decode cost (bytes
    ≈ events).  Returns a DataFrame with one JSON-encoded path list per row,
    one row per partition."""
    import heapq
    import json as _json
    import os

    n_bins = max(1, min(len(paths), spark.sparkContext.defaultParallelism * per_core))

    def size_of(p):
        try:
            return os.path.getsize(p)
        except OSError:
            return 1  # non-local FS: fall back to uniform packing

    sized = sorted(((size_of(p), p) for p in paths), reverse=True)
    bins: list[list[str]] = [[] for _ in range(n_bins)]
    heap = [(0, i) for i in range(n_bins)]
    heapq.heapify(heap)
    for sz, p in sized:
        load, i = heapq.heappop(heap)
        bins[i].append(p)
        heapq.heappush(heap, (load + sz, i))
    bins = [b for b in bins if b]
    # parallelize slices exactly one bin per partition — a round-robin
    # repartition() would clump bins (observed: 2 bins in one task, 0 in
    # another) and add a shuffle stage
    rdd = spark.sparkContext.parallelize(
        [(_json.dumps(b),) for b in bins], len(bins)
    )
    return spark.createDataFrame(rdd, "paths string")


def _decode_files(
    spark, paths: list[str], decode_partition, schema: StructType
) -> DataFrame:
    """Zero-shuffle decode: size-balanced bins of segment files, each file
    read with pyarrow inside the task and run through ``decode_partition``
    on its own (a fresh ``BinlogSession`` per file: each segment is
    self-contained)."""
    import json as _json

    import pyarrow.parquet as pq

    def decode_files(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for pblob in batch.column("paths").to_pylist():
                for path in _json.loads(pblob):
                    tbl = pq.read_table(
                        path,
                        columns=["file_seq", "gtid", "event_seq", "event_blob"],
                        use_threads=False,  # tasks are already core-parallel
                    )
                    yield from decode_partition(iter(tbl.to_batches()))

    return _bin_pack_paths(spark, paths).mapInArrow(decode_files, schema=schema)


def decode_typed_from_files(
    spark,
    paths: list[str],
    column_names: list[str],
    kinds: list[str],
    key_positions: tuple[int, ...] = (0, 1),
    table_filter=None,
    stop_position=None,
    on_error: str = "raise",
) -> DataFrame:
    """Zero-shuffle typed decode (see :func:`_decode_files`): typed Arrow
    columns out.  The bounded-replay fast path.

    ``on_error="quarantine"`` adds a ``_corrupt`` string column (null on
    good rows); undecodable packets become dead-letter rows instead of
    failing the job — see :func:`make_typed_decoder`."""
    decode_partition, schema = make_typed_decoder(
        column_names, kinds, key_positions, table_filter, stop_position,
        flush_rows=_vec_flush_rows(spark.sparkContext.defaultParallelism),
        on_error=on_error,
    )
    return _decode_files(spark, paths, decode_partition, schema)


def decode_segment_files(
    spark,
    paths: list[str],
    table_filter=None,
    stop_position: tuple[int, int] | None = None,
    out_batch_rows: int = 32768,
) -> DataFrame:
    """Zero-shuffle envelope decode (see :func:`_decode_files`).

    ``decode_changes`` must shuffle raw blobs to co-locate segments; when
    the store is laid out one-file-per-segment (our generator, and the
    natural layout of a binlog archive), the file itself is the decode unit
    — size-balanced bins of segment files give one wave of tasks with no
    data movement at all.  An event frame (a streaming micro-batch, a
    filtered scan) takes :func:`decode_changes` or :func:`decode_typed`."""
    decode_partition = make_decoder(
        table_filter=table_filter,
        stop_position=stop_position,
        out_batch_rows=out_batch_rows,
        flush_rows=_vec_flush_rows(spark.sparkContext.defaultParallelism),
    )
    return _decode_files(spark, paths, decode_partition, ENVELOPE_SCHEMA)


SCHEMA_SCAN_SCHEMA = StructType(
    [
        StructField("database", StringType(), True),
        StructField("table_name", StringType(), True),
        StructField("payload_schema", StringType(), True),
    ]
)

_ARROW_SCHEMA_SCAN = pa.schema(
    [("database", pa.string()), ("table_name", pa.string()), ("payload_schema", pa.string())]
)


def scan_schemas(events_df: DataFrame) -> DataFrame:
    """Light pre-pass: parse only the 19-byte headers and TABLE_MAP events,
    emitting (database, table_name, payload_schema) rows.  Row decode is
    skipped entirely, so this costs ~1% of a full decode — it feeds the
    typed-extraction schema without persisting the decoded envelope.

    When the source carries the ``event_type`` column (segment stores
    written by this engine do), the TABLE_MAP predicate is pushed into the
    parquet scan so only TABLE_MAP blobs ever reach Python."""
    from ..binlog.constants import EventType
    from ..binlog.decoder import table_map_descs

    if "event_type" in events_df.columns:
        events_df = events_df.filter(
            F.col("event_type") == int(EventType.TABLE_MAP)
        ).select("event_blob")

    def scan(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        seen: set[bytes] = set()
        rows: list[tuple[str, str, str]] = []
        for batch in batches:
            rows.extend(table_map_descs(_blob_views(batch.column("event_blob")), seen))
        if rows:
            yield pa.RecordBatch.from_pydict(
                {
                    "database": [r[0] for r in rows],
                    "table_name": [r[1] for r in rows],
                    "payload_schema": [r[2] for r in rows],
                },
                schema=_ARROW_SCHEMA_SCAN,
            )

    return events_df.mapInArrow(scan, schema=SCHEMA_SCAN_SCHEMA).distinct()


def _decode_events(
    events_df: DataFrame,
    decode_partition,
    schema: StructType,
    from_position: tuple[int, int] | None,
    prefix: str,
    already_partitioned: bool = False,
) -> DataFrame:
    """The event-frame decode both outputs share.  ``from_position``:
    segments below the from-file are pruned before the decode; the
    intra-file cut runs on the decoded rows (position columns named with
    ``prefix``), so the TABLE_MAP state preceding the position is kept."""
    from .position import position_at_least

    df = events_df
    if from_position is not None:
        df = df.filter(F.col("file_seq") >= int(from_position[0]))
    if not already_partitioned:
        # RANGE-partition whole segments together, then order within.
        # Hash partitioning here had classic few-distinct-keys skew: ~2×
        # parallelism segment ids hashed into parallelism partitions leave
        # some partitions with 3-4 segments and others empty, so the
        # decode wave ran at the speed of the unluckiest task (paired A/B
        # at sf1.0: range median 2.78s vs hash 3.24s, worst trial 2.9s vs
        # 5.4s).  Ranges at 2× parallelism keep every partition to ~one
        # contiguous segment run; equal keys still land together, which is
        # all segment-integral decode needs.  The partition count is
        # explicit: AQE would otherwise coalesce this small-by-bytes
        # shuffle into one task and serialize the decode — blob bytes are
        # a bad proxy for decode CPU (each blob fans out to ~85 envelope
        # rows).
        n = events_df.sparkSession.sparkContext.defaultParallelism
        df = df.repartitionByRange(2 * n, "file_seq").sortWithinPartitions(
            "file_seq", "offset"
        )
    out = df.mapInArrow(decode_partition, schema=schema)
    if from_position is None:
        return out
    fs, pos = F.col(f"{prefix}file_seq"), F.col(f"{prefix}log_pos")
    return out.filter(position_at_least(fs, pos, *from_position))


def decode_changes(
    events_df: DataFrame,
    table_filter=None,
    stop_position: tuple[int, int] | None = None,
    already_partitioned: bool = False,
    verify_crc: bool = False,
    on_error: str = "raise",
    from_position: tuple[int, int] | None = None,
) -> DataFrame:
    """Decode a DataFrame of raw framed packets into the change envelope.

    ``events_df`` columns: file_seq int, offset long, gtid long,
    event_seq long, event_blob binary.

    ``stop_position``: (file_seq, log_pos) exclusive upper bound — events
    whose log_pos >= bound are excluded (binlog_reader.zig:443-455).
    ``from_position``: (file_seq, log_pos) inclusive lower bound (see
    :func:`_decode_events`).

    ``already_partitioned``: skip the repartition+sort when the caller
    guarantees segment-aligned, offset-ordered partitions (e.g. one source
    file per segment read with a file-per-partition layout).

    ``on_error="quarantine"``: undecodable packets become dead-letter rows
    (``dml_type='_corrupt'``, error + hex prefix in ``after_values``)
    instead of failing the job — route them with
    ``df.filter("dml_type = '_corrupt'")``; appliers exclude them.
    """
    decode_partition = make_decoder(
        table_filter=table_filter,
        stop_position=stop_position,
        verify_crc=verify_crc,
        on_error=on_error,
        flush_rows=_vec_flush_rows(events_df.sparkSession.sparkContext.defaultParallelism),
    )
    return _decode_events(
        events_df, decode_partition, ENVELOPE_SCHEMA, from_position, "",
        already_partitioned,
    )


def decode_typed(
    events_df: DataFrame,
    column_names: list[str],
    kinds: list[str],
    key_positions: tuple[int, ...] = (0, 1),
    table_filter=None,
    stop_position: tuple[int, int] | None = None,
    from_position: tuple[int, int] | None = None,
    on_error: str = "raise",
    known: frozenset[str] | None = None,
) -> DataFrame:
    """Typed twin of :func:`decode_changes`: the same event frame, the
    same segment ordering and position bounds, typed change rows out (see
    :func:`make_typed_decoder`, also for ``known``) — no JSON envelope, no
    ``from_json``.  A ``from_position`` cut would drop ``known``'s marker
    row: pass one or the other."""
    if known is not None and from_position is not None:
        raise ValueError("decode_typed: known and from_position exclude each other")
    decode_partition, schema = make_typed_decoder(
        column_names, kinds, key_positions, table_filter, stop_position,
        flush_rows=_vec_flush_rows(events_df.sparkSession.sparkContext.defaultParallelism),
        on_error=on_error, known=known,
    )
    return _decode_events(events_df, decode_partition, schema, from_position, "_")
