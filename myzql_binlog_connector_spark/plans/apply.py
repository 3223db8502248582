"""CDC apply: raw events → typed rows → exactly-once LWW merge.

The decode half of the J2/T5/T6/A2 operators of SURVEY.md §2: typed
decode of row images (segment files via ``apply_files``, an event frame
such as a streaming micro-batch via ``apply_events``; both run one body,
``_apply_typed``) into typed change rows that carry their binlog position
(``_file_seq``, ``_log_pos``).  Every route hands that frame to
:meth:`BucketedLakeTable.merge`, which owns exactly-once: it gates
redelivered rows against the per-file_seq watermarks of the manifest it
commits on, LWW-reduces, and commits the data, the advanced watermarks and
the lineage/metrics record atomically.  A decoded envelope
(``apply_batch``) is typed JVM-side with ``from_json``.

The typed decode needs the batch's TABLE_MAP descriptors up front.
``apply_files`` reads them from the store's sidecar; ``apply_events``
decodes with those of the applier's last typed commit and scans the batch
for them (a TABLE_MAP-only pre-pass, 2 Spark jobs) only when the decoder
meets one it was not given — that is, after DDL — or when nothing is
remembered yet.  Each commit record says which route ran
(``descriptor_scan``).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ..binlog.constants import ColumnType
from ..functions.decode import (
    DML_CORRUPT,
    _payload_kinds,
    decode_changes,
    decode_typed,
    decode_typed_from_files,
    scan_schemas,
)
from ..sources.segments import read_sidecars
from .lake import BucketedLakeTable, DescriptorMiss, _widened


# MySQL column-type code → Spark type for typed extraction (SURVEY.md §1.2)
_CODE_TO_SPARK = {
    ColumnType.TINY: T.ByteType(),
    ColumnType.SHORT: T.ShortType(),
    ColumnType.INT24: T.IntegerType(),
    ColumnType.LONG: T.IntegerType(),
    ColumnType.LONGLONG: T.LongType(),
    ColumnType.FLOAT: T.FloatType(),
    ColumnType.DOUBLE: T.DoubleType(),
    ColumnType.YEAR: T.ShortType(),
    ColumnType.DATE: T.DateType(),
    ColumnType.DATETIME: T.TimestampNTZType(),
    ColumnType.DATETIME2: T.TimestampNTZType(),
    ColumnType.TIMESTAMP: T.TimestampType(),
    ColumnType.TIMESTAMP2: T.TimestampType(),
    ColumnType.TIME: T.StringType(),
    ColumnType.TIME2: T.StringType(),
    ColumnType.VARCHAR: T.StringType(),
    ColumnType.VAR_STRING: T.StringType(),
    ColumnType.JSON: T.StringType(),
    ColumnType.BIT: T.LongType(),
}


def spark_type_for(code: int, meta: int) -> T.DataType:
    if code == ColumnType.NEWDECIMAL:
        precision, scale = meta >> 8, meta & 0xFF
        if precision <= 38:
            return T.DecimalType(precision, scale)
        return T.StringType()  # exact-fidelity fallback, like the reference
    if code == ColumnType.STRING:
        real = meta >> 8
        if real in (ColumnType.ENUM, ColumnType.SET):
            return T.LongType()
        return T.StringType()
    if code in (
        ColumnType.TINY_BLOB,
        ColumnType.MEDIUM_BLOB,
        ColumnType.LONG_BLOB,
        ColumnType.BLOB,
        ColumnType.GEOMETRY,
    ):
        return T.StringType()  # hex-rendered 0x… in the envelope (P15)
    return _CODE_TO_SPARK.get(code, T.StringType())


def payload_struct_from_descs(descs: list[str]) -> T.StructType:
    """Union the distinct compact schema descriptors seen in a batch into
    the widest positional struct (c0..cN).  Column add → longer list; type
    widen (LONG→LONGLONG, FLOAT→DOUBLE) → wider Spark type."""
    widest: list[T.DataType] = []
    for desc in descs:
        cols = json.loads(desc)
        for i, (code, meta, _nullable) in enumerate(cols):
            st = spark_type_for(code, meta)
            if i >= len(widest):
                widest.append(st)
            elif widest[i] != st:
                # the lake's widening rule; anything else falls back to
                # the exact-fidelity string
                a = widest[i].simpleString()
                w = _widened(a, st.simpleString())
                if w is None:
                    widest[i] = T.StringType()
                elif w != a:
                    widest[i] = st
    return T.StructType(
        [T.StructField(f"c{i}", dt, True) for i, dt in enumerate(widest)]
    )


def utc_timestamp(col):
    """Parse an engine timestamp string (UTC wall time, the decoder's
    contract) into TimestampType pinned to UTC regardless of
    ``spark.sql.session.timeZone``: a plain cast would interpret the wall
    time in the session zone and silently shift every value for non-UTC
    consumers."""
    return F.from_utc_timestamp(col.cast("timestamp"), F.expr("current_timezone()"))


def _kinds_agree(descs: list[str]) -> bool:
    """Every descriptor has the same payload kind at every position they
    share (a column added at the end never disagrees)."""
    kinds = [_payload_kinds([d]) for d in descs]
    width = max(map(len, kinds))
    return all(len({k[i] for k in kinds if i < len(k)}) == 1 for i in range(width))


def _desc_matches(table_filter, database: str | None, table: str | None) -> bool:
    if table_filter is None or database is None or table is None:
        return True
    return bool(table_filter(database, table))


class SchemaNarrowingError(ValueError):
    """A TABLE_MAP announced FEWER columns than are configured for the
    table.  The binlog row format (without ``binlog_row_metadata=FULL``)
    carries no column names, so a dropped column is positionally
    ambiguous: mapping the narrower row onto the configured name list
    would silently shift every value after the dropped position into the
    wrong column (the classic post-``ALTER TABLE ... DROP COLUMN``
    corruption).  Pass ``narrowed_names={count: [surviving names in
    order]}`` to the applier to declare which columns survived."""


class TranscriptsApplier:
    """Apply decoded transcript changes into a BucketedLakeTable.

    ``column_names`` maps envelope positions c0..cN to logical names; new
    columns appearing mid-stream (TABLE_MAP evolution) get the next name in
    ``extra_names`` or ``c{i}``.  A NARROWER TABLE_MAP (``ALTER TABLE ...
    DROP COLUMN``) raises :class:`SchemaNarrowingError` unless
    ``narrowed_names={count: [surviving names in configured order]}``
    declares the mapping — dropped columns read as NULL from then on, and
    the lake column survives (merge null-pads absent columns).
    """

    def __init__(
        self,
        spark: SparkSession,
        table: BucketedLakeTable,
        column_names: list[str] = ("conv_id", "turn_idx", "role", "text", "tool", "ts"),
        extra_names: list[str] = ("score",),
        key_positions: tuple[int, int] = (0, 1),
        narrowed_names: dict[int, list[str]] | None = None,
    ):
        self.spark = spark
        self.table = table
        self.column_names = list(column_names)
        self.extra_names = list(extra_names)
        self.key_positions = key_positions
        self.narrowed_names = {
            int(k): list(v) for k, v in (narrowed_names or {}).items()
        }
        # (table_filter, descs) of the last typed commit: apply_events'
        # decode hint.  In memory only — a miss is always detected, so a
        # new process just pays one descriptor scan.
        self._known: tuple | None = None

    def _name_for(self, i: int) -> str:
        if i < len(self.column_names):
            return self.column_names[i]
        j = i - len(self.column_names)
        if j < len(self.extra_names):
            return self.extra_names[j]
        return f"c{i}"

    def _names_for_count(self, n: int) -> list[str]:
        """Logical names for a TABLE_MAP of ``n`` columns.  ``n`` at or
        above the configured width is the add-column convention (appended
        positions take ``extra_names`` / ``c{i}``); below it the mapping
        is ambiguous without an explicit ``narrowed_names`` declaration
        and raising beats silently shifting values (see
        :class:`SchemaNarrowingError`)."""
        base = len(self.column_names)
        if n >= base:
            return [self._name_for(i) for i in range(n)]
        nn = self.narrowed_names.get(n)
        if nn is None:
            raise SchemaNarrowingError(
                f"TABLE_MAP announces {n} columns but {base} are configured "
                f"({self.column_names}) — a dropped column is positionally "
                f"ambiguous in the binlog row format, and decoding the "
                f"narrower rows against the configured names would shift "
                f"values into the wrong columns.  Declare the surviving "
                f"columns: narrowed_names={{{n}: [...]}}"
            )
        if len(nn) != n:
            raise ValueError(
                f"narrowed_names[{n}] has {len(nn)} names, need exactly {n}"
            )
        unknown = [x for x in nn if x not in self.column_names]
        if unknown:
            raise ValueError(
                f"narrowed_names[{n}] names columns not in the configured "
                f"schema: {unknown}"
            )
        idxs = [self.column_names.index(x) for x in nn]
        if idxs != sorted(idxs):
            raise ValueError(
                f"narrowed_names[{n}] must preserve the configured column "
                f"order (a DROP never reorders survivors): {nn}"
            )
        key_names = [self.column_names[p] for p in self.key_positions]
        dropped_keys = [k for k in key_names if k not in nn]
        if dropped_keys:
            raise ValueError(
                f"narrowed_names[{n}] drops key column(s) {dropped_keys} — "
                f"the merge key cannot be dropped"
            )
        return list(nn)

    # ------------------------------------------------------------------

    def typed_changes(self, envelope: DataFrame, descs: list[str] | None = None) -> DataFrame:
        """Envelope → typed change rows (payload cols + key + meta cols).

        ``from_json`` is JVM-side; without ``descs`` the only driver work
        is collecting the tiny distinct set of schema descriptors.

        Dead-letter rows (``dml_type='_corrupt'``, produced by decode's
        quarantine mode) are excluded here — they carry no payload and
        must never merge; route them separately with
        ``envelope.filter("dml_type = '_corrupt'")``.

        A TABLE_MAP NARROWER than the configured schema (``ALTER TABLE
        ... DROP COLUMN``) raises :class:`SchemaNarrowingError` unless
        ``narrowed_names`` declares the surviving columns; with the
        declaration, rows are remapped per descriptor width (a cheap
        ``payload_schema IN (...)`` split over the handful of distinct
        descriptors — the steady-state single-width path is untouched)."""
        envelope = envelope.filter(F.col("dml_type") != "_corrupt")
        if descs is None:
            descs = [
                r[0]
                for r in envelope.select("payload_schema").distinct().collect()
                if r[0] is not None
            ]
        if not descs:
            descs = ["[]"]
        base = len(self.column_names)
        by_count: dict[int, list[str]] = {}
        for d in dict.fromkeys(descs):
            by_count.setdefault(len(json.loads(d)), []).append(d)
        if base == 0 or min(by_count) >= base:
            names = [self._name_for(i) for i in range(max(by_count))]
            return self._typed_uniform(envelope, descs, names, self.key_positions)
        # narrowing present: remap each descriptor-width group through its
        # declared surviving-name list, then union (widest group first so
        # the output keeps the configured column order)
        key_names = [self.column_names[p] for p in self.key_positions]
        frames = []
        for n in sorted(by_count, reverse=True):
            names = self._names_for_count(n)
            keys = tuple(names.index(k) for k in key_names)
            subset = envelope.filter(F.col("payload_schema").isin(by_count[n]))
            frames.append(self._typed_uniform(subset, by_count[n], names, keys))
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f, allowMissingColumns=True)
        return out

    def _typed_uniform(
        self,
        envelope: DataFrame,
        descs: list[str],
        names: list[str],
        key_positions: tuple[int, ...],
    ) -> DataFrame:
        """Positional envelope → typed rows for ONE consistent name
        mapping (position i ↔ ``names[i]`` for every desc in the group)."""
        struct = payload_struct_from_descs(descs)
        # TIMESTAMP columns parse as strings first, then pin to UTC —
        # from_json with TimestampType would use the session time zone
        parse_struct = T.StructType(
            [
                T.StructField(
                    f.name,
                    T.StringType() if isinstance(f.dataType, T.TimestampType) else f.dataType,
                    True,
                )
                for f in struct.fields
            ]
        )

        def typed(col, field: T.StructField):
            return utc_timestamp(col) if isinstance(field.dataType, T.TimestampType) else col

        df = envelope.withColumn(
            "_after", F.from_json("after_values", parse_struct)
        ).withColumn("_before", F.from_json("before_values", parse_struct))

        meta_cols = [
            F.col("gtid").alias("_gtid"),
            F.col("event_seq").alias("_event_seq"),
            F.col("event_row_index").alias("_event_row_index"),
            F.col("file_seq").alias("_file_seq"),
            F.col("log_pos").alias("_log_pos"),
        ]
        cols, tcols = [], []
        for i, field in enumerate(struct.fields):
            name = names[i]
            after, before = F.col(f"_after.c{i}"), F.col(f"_before.c{i}")
            if i in key_positions:
                cols.append(typed(F.coalesce(after, before), field).alias(name))
                tcols.append(typed(before, field).alias(name))
            else:
                cols.append(typed(after, field).alias(name))
                tcols.append(F.lit(None).cast(field.dataType).alias(name))
        upsert = F.struct(
            *cols, (F.col("dml_type") == F.lit("DELETE")).alias("_deleted"), *meta_cols
        )

        # a PK-changing UPDATE upserts the new key but would leave the
        # old-key row live forever: the same pass emits a tombstone for the
        # before key (same ordering triple — it cannot collide with the
        # upsert, which lives under the new key), so each row expands to a
        # 1- or 2-element array and the input is read once
        tomb = F.struct(*tcols, F.lit(True).alias("_deleted"), *meta_cols)
        diff = F.lit(False)
        for i in key_positions:
            diff = diff | ~F.col(f"_before.c{i}").eqNullSafe(F.col(f"_after.c{i}"))
        key_change = (
            (F.col("dml_type") == F.lit("UPDATE")) & diff & F.col("before_values").isNotNull()
        )
        rows = F.slice(F.array(upsert, tomb), 1, 1 + key_change.cast("int"))
        return df.select(F.inline(rows))

    def apply_files(
        self,
        paths: list[str],
        batch_id: int | None = None,
        table_filter=None,
        stop_position: tuple[int, int] | None = None,
        on_error: str = "raise",
    ) -> dict:
        """Bounded replay of segment files through :meth:`_apply_typed`,
        decoded by the zero-shuffle bin-packed file reader
        (:func:`decode_typed_from_files`).  Descriptors come from the
        ``_schemas.json`` sidecars of every store directory in ``paths``
        (paths may span stores); when any of them has none, from a
        TABLE_MAP-only pre-pass over all ``paths``."""
        entries = read_sidecars(paths)
        if entries is None:
            descs = self._scan_descs(self.spark.read.parquet(*paths), table_filter)
        else:
            descs = [d for db, tbl, d in entries if _desc_matches(table_filter, db, tbl)]
        return self._apply_typed(
            descs,
            table_filter,
            entries is None,
            batch_id,
            on_error,
            lambda names, kinds: decode_typed_from_files(
                self.spark, paths, names, kinds, key_positions=self.key_positions,
                table_filter=table_filter, stop_position=stop_position, on_error=on_error,
            ),
            lambda: decode_changes(
                self.spark.read.parquet(*paths), table_filter=table_filter,
                stop_position=stop_position, on_error=on_error,
            ),
        )

    def apply_events(
        self,
        events: DataFrame,
        batch_id: int | None = None,
        table_filter=None,
        stop_position: tuple[int, int] | None = None,
        from_position: tuple[int, int] | None = None,
        on_error: str = "raise",
    ) -> dict:
        """Apply an event frame (segment-store columns; a streaming
        micro-batch) through :meth:`_apply_typed`, decoded by
        :func:`decode_typed`.

        Descriptors: those of this applier's last typed commit (its
        sidecar's, its pre-pass's or these very ones), when it had one under
        the same ``table_filter`` and the batch has no position bound.  The
        decoder is handed them as the known set, so a TABLE_MAP outside it
        (DDL, a new table) makes the merge raise :class:`DescriptorMiss`
        before it writes; the batch then takes the route every other batch
        takes: a TABLE_MAP-only pre-pass over ``events``
        (:meth:`_scan_descs`), then the decode.  The commit record's
        ``descriptor_scan`` says whether the pre-pass ran."""
        bounds = dict(
            table_filter=table_filter, stop_position=stop_position,
            from_position=from_position, on_error=on_error,
        )

        def apply(descs, known):
            return self._apply_typed(
                descs,
                table_filter,
                known is None,
                batch_id,
                on_error,
                lambda names, kinds: decode_typed(
                    events, names, kinds, self.key_positions, known=known, **bounds
                ),
                lambda: decode_changes(events, **bounds),
            )

        if self._known and self._known[0] is table_filter and not (
            stop_position or from_position
        ):
            descs = self._known[1]
            try:
                return apply(descs, frozenset(descs))
            except DescriptorMiss:
                pass
        return apply(self._scan_descs(events, table_filter), None)

    @staticmethod
    def _scan_descs(events: DataFrame, table_filter) -> list[str]:
        rows = scan_schemas(events).collect()
        return [desc for db, tbl, desc in rows if _desc_matches(table_filter, db, tbl)]

    def _apply_typed(
        self, descs, table_filter, scanned, batch_id, on_error, read_typed, read_envelope
    ) -> dict:
        """The one typed apply: descriptors → narrowing check → typed
        decode (the caller's reader: ``read_typed(names, kinds)``, or
        ``read_envelope()`` for a narrowed batch) → cast → quarantine
        split → :meth:`BucketedLakeTable.merge`, whose record gains
        ``descriptor_scan`` (``scanned``: the descriptors came from a
        pre-pass over the batch).
        ``on_error="quarantine"``: dead letters are written to
        ``{table}/_quarantine/batch-{id}/``, counted in the record
        (``quarantined_rows``) and never merged.

        A typed-route batch that returns leaves ``(table_filter, descs)``
        as :meth:`apply_events`' decode hint when its descriptors agree on
        the payload kind at every shared position: ones that disagree (a
        VARCHAR → INT change) widen the position to a string, which a batch
        of only the new descriptor would not, so those batches scan.  A
        narrowed batch (envelope route) forgets the hint."""
        if not descs:
            return {"batch_id": batch_id, "skipped": True, "input_rows": 0}
        lineage = {"descriptor_scan": scanned}
        base = len(self.column_names)
        narrowed = {n for n in (len(json.loads(d)) for d in set(descs)) if n < base}
        if narrowed:
            # schema narrowing (DROP COLUMN) in this batch: the typed
            # kernel is positional end-to-end, so route this batch through
            # the envelope path's per-descriptor remap (typed_changes).
            # DDL drops are one-batch rarities — steady state stays on the
            # typed kernel; validation raises SchemaNarrowingError up
            # front when no narrowed_names is declared, which beats
            # positionally-shifted corruption.
            for n in narrowed:
                self._names_for_count(n)
            self._known = None
            frame = read_envelope()
            # dead letters are split off here, in the typed sink's column
            # shape (typed_changes drops them), so triage tooling reads one
            # schema whichever route a batch took
            def dead(env):
                return env.filter(F.col("dml_type") == DML_CORRUPT).select(
                    F.col("file_seq").alias("_file_seq"),
                    F.col("gtid").alias("_gtid"),
                    F.col("event_seq").alias("_event_seq"),
                    F.col("log_pos").alias("_log_pos"),
                    F.col("after_values").alias("_corrupt"),
                )

            def merge(env):
                typed = self.typed_changes(env, descs=descs)
                return {
                    **self.table.merge(typed, batch_id, extra_lineage=lineage),
                    "narrowed_route": True,
                }
        else:
            struct = payload_struct_from_descs(descs)
            names = [self._name_for(i) for i in range(len(struct.fields))]
            frame = read_typed(names, _payload_kinds(descs))
            # cast payload columns to their exact Spark types (string→
            # timestamp, int64→int, string→decimal, …) in one projection;
            # TIMESTAMP strings are UTC wall times and must not pass
            # through the session TZ
            casts = {
                name: (
                    utc_timestamp(F.col(name))
                    if isinstance(field.dataType, T.TimestampType)
                    else F.col(name).cast(field.dataType)
                ).alias(name)
                for name, field in zip(names, struct.fields)
            }
            frame = frame.select(*[casts.get(c, c) for c in frame.columns])

            def dead(typed):
                return typed.filter(F.col("_corrupt").isNotNull()).select(
                    "_file_seq", "_gtid", "_event_seq", "_log_pos", "_corrupt"
                )

            def merge(typed):
                if on_error == "quarantine":
                    typed = typed.filter(F.col("_corrupt").isNull()).drop("_corrupt")
                rec = self.table.merge(typed, batch_id, extra_lineage=lineage)
                self._known = (table_filter, descs) if _kinds_agree(descs) else None
                return rec
        if on_error != "quarantine":
            return merge(frame)
        # one decode feeds both the dead-letter split and the merge: persist
        # at batch granularity, split, sink the dead letters, merge the rest
        frame = frame.persist()
        try:
            n_dead = self._sink_dead_letters(dead(frame), batch_id)
            rec = merge(frame)
            rec["quarantined_rows"] = n_dead
            return rec
        finally:
            frame.unpersist()

    def _sink_dead_letters(self, dead: DataFrame, batch_id: int) -> int:
        """Write a batch's dead letters (``_file_seq``, ``_gtid``,
        ``_event_seq``, ``_log_pos``, ``_corrupt``) as one parquet file
        under ``{table}/_quarantine/batch-{id}/`` — the same DLQ dir and
        shape whichever route the batch took — and return their count
        (no dir when there are none)."""
        n_dead = dead.count()
        if n_dead:
            dlq_dir = os.path.join(self.table.path, "_quarantine", f"batch-{batch_id}")
            dead.coalesce(1).write.mode("overwrite").parquet(dlq_dir)
        return n_dead

    def bootstrap(self, snapshot: DataFrame, batch_id: int | None = None) -> dict:
        """Initial-load phase (the Debezium-snapshot analogue): merge a
        consistent table snapshot — taken at a known binlog position —
        before the CDC tail starts.

        Snapshot rows enter the LWW merge with order keys ``(_gtid,
        _event_seq, _event_row_index) = (0, 0, 0)``, strictly BELOW every
        real binlog change, so any change replayed from the snapshot
        position forward wins; rows untouched by the tail keep their
        snapshot values.  ``_file_seq = 0`` keeps the snapshot's watermark
        out of the binlog segments' redelivery gates.  The handoff is then
        just the normal resumable replay over segments at/after the
        snapshot position — no special dual-phase state machine (pinned by
        tests/test_bootstrap.py: bootstrap(state@segment1) + replay of
        segment 2 == full replay of both segments).

        ``snapshot`` carries exactly the payload columns (key columns
        included); types should already match the table's."""
        typed = (
            snapshot
            .withColumn("_deleted", F.lit(False))
            .withColumn("_gtid", F.lit(0).cast("bigint"))
            .withColumn("_event_seq", F.lit(0).cast("bigint"))
            .withColumn("_event_row_index", F.lit(0).cast("bigint"))
            .withColumn("_file_seq", F.lit(0).cast("int"))
            .withColumn("_log_pos", F.lit(0).cast("bigint"))
        )
        return self.table.merge(typed, batch_id)

    def apply_envelope_subset(
        self, envelope: DataFrame, batch_id: int | None, descs: list[str] | None
    ) -> dict:
        """Apply a pre-filtered (single-table) envelope with known descs."""
        typed = self.typed_changes(envelope, descs=descs)
        return self.table.merge(typed, batch_id)

    def apply_batch(self, envelope: DataFrame, batch_id: int | None = None) -> dict:
        """Decoded-envelope batch → exactly-once merge.  Returns the commit
        lineage record (or a skip record when everything was redelivered).
        The envelope is persisted: the descriptor scan and the typed
        extraction both read it.  Raw events take :meth:`apply_events`."""
        envelope = envelope.persist()
        try:
            return self.apply_envelope_subset(envelope, batch_id, None)
        finally:
            envelope.unpersist()


class MultiTableApplier:
    """Fan-out CDC apply: one decoded change stream → one BucketedLakeTable
    per source (database, table).

    The reference logs all tables into a single output stream; a lake
    deployment lands each source table in its own merge table.  Routing is
    a cheap partition-pruned filter per table (the envelope carries
    database/table_name columns), schemas come from each table's own
    TABLE_MAP descriptors, and every per-table merge keeps the same
    exactly-once watermark contract.  Tables are discovered from the
    batch's descriptors — a brand-new source table starts landing without
    any registration step.

    ``table_specs``: optional {(db, table): {"column_names": [...],
    "key_positions": (...), "n_buckets": N, "narrowed_names": {...}}}
    overrides; unlisted tables default to position-named columns (c0..cN)
    keyed on position 0 (position naming never narrows — any width maps).
    """

    def __init__(
        self,
        spark: SparkSession,
        root_path: str,
        table_specs: dict | None = None,
        default_key_positions: tuple[int, ...] = (0,),
        n_buckets: int = 64,
    ):
        self.spark = spark
        self.root_path = root_path
        self.table_specs = dict(table_specs or {})
        self.default_key_positions = tuple(default_key_positions)
        self.n_buckets = n_buckets

    def table_path(self, database: str, table: str) -> str:
        return os.path.join(self.root_path, database, table)

    def table_for(self, database: str, table: str):
        spec = self.table_specs.get((database, table), {})
        names = spec.get("column_names")
        keys = spec.get("key_positions", self.default_key_positions)
        key_cols = [names[i] for i in keys] if names else [f"c{i}" for i in keys]
        return BucketedLakeTable(
            self.spark,
            self.table_path(database, table),
            key_cols,
            n_buckets=spec.get("n_buckets", self.n_buckets),
            stats_cols=spec.get("stats_cols"),
        )

    def apply_events(
        self,
        events: DataFrame,
        batch_id: int | None = None,
        table_filter=None,
        stop_position: tuple[int, int] | None = None,
        from_position: tuple[int, int] | None = None,
        on_error: str = "raise",
    ) -> dict:
        """Event frame → one envelope decode → :meth:`apply_batch`'s
        per-table fan-out."""
        envelope = decode_changes(
            events, table_filter=table_filter, stop_position=stop_position,
            from_position=from_position, on_error=on_error,
        )
        return self.apply_batch(envelope, batch_id)

    def apply_batch(
        self,
        envelope: DataFrame,
        batch_id: int | None = None,
        parallelism: int | None = None,
    ) -> dict:
        """Route the batch per (database, table) and merge each into its own
        lake table.  Returns {(db, table): commit_record}.

        ``parallelism``: per-table merges are independent Spark jobs over
        the SAME persisted envelope (separate table dirs, separate CAS
        locks), so they submit concurrently — Spark's scheduler interleaves
        their tasks and the serialized per-table driver/job overhead
        (watermark collect, manifest IO) overlaps.  Defaults to
        ``min(4, n_tables)``; pass 1 to force the sequential path.  A
        per-table failure leaves that table un-merged while others commit —
        the same partial-commit state the sequential loop can leave, and
        equally recoverable: redelivering the batch is a watermark-gated
        no-op for the tables that committed."""
        from concurrent.futures import ThreadPoolExecutor

        # the envelope is filtered once per (db, table) below — persisted
        # so the micro-batch decode runs once, not N_tables times
        envelope = envelope.persist()
        desc_rows = (
            envelope.select("database", "table_name", "payload_schema")
            .distinct()
            .collect()
        )
        by_table: dict = {}
        for r in desc_rows:
            if r["database"] is None or r["payload_schema"] is None:
                continue  # dead-letter rows (quarantine mode) route nowhere
            by_table.setdefault((r["database"], r["table_name"]), []).append(
                r["payload_schema"]
            )
        def one(db, tbl, descs):
            spec = self.table_specs.get((db, tbl), {})
            names = spec.get("column_names")
            keys = spec.get("key_positions", self.default_key_positions)
            table = self.table_for(db, tbl)
            applier = TranscriptsApplier(
                self.spark,
                table,
                column_names=names or (),
                extra_names=(),
                key_positions=tuple(keys),
                narrowed_names=spec.get("narrowed_names"),
            )
            subset = envelope.filter(
                (F.col("database") == db) & (F.col("table_name") == tbl)
            )
            return applier.apply_envelope_subset(subset, batch_id, descs)

        work = sorted(by_table.items())
        n_workers = max(1, min(parallelism or 4, len(work)))
        try:
            if n_workers == 1:
                return {k: one(*k, descs) for k, descs in work}
            with ThreadPoolExecutor(max_workers=n_workers) as ex:
                futs = {k: ex.submit(one, *k, descs) for k, descs in work}
                return {k: f.result() for k, f in futs.items()}
        finally:
            envelope.unpersist()
