"""CDC apply: change-event envelope → typed rows → exactly-once LWW merge.

The J2/T5/T6/A2 operators of SURVEY.md §2: typed extraction of row images
from the positional-JSON envelope (JVM-side ``from_json`` — no Python),
per-file_seq watermark gating for idempotent redelivery, LWW dedup,
and a merge into :class:`BucketedLakeTable` with lineage/metrics recorded in
the same atomic commit.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ..binlog.constants import ColumnType
from .lake import BucketedLakeTable, local_relation


def gate_redelivered(changes: DataFrame, wm: DataFrame) -> DataFrame:
    """The exactly-once redelivery gate (T5/T6) both appliers share: drop
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
    rank = {"tinyint": 0, "smallint": 1, "int": 2, "bigint": 3, "float": 0, "double": 1}
    for desc in descs:
        cols = json.loads(desc)
        for i, (code, meta, _nullable) in enumerate(cols):
            st = spark_type_for(code, meta)
            if i >= len(widest):
                widest.append(st)
            elif widest[i] != st:
                a, b = widest[i].simpleString(), st.simpleString()
                if {a, b} <= {"tinyint", "smallint", "int", "bigint"} or {a, b} <= {
                    "float",
                    "double",
                }:
                    widest[i] = widest[i] if rank[a] >= rank[b] else st
                elif (
                    isinstance(widest[i], T.DecimalType)
                    and isinstance(st, T.DecimalType)
                    and widest[i].scale == st.scale
                ):
                    # DECIMAL precision widen, same scale (the
                    # Iceberg-compatible direction); scale changes fall
                    # through to the exact-fidelity string fallback
                    if st.precision > widest[i].precision:
                        widest[i] = st
                else:
                    widest[i] = T.StringType()
    return T.StructType(
        [T.StructField(f"c{i}", dt, True) for i, dt in enumerate(widest)]
    )


def utc_timestamp_col(name: str):
    """Parse an engine envelope timestamp string (UTC wall time, the
    decoder's contract) into TimestampType pinned to UTC regardless of
    ``spark.sql.session.timeZone``: a plain cast would interpret the wall
    time in the session zone and silently shift every value for non-UTC
    consumers."""
    return F.expr(
        f"from_utc_timestamp(cast(`{name}` as timestamp), current_timezone())"
    )


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

        ``from_json`` is JVM-side; the only driver work is collecting the
        tiny distinct set of schema descriptors (bounded by the number of
        TABLE_MAP variants in the batch, not by row count).  Pass ``descs``
        (e.g. from ``scan_schemas`` over the raw events) to avoid a full
        decode pass for the descriptor scan.

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
            if isinstance(field.dataType, T.TimestampType):
                return F.from_utc_timestamp(
                    col.cast("timestamp"), F.expr("current_timezone()")
                )
            return col

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
        cols = []
        for i, field in enumerate(struct.fields):
            name = names[i]
            src = (
                F.coalesce(F.col(f"_after.c{i}"), F.col(f"_before.c{i}"))
                if i in key_positions
                else F.col(f"_after.c{i}")
            )
            cols.append(typed(src, field).alias(name))
        base = df.select(
            *cols,
            (F.col("dml_type") == F.lit("DELETE")).alias("_deleted"),
            *meta_cols,
        )

        # a PK-changing UPDATE upserts the new key but would leave the
        # old-key row live forever: emit an extra tombstone for the before
        # key (same ordering triple — it cannot collide with the upsert,
        # which lives under the new key)
        key_change = F.col("dml_type") == F.lit("UPDATE")
        diff = F.lit(False)
        for i in key_positions:
            diff = diff | ~F.col(f"_before.c{i}").eqNullSafe(F.col(f"_after.c{i}"))
        tomb_src = df.filter(key_change & diff & F.col("before_values").isNotNull())
        tcols = []
        for i, field in enumerate(struct.fields):
            name = names[i]
            src = (
                F.col(f"_before.c{i}")
                if i in key_positions
                else F.lit(None).cast(parse_struct.fields[i].dataType)
            )
            tcols.append(typed(src, field).alias(name))
        tombstones = tomb_src.select(*tcols, F.lit(True).alias("_deleted"), *meta_cols)
        return base.unionByName(tombstones)

    def apply_files(
        self,
        paths: list[str],
        batch_id: int | None = None,
        table_filter=None,
        stop_position: tuple[int, int] | None = None,
        on_error: str = "raise",
    ) -> dict:
        """Bounded-replay fast path: zero-shuffle typed decode straight from
        segment files (no JSON envelope, no from_json), then the same
        watermark-gated exactly-once merge as :meth:`apply_batch`.

        ``on_error="quarantine"``: quarantine parity for the flagship
        typed path — an undecodable packet becomes a dead-letter row
        instead of failing the replay (the contract ``apply_batch`` +
        ``decode_changes(on_error="quarantine")`` already has).  Dead
        letters are written to ``{table}/_quarantine/batch-{id}/`` for
        DLQ triage, counted in the returned record (``quarantined_rows``),
        and excluded from the merge; at 100 TB the hot path is exactly
        where corruption eventually appears, and falling back to the
        slower envelope path would forfeit the typed path's throughput
        right when it matters."""
        import json
        import os

        from ..functions.decode import (
            _payload_kinds,
            decode_typed_from_files,
            scan_schemas,
        )

        sidecar = os.path.join(os.path.dirname(paths[0]), "_schemas.json")
        if os.path.exists(sidecar):
            with open(sidecar) as f:
                entries = json.load(f)
            # v2 sidecar: [{"database","table","desc"}]; v1: bare desc strings
            descs = [
                e["desc"] if isinstance(e, dict) else e
                for e in entries
                if not isinstance(e, dict)
                or _desc_matches(table_filter, e.get("database"), e.get("table"))
            ]
        else:
            descs = [
                r["payload_schema"]
                for r in scan_schemas(self.spark.read.parquet(*paths)).collect()
                if _desc_matches(table_filter, r["database"], r["table_name"])
            ]
        if not descs:
            return {"batch_id": batch_id, "skipped": True, "input_rows": 0}
        base = len(self.column_names)
        if base and any(len(json.loads(d)) < base for d in set(descs)):
            # schema narrowing (DROP COLUMN) in this batch: the typed
            # kernel is positional end-to-end, so route this batch through
            # the envelope path's per-descriptor remap (typed_changes).
            # DDL drops are one-batch rarities — steady state stays on the
            # zero-shuffle typed kernel; validation raises
            # SchemaNarrowingError up front when no narrowed_names is
            # declared, which beats positionally-shifted corruption.
            from ..functions.decode import decode_changes

            for n in {len(json.loads(d)) for d in set(descs)}:
                if n < base:
                    self._names_for_count(n)
            env = decode_changes(
                self.spark.read.parquet(*paths),
                table_filter=table_filter,
                stop_position=stop_position,
                on_error="quarantine" if on_error == "quarantine" else "raise",
            )
            if on_error != "quarantine":
                rec = self.apply_envelope_subset(env, batch_id, descs)
                rec["narrowed_route"] = True
                return rec
            # quarantine parity on the narrowed route (round-6 ADVICE):
            # typed_changes silently filters dml_type='_corrupt', so dead
            # letters must be split off and sunk HERE, through the typed
            # path's sink and in its column shape, so triage tooling reads
            # one schema regardless of which route a batch took
            env = env.persist()
            try:
                n_dead = self._sink_dead_letters(
                    env.filter(F.col("dml_type") == "_corrupt").select(
                        F.col("file_seq").alias("_file_seq"),
                        F.col("gtid").alias("_gtid"),
                        F.col("event_seq").alias("_event_seq"),
                        F.col("log_pos").alias("_log_pos"),
                        F.col("after_values").alias("_corrupt"),
                    ),
                    batch_id,
                )
                rec = self.apply_envelope_subset(env, batch_id, descs)
                rec["quarantined_rows"] = n_dead
                rec["narrowed_route"] = True
                return rec
            finally:
                env.unpersist()
        struct = payload_struct_from_descs(descs)
        names = [self._name_for(i) for i in range(len(struct.fields))]
        kinds = _payload_kinds(descs)
        typed = decode_typed_from_files(
            self.spark,
            paths,
            names,
            kinds,
            key_positions=self.key_positions,
            table_filter=table_filter,
            stop_position=stop_position,
            on_error=on_error,
        )
        # cast payload columns to their exact Spark types (string→timestamp,
        # int64→int, string→decimal, …) — one JVM cast per column; TIMESTAMP
        # strings are UTC wall times and must not pass through the session TZ
        for name, field in zip(names, struct.fields):
            if isinstance(field.dataType, T.TimestampType):
                typed = typed.withColumn(name, utc_timestamp_col(name))
            else:
                typed = typed.withColumn(name, F.col(name).cast(field.dataType))
        if on_error != "quarantine":
            return self._merge_typed(typed, batch_id)
        # one decode feeds both the dead-letter split and the merge: persist
        # at batch granularity (bounded — the same unit apply_batch already
        # persists), split on _corrupt, sink the dead letters, merge the rest
        typed = typed.persist()
        try:
            n_dead = self._sink_dead_letters(
                typed.filter(F.col("_corrupt").isNotNull()).select(
                    "_file_seq", "_gtid", "_event_seq", "_log_pos", "_corrupt"
                ),
                batch_id,
            )
            rec = self._merge_typed(
                typed.filter(F.col("_corrupt").isNull()).drop("_corrupt"),
                batch_id,
            )
            rec["quarantined_rows"] = n_dead
            return rec
        finally:
            typed.unpersist()

    def _sink_dead_letters(self, dead: DataFrame, batch_id: int) -> int:
        """Write a batch's dead letters (``_file_seq``, ``_gtid``,
        ``_event_seq``, ``_log_pos``, ``_corrupt``) as one parquet file
        under ``{table}/_quarantine/batch-{id}/`` — the same DLQ dir and
        shape whichever route the batch took — and return their count
        (no dir when there are none)."""
        import os

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
        return self._merge_typed(typed, batch_id)

    def _merge_typed(self, typed: DataFrame, batch_id: int | None) -> dict:
        fresh = self._watermark_filter(typed).persist()
        try:
            # ONE pass computes the per-file watermarks AND the dirty-bucket
            # stats (the merge skips its own counting job): grouped by
            # (file_seq, bucket), both aggregates fall out of the collect —
            # the result is O(files × buckets) rows, never O(rows)
            stat_rows = (
                fresh.groupBy("_file_seq", self.table.bucket_expr().alias("_b"))
                .agg(
                    F.max(F.struct("_log_pos", "_event_row_index")).alias("mx"),
                    F.max("_gtid").alias("max_gtid"),
                    F.count(F.lit(1)).alias("n"),
                )
                .collect()
            )
            if not stat_rows:
                return {"batch_id": batch_id, "skipped": True, "input_rows": 0}
            new_wms: dict = {}
            bucket_counts: dict = {}
            for r in stat_rows:
                fs = str(r["_file_seq"])
                cand = {
                    "log_pos": r["mx"]["_log_pos"],
                    "event_row_index": r["mx"]["_event_row_index"],
                    "gtid": r["max_gtid"],
                }
                cur = new_wms.get(fs)
                if cur is None or (cand["log_pos"], cand["event_row_index"]) > (
                    cur["log_pos"], cur["event_row_index"]
                ):
                    cand["gtid"] = max(cand["gtid"], cur["gtid"]) if cur else cand["gtid"]
                    new_wms[fs] = cand
                elif cand["gtid"] > cur["gtid"]:
                    cur["gtid"] = cand["gtid"]
                bucket_counts[r["_b"]] = bucket_counts.get(r["_b"], 0) + r["n"]
            changes = fresh.drop("_file_seq", "_log_pos")
            return self.table.merge(
                changes,
                batch_id=batch_id,
                extra_lineage={"watermarks": new_wms},
                input_cached=True,  # `fresh` is persisted above
                bucket_stats=sorted(bucket_counts.items()),
            )
        finally:
            fresh.unpersist()

    def _watermark_filter(self, changes: DataFrame) -> DataFrame:
        """Drop rows at-or-below the stored per-file_seq watermark
        (redelivered work) — broadcast join against the tiny watermark
        map, a driver-local relation (broadcast with no Spark job)."""
        wms = self.table.watermarks()
        if not wms:
            return changes
        rows = [
            (int(fs), int(v["log_pos"]), int(v["event_row_index"]))
            for fs, v in wms.items()
        ]
        wm_df = local_relation(
            self.spark,
            T.StructType(
                [
                    T.StructField("wm_file_seq", T.IntegerType()),
                    T.StructField("wm_log_pos", T.LongType()),
                    T.StructField("wm_eri", T.LongType()),
                ]
            ),
            rows,
        )
        return gate_redelivered(changes, wm_df)

    def apply_envelope_subset(
        self, envelope: DataFrame, batch_id: int | None, descs: list[str]
    ) -> dict:
        """Apply a pre-filtered (single-table) envelope with known descs."""
        typed = self.typed_changes(envelope, descs=descs)
        return self._merge_typed(typed, batch_id)

    def apply_batch(
        self,
        envelope: DataFrame,
        batch_id: int | None = None,
        raw_events: DataFrame | None = None,
    ) -> dict:
        """Decode-envelope batch → exactly-once merge.  Returns the commit
        lineage record (or a skip record when everything was redelivered).

        With ``raw_events`` provided, the typed-extraction schema comes from
        a TABLE_MAP-only pre-pass over the raw blobs (cheap) and the decode
        runs exactly once, materialized into the persisted ``fresh`` frame.
        Without it, the envelope is persisted and scanned for descriptors."""
        descs = None
        if raw_events is not None:
            from ..functions.decode import scan_schemas

            descs = [r["payload_schema"] for r in scan_schemas(raw_events).collect()]
        else:
            envelope = envelope.persist()
        try:
            typed = self.typed_changes(envelope, descs=descs)
            return self._merge_typed(typed, batch_id)
        finally:
            if raw_events is None:
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
        import os

        self.spark = spark
        self.root_path = root_path
        self.table_specs = dict(table_specs or {})
        self.default_key_positions = tuple(default_key_positions)
        self.n_buckets = n_buckets
        self._os = os

    def table_path(self, database: str, table: str) -> str:
        return self._os.path.join(self.root_path, database, table)

    def table_for(self, database: str, table: str, column_names=None, key_positions=None):
        from .lake import BucketedLakeTable

        spec = self.table_specs.get((database, table), {})
        names = column_names or spec.get("column_names")
        keys = key_positions or spec.get("key_positions", self.default_key_positions)
        if names:
            key_cols = [names[i] for i in keys]
        else:
            key_cols = [f"c{i}" for i in keys]
        return BucketedLakeTable(
            self.spark,
            self.table_path(database, table),
            key_cols,
            n_buckets=spec.get("n_buckets", self.n_buckets),
            stats_cols=spec.get("stats_cols"),
        )

    def apply_batch(
        self,
        envelope: DataFrame,
        batch_id: int | None = None,
        raw_events: DataFrame | None = None,
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

        from ..functions.decode import scan_schemas

        # the envelope is filtered once per (db, table) below — persist in
        # BOTH branches so the micro-batch decode runs once, not N_tables
        # times (the raw_events/streaming path was the expensive miss)
        envelope = envelope.persist()
        if raw_events is not None:
            desc_rows = scan_schemas(raw_events).collect()
        else:
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
