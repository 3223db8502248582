"""Iceberg applier — the production sink this engine targets.

The sandbox has no Iceberg runtime jar, so :class:`BucketedLakeTable` fills
the merge-capable-table role locally; this module is the 1:1 drop-in for a
real cluster.  It is import-safe everywhere and raises a clear error at use
time when the Iceberg SQL extensions are missing.

Cluster setup it expects (all public Iceberg/Spark configuration):

    spark.sql.extensions = org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions
    spark.sql.catalog.<cat> = org.apache.iceberg.spark.SparkCatalog
    spark.sql.catalog.<cat>.type = hive | hadoop | rest

Semantics mapping (identical to BucketedLakeTable, SURVEY.md §2 J2/T5/A2):

  merge            → MERGE INTO keyed on the primary key with LWW guards
  tombstones       → WHEN MATCHED AND s._deleted THEN DELETE (Iceberg's
                     snapshot isolation + the gtid guard make redelivery a
                     no-op, so explicit tombstone rows aren't needed)
  schema evolution → ALTER TABLE ADD COLUMN / ALTER COLUMN TYPE (Iceberg
                     supports add + int→long/float→double widening)
  watermarks       → a side table `<table>_watermarks`, written in the same
                     transaction boundary (Iceberg multi-table txn via WAP
                     or, conservatively, applied before the data commit and
                     checked idempotently like the local applier)
  lineage/metrics  → Iceberg snapshot summary properties + a metrics table

Test coverage without the jar: tests/test_applier_contract.py runs every
merge-semantics scenario (LWW, idempotent + partial redelivery, the
delete-resurrection watermark gate, pk-change tombstones, out-of-order
guard, evolution) through THIS class against a fake engine implementing
only the emitted SQL shapes, parameterized alongside the local
BucketedLakeTable pipeline — both must produce identical state.  Risks
only a real Iceberg runtime can exercise: MERGE cardinality enforcement
(duplicate source keys — prevented here by the lww_dedup pre-reduce),
concurrent-commit conflict resolution/retries, and catalog interactions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.dedup import lww_dedup
from .lake import ORDER_COLS, TRANSPORT_COLS, _widened, gate_redelivered


class IcebergNotAvailable(RuntimeError):
    pass


def _require_iceberg(spark: SparkSession, catalog: str):
    cls = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
    if not cls or "iceberg" not in cls.lower():
        raise IcebergNotAvailable(
            f"catalog {catalog!r} is not an Iceberg catalog in this session; "
            "add the iceberg-spark-runtime jar and catalog config "
            "(see module docstring). In this sandbox use BucketedLakeTable."
        )


class IcebergApplier:
    """MERGE-INTO applier with the same contract as TranscriptsApplier +
    BucketedLakeTable: LWW on (key) by (_gtid, _event_seq,
    _event_row_index), delete semantics, idempotent redelivery."""

    def __init__(
        self,
        spark: SparkSession | None,
        table: str,  # e.g. "cat.db.transcripts"
        key_cols: list[str] = ("conv_id", "turn_idx"),
    ):
        self.spark = spark
        self.table = table
        self.key_cols = list(key_cols)
        if spark is not None:  # None → SQL-text-only mode (golden tests)
            _require_iceberg(spark, table.split(".")[0])

    def ensure_table(self, typed: DataFrame, partition_by: str | None = None):
        payload_cols = [
            f for f in typed.schema.fields if not f.name.startswith("_")
        ]
        cols_sql = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in payload_cols
        ) + ", _gtid bigint, _event_seq bigint, _event_row_index bigint"
        part = f" PARTITIONED BY ({partition_by})" if partition_by else ""
        self.spark.sql(
            f"CREATE TABLE IF NOT EXISTS {self.table} ({cols_sql}) USING iceberg{part}"
        )

    #: batch-transport columns that must never evolve INTO the table —
    #: the merge consumes them (_deleted → DELETE clause, _file_seq/_log_pos
    #: → the watermark side table); only the order columns are stored
    _TRANSPORT_COLS = frozenset({"_deleted", *TRANSPORT_COLS})

    def evolve(self, typed: DataFrame):
        """TABLE_MAP-driven evolution → ALTER TABLE (add / widen)."""
        existing = {f.name: f.dataType.simpleString() for f in self.spark.table(self.table).schema.fields}
        for f in typed.schema.fields:
            if f.name in self._TRANSPORT_COLS:
                continue
            t = f.dataType.simpleString()
            if f.name not in existing:
                self.spark.sql(
                    f"ALTER TABLE {self.table} ADD COLUMN {f.name} {t}"
                )
            elif t != existing[f.name] and _widened(existing[f.name], t) == t:
                self.spark.sql(
                    f"ALTER TABLE {self.table} ALTER COLUMN {f.name} TYPE {t}"
                )

    # -- SQL builders (pure text; golden-tested without an Iceberg runtime) --

    def merge_sql(self, columns: list[str]) -> str:
        """LWW MERGE statement for a pre-reduced change batch."""
        order = list(ORDER_COLS)
        on = " AND ".join(f"t.{k} = s.{k}" for k in self.key_cols)
        payload_cols = [c for c in columns if not c.startswith("_")] + order
        set_sql = ", ".join(f"t.{c} = s.{c}" for c in payload_cols)
        insert_cols = ", ".join(payload_cols)
        insert_vals = ", ".join(f"s.{c}" for c in payload_cols)
        # gtid guard = idempotence under same-batch redelivery: older/equal
        # changes never overwrite newer applied state
        guard = (
            "(s._gtid, s._event_seq, s._event_row_index) > "
            "(t._gtid, t._event_seq, t._event_row_index)"
        )
        return (
            f"MERGE INTO {self.table} t\n"
            "USING _changes_batch s\n"
            f"ON {on}\n"
            f"WHEN MATCHED AND s._deleted AND {guard} THEN DELETE\n"
            f"WHEN MATCHED AND NOT s._deleted AND {guard} THEN UPDATE SET {set_sql}\n"
            f"WHEN NOT MATCHED AND NOT s._deleted THEN INSERT ({insert_cols}) "
            f"VALUES ({insert_vals})"
        )

    def wm_table(self) -> str:
        return f"{self.table}_wm"

    def wm_create_sql(self) -> str:
        return (
            f"CREATE TABLE IF NOT EXISTS {self.wm_table()} "
            "(file_seq int, log_pos bigint, event_row_index bigint) USING iceberg"
        )

    def wm_merge_sql(self) -> str:
        """Upsert per-file_seq watermarks after a data commit."""
        return (
            f"MERGE INTO {self.wm_table()} t\n"
            "USING _wm_batch s\n"
            "ON t.file_seq = s.file_seq\n"
            "WHEN MATCHED AND (s.log_pos, s.event_row_index) > "
            "(t.log_pos, t.event_row_index) "
            "THEN UPDATE SET t.log_pos = s.log_pos, "
            "t.event_row_index = s.event_row_index\n"
            "WHEN NOT MATCHED THEN INSERT (file_seq, log_pos, event_row_index) "
            "VALUES (s.file_seq, s.log_pos, s.event_row_index)"
        )

    # -- runtime ----------------------------------------------------------

    def _gate_redelivered(self, typed: DataFrame) -> DataFrame:
        """Drop rows at-or-below the stored per-file_seq watermark.

        Without this gate a DELETE followed by a redelivery of the *older*
        batch containing the original INSERT would resurrect the row
        through WHEN NOT MATCHED — the per-row gtid guard only protects
        matched rows.  Watermarks are written after the data commit; a
        crash between the two re-merges only the last batch, which the
        batch-internal lww_dedup pre-reduce + gtid guard keep idempotent."""
        try:
            wm = self.spark.table(self.wm_table())
        except Exception:
            return typed
        return gate_redelivered(
            typed,
            wm.select(
                F.col("file_seq").alias("wm_file_seq"),
                F.col("log_pos").alias("wm_log_pos"),
                F.col("event_row_index").alias("wm_eri"),
            ),
        )

    def apply_batch(self, typed: DataFrame, batch_id: int | None = None) -> dict:
        """LWW MERGE of a typed change batch (same input as
        ``BucketedLakeTable.merge``): watermark-gate redelivered rows,
        pre-reduce per key (:func:`lww_dedup`), one MERGE INTO, then commit
        the new watermarks to the side table."""
        self.ensure_table(typed)
        self.evolve(typed)
        self.spark.sql(self.wm_create_sql())

        fresh = self._gate_redelivered(typed).persist()
        try:
            wm_rows = (
                fresh.groupBy("_file_seq")
                .agg(F.max(F.struct("_log_pos", "_event_row_index")).alias("mx"))
                .collect()
            )
            if not wm_rows:
                return {"batch_id": batch_id, "table": self.table, "skipped": True}
            lww_dedup(fresh, self.key_cols, ORDER_COLS).createOrReplaceTempView(
                "_changes_batch"
            )
            self.spark.sql(self.merge_sql(fresh.columns))

            self.spark.createDataFrame(
                [
                    (int(r["_file_seq"]), int(r["mx"]["_log_pos"]), int(r["mx"]["_event_row_index"]))
                    for r in wm_rows
                ],
                "file_seq int, log_pos bigint, event_row_index bigint",
            ).createOrReplaceTempView("_wm_batch")
            self.spark.sql(self.wm_merge_sql())
            return {"batch_id": batch_id, "table": self.table}
        finally:
            fresh.unpersist()
