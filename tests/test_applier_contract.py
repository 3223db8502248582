"""Shared applier contract: BucketedLakeTable.merge and IcebergApplier
must implement IDENTICAL merge semantics over the same typed frame.

The sandbox has no iceberg-spark-runtime jar, so the Iceberg side runs
against :class:`FakeIcebergEngine` — a test-only executor for exactly the
four SQL statement shapes IcebergApplier emits (CREATE TABLE / ALTER
TABLE / the two MERGE INTOs), implementing Iceberg's PUBLIC documented
MERGE semantics with DataFrame ops.  Everything else in IcebergApplier —
the redelivery watermark gate, the per-key max_by pre-reduce, schema
evolution decisions, watermark commit ordering, skip-on-empty — is the
REAL production code under test.

Jar-only risks this cannot cover (documented in plans/iceberg.py):
MERGE cardinality enforcement, concurrent-commit conflict resolution, and
catalog interactions.

Every scenario runs through BOTH appliers and asserts the same final
state; the local lake applier doubles as the semantics oracle already
proven against the pure-Python LWW truth elsewhere."""

from __future__ import annotations

import re

import pytest

from pyspark.sql import functions as F

from myzql_binlog_connector_spark.plans.iceberg import IcebergApplier
from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable

KEYS = ["conv_id", "turn_idx"]
ORDER = ["_gtid", "_event_seq", "_event_row_index"]
TYPED_SCHEMA = (
    "conv_id string, turn_idx bigint, role string, text string, tool string, "
    "ts string, _deleted boolean, _gtid bigint, _event_seq bigint, "
    "_event_row_index bigint, _file_seq int, _log_pos bigint"
)


class FakeIcebergEngine:
    """Executes IcebergApplier's emitted SQL against in-memory DataFrames.

    Implements only the exact statement shapes the applier generates;
    anything else raises, so the applier cannot silently depend on SQL the
    fake never modeled."""

    def __init__(self, spark):
        self._spark = spark
        self.tables: dict = {}
        self.statements: list[str] = []

    # -- the SparkSession facade surface IcebergApplier touches ------------

    @property
    def conf(self):
        class _Conf:
            @staticmethod
            def get(key, default=None):
                if key.startswith("spark.sql.catalog."):
                    return "org.apache.iceberg.spark.SparkCatalog"
                return default

        return _Conf()

    def createDataFrame(self, *a, **k):
        return self._spark.createDataFrame(*a, **k)

    def table(self, name):
        if name in self.tables:
            return self.tables[name]
        return self._spark.table(name)

    def sql(self, stmt: str):
        self.statements.append(stmt)
        s = " ".join(stmt.split())
        if m := re.match(r"CREATE TABLE IF NOT EXISTS (\S+) \((.*)\) USING iceberg", s):
            name, cols = m.group(1), m.group(2)
            if name not in self.tables:
                self.tables[name] = self._spark.createDataFrame([], cols)
            return
        if m := re.match(r"ALTER TABLE (\S+) ADD COLUMN (\S+) (\S+)", s):
            name, col, typ = m.groups()
            self.tables[name] = self.tables[name].withColumn(
                col, F.lit(None).cast(typ)
            )
            return
        if m := re.match(r"ALTER TABLE (\S+) ALTER COLUMN (\S+) TYPE (\S+)", s):
            name, col, typ = m.groups()
            self.tables[name] = self.tables[name].withColumn(
                col, F.col(col).cast(typ)
            )
            return
        if m := re.match(r"MERGE INTO (\S+) t USING (\S+) s ON", s):
            name, src = m.groups()
            if name.endswith("_wm"):
                self._merge_wm(name)
            else:
                self._merge_lww(name)
            return
        raise AssertionError(f"FakeIcebergEngine: unmodeled SQL: {stmt!r}")

    # -- Iceberg MERGE semantics (public documented behavior) --------------

    def _merge_lww(self, name):
        t = self.tables[name]
        s = self._spark.table("_changes_batch")
        # align schemas in BOTH directions with one column order: the
        # target may have evolved columns the source lacks; the source
        # carries transport columns (_deleted/_file_seq/_log_pos) the
        # table never stores
        cols = t.columns + [c for c in s.columns if c not in t.columns]
        sdt = {f.name: f.dataType for f in s.schema.fields}
        tdt = {f.name: f.dataType for f in t.schema.fields}
        for c in cols:
            if c not in sdt:
                s = s.withColumn(c, F.lit(None).cast(tdt[c]))
            if c not in tdt:
                t = t.withColumn(c, F.lit(None).cast(sdt[c]))
        t = t.select(*cols)
        s = s.select(*[F.col(c).cast(f.dataType) for c, f in zip(cols, t.schema.fields)])
        tk = t.select(
            *[F.col(k).alias(f"_k_{k}") for k in KEYS],
            F.struct(*[F.col(c) for c in cols]).alias("_t"),
        )
        sk = s.select(
            *[F.col(k).alias(f"_k_{k}") for k in KEYS],
            F.struct(*[F.col(c) for c in cols]).alias("_s"),
        )
        j = tk.join(sk, [f"_k_{k}" for k in KEYS], "full_outer")
        guard = F.struct(
            *[F.col(f"_s.{c}") for c in ORDER]
        ) > F.struct(*[F.col(f"_t.{c}") for c in ORDER])
        deleted = F.col("_s._deleted")
        matched = F.col("_t").isNotNull() & F.col("_s").isNotNull()
        keep_target = (
            (F.col("_s").isNull())
            | (matched & ~guard)
            | (matched & guard & deleted & F.lit(False))  # DELETE drops it
        )
        upd = matched & guard & ~deleted
        ins = F.col("_t").isNull() & ~deleted
        out_cols = t.columns
        pick = F.when(upd | ins, F.col("_s")).otherwise(F.col("_t"))
        result = (
            j.filter(keep_target | upd | ins)
            .select(pick.alias("_r"))
            .select(*[F.col(f"_r.{c}").alias(c) for c in out_cols])
        )
        # _deleted is not stored in the Iceberg table
        self.tables[name] = self._spark.createDataFrame(
            result.drop("_deleted", "_file_seq", "_log_pos").collect(),
            result.drop("_deleted", "_file_seq", "_log_pos").schema,
        )

    def _merge_wm(self, name):
        t = self.tables[name]
        s = self._spark.table("_wm_batch")
        tk = t.withColumnRenamed("log_pos", "t_lp").withColumnRenamed(
            "event_row_index", "t_eri"
        )
        j = tk.join(s, "file_seq", "full_outer")
        newer = F.struct("log_pos", "event_row_index") > F.struct(
            F.col("t_lp").alias("log_pos"), F.col("t_eri").alias("event_row_index")
        )
        lp = F.when(F.col("t_lp").isNull() | newer, F.col("log_pos")).otherwise(F.col("t_lp"))
        eri = F.when(F.col("t_eri").isNull() | newer, F.col("event_row_index")).otherwise(F.col("t_eri"))
        self.tables[name] = self._spark.createDataFrame(
            j.select("file_seq", lp.alias("log_pos"), eri.alias("event_row_index")).collect(),
            "file_seq int, log_pos bigint, event_row_index bigint",
        )


# ---------------------------------------------------------------------------
# the parameterized contract
# ---------------------------------------------------------------------------


def _lake_backend(spark, tmp_path):
    table = BucketedLakeTable(spark, str(tmp_path / "lake"), KEYS, n_buckets=4)

    def apply(typed, batch_id):
        return table.merge(typed, batch_id)

    def state():
        return {
            (r.conv_id, r.turn_idx): (r.role, r.text, r.tool, r.ts)
            for r in table.read().collect()
        }

    return apply, state


def _iceberg_backend(spark, tmp_path):
    engine = FakeIcebergEngine(spark)
    applier = IcebergApplier(engine, "cat.db.transcripts", KEYS)

    def apply(typed, batch_id):
        return applier.apply_batch(typed, batch_id)

    def state():
        t = engine.tables["cat.db.transcripts"]
        return {
            (r.conv_id, r.turn_idx): (r.role, r.text, r.tool, r.ts)
            for r in t.collect()
        }

    return apply, state


BACKENDS = {"lake": _lake_backend, "iceberg": _iceberg_backend}


def _typed(spark, rows):
    return spark.createDataFrame(rows, TYPED_SCHEMA)


def _row(conv, turn, text, gtid, *, deleted=False, role="user", tool=None,
         ts="2024-01-01 00:00:00", fs=1, lp=None, eri=1, es=None):
    return (conv, turn, role, text, tool, ts, deleted, gtid,
            es if es is not None else gtid, eri, fs, lp if lp is not None else gtid * 10)


@pytest.fixture(params=sorted(BACKENDS))
def backend(request, spark, tmp_path):
    return BACKENDS[request.param](spark, tmp_path)


class TestApplierContract:
    def test_lww_merge_and_idempotent_redelivery(self, spark, backend):
        apply, state = backend
        b0 = _typed(spark, [
            _row("a", 1, "v1", 10),
            _row("a", 1, "v2", 20),          # same key, newer wins
            _row("b", 1, "x", 15),
        ])
        apply(b0, 0)
        want = {("a", 1): ("user", "v2", None, "2024-01-01 00:00:00"),
                ("b", 1): ("user", "x", None, "2024-01-01 00:00:00")}
        assert state() == want
        rec = apply(b0, 1)  # full redelivery: watermark gate skips it all
        assert rec.get("skipped") is True
        assert state() == want

    def test_delete_not_resurrected_by_redelivered_insert(self, spark, backend):
        apply, state = backend
        apply(_typed(spark, [_row("a", 1, "v1", 10)]), 0)
        apply(_typed(spark, [_row("a", 1, None, 30, deleted=True, fs=2)]), 1)
        assert state() == {}
        # redeliver the ORIGINAL insert batch: without the watermark gate
        # WHEN NOT MATCHED would resurrect the deleted row
        apply(_typed(spark, [_row("a", 1, "v1", 10)]), 2)
        assert state() == {}

    def test_partial_redelivery(self, spark, backend):
        apply, state = backend
        apply(_typed(spark, [_row("a", 1, "v1", 10), _row("b", 1, "w", 20, lp=250)]), 0)
        # batch 1 = overlap (gtid 20) + genuinely new row on a later pos
        apply(_typed(spark, [_row("b", 1, "w", 20, lp=250),
                             _row("c", 1, "new", 30, lp=300)]), 1)
        assert state() == {
            ("a", 1): ("user", "v1", None, "2024-01-01 00:00:00"),
            ("b", 1): ("user", "w", None, "2024-01-01 00:00:00"),
            ("c", 1): ("user", "new", None, "2024-01-01 00:00:00"),
        }

    def test_pk_change_tombstone_pair(self, spark, backend):
        apply, state = backend
        apply(_typed(spark, [_row("a", 1, "v1", 10)]), 0)
        # the decoder emits (tombstone@old, upsert@new) for a pk-change
        apply(_typed(spark, [
            _row("a", 1, None, 20, deleted=True, fs=2, eri=1),
            _row("a", 2, "v1", 20, fs=2, eri=2),
        ]), 1)
        assert state() == {("a", 2): ("user", "v1", None, "2024-01-01 00:00:00")}

    def test_out_of_order_older_change_never_overwrites(self, spark, backend):
        apply, state = backend
        apply(_typed(spark, [_row("a", 1, "newer", 50)]), 0)
        # an older change for the same key arrives in a LATER batch (new
        # file_seq so the watermark gate passes it): the gtid guard must
        # refuse the overwrite
        apply(_typed(spark, [_row("a", 1, "older", 5, fs=2)]), 1)
        assert state()[("a", 1)][1] == "newer"


class TestIcebergEvolution:
    def test_add_column_evolves_table(self, spark):
        engine = FakeIcebergEngine(spark)
        applier = IcebergApplier(engine, "cat.db.transcripts", KEYS)
        applier.apply_batch(_typed(spark, [_row("a", 1, "v1", 10)]), 0)
        evolved = spark.createDataFrame(
            [("b", 1, "user", "x", None, "2024-01-01 00:00:00", "extra!",
              False, 20, 20, 1, 2, 200)],
            TYPED_SCHEMA.replace("ts string,", "ts string, quality string,"),
        )
        applier.apply_batch(evolved, 1)
        t = engine.tables["cat.db.transcripts"]
        assert "quality" in t.columns
        got = {(r.conv_id, r.turn_idx): r.quality for r in t.collect()}
        assert got == {("a", 1): None, ("b", 1): "extra!"}
        assert any("ADD COLUMN quality" in s for s in engine.statements)

    def test_unmodeled_sql_is_rejected(self, spark):
        engine = FakeIcebergEngine(spark)
        with pytest.raises(AssertionError, match="unmodeled"):
            engine.sql("DROP TABLE x")
