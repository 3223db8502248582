"""End-to-end pipeline tests: replay → state oracle, idempotence, bounded
replay, salting invariance, schema evolution (SURVEY.md §5.2 items 2-5)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from myzql_binlog_connector_spark.functions.decode import decode_changes
from myzql_binlog_connector_spark.functions.table_filter import TableFilter
from myzql_binlog_connector_spark.genlog import (
    generate_stream,
    write_segments_parquet,
)
from myzql_binlog_connector_spark.plans.apply import TranscriptsApplier
from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable


@pytest.fixture(scope="module")
def stream_and_events(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("cdc")
    stream = generate_stream(seed=42, n_convs=40, n_segments=4)
    write_segments_parquet(stream, str(tmp / "seg"))
    events = spark.read.parquet(str(tmp / "seg"))
    return stream, events, tmp


def _state_dict(df):
    return {
        (r["conv_id"], r["turn_idx"]): (r["role"], r["text"], r["tool"])
        for r in df.collect()
    }


def _truth_dict(stream):
    return {k: (v[2], v[3], v[4]) for k, v in stream.truth.items()}


class TestApplyState:
    def test_final_state_matches_oracle(self, spark, stream_and_events):
        stream, events, tmp = stream_and_events
        env = decode_changes(events)
        table = BucketedLakeTable(spark, str(tmp / "t1"), ["conv_id", "turn_idx"], n_buckets=8)
        TranscriptsApplier(spark, table).apply_batch(env, batch_id=0)
        assert _state_dict(table.read()) == _truth_dict(stream)

    def test_per_turn_text_equality_stable_order(self, spark, stream_and_events):
        """The BASELINE.json invariant: per-turn text equality under
        ORDER BY conv_id, turn_idx."""
        stream, events, tmp = stream_and_events
        table = BucketedLakeTable(spark, str(tmp / "t2"), ["conv_id", "turn_idx"], n_buckets=8)
        TranscriptsApplier(spark, table).apply_batch(decode_changes(events), batch_id=0)
        got = [
            (r["conv_id"], r["turn_idx"], r["text"])
            for r in table.read().orderBy("conv_id", "turn_idx").collect()
        ]
        want = sorted((k[0], k[1], v[3]) for k, v in stream.truth.items())
        assert got == want

    def test_aligned_writes_plan_same_state(self, spark, tmp_path):
        """The one-shuffle cluster plan (repartition on the bucket
        function, so the LWW aggregate and the partitionBy write reuse ONE
        exchange) must produce exactly the ground-truth state.
        The stream is sized past the n_buckets*512 activation bound so the
        aligned branch genuinely runs (a small batch falls back)."""
        stream = generate_stream(seed=47, n_convs=800, n_segments=3)
        write_segments_parquet(stream, str(tmp_path / "seg"))
        env = decode_changes(spark.read.parquet(str(tmp_path / "seg")))
        n_ops = sum(len(rows) for _fs, rows in stream.segments)
        assert n_ops >= 2 * 512  # over the activation bound at n_buckets=2
        table = BucketedLakeTable(
            spark, str(tmp_path / "t_aligned"), ["conv_id", "turn_idx"],
            n_buckets=2,
        )
        rec = TranscriptsApplier(spark, table).apply_batch(env, batch_id=0)
        assert not rec.get("skipped")
        got = {
            (r["conv_id"], r["turn_idx"]): (r["role"], r["text"], r["tool"])
            for r in table.read().collect()
        }
        assert got == _truth_dict(stream)
        # redelivery stays a no-op on this plan too
        rec2 = TranscriptsApplier(spark, table).apply_batch(env, batch_id=1)
        assert rec2.get("skipped")

    def test_redelivery_is_noop(self, spark, stream_and_events):
        stream, events, tmp = stream_and_events
        env = decode_changes(events)
        table = BucketedLakeTable(spark, str(tmp / "t3"), ["conv_id", "turn_idx"], n_buckets=8)
        applier = TranscriptsApplier(spark, table)
        applier.apply_batch(env, batch_id=0)
        v1 = table.snapshot_manifest()["version"]
        rec = applier.apply_batch(env, batch_id=1)  # full redelivery
        assert rec.get("skipped") is True
        assert table.snapshot_manifest()["version"] == v1
        assert _state_dict(table.read()) == _truth_dict(stream)

    def test_incremental_batches_equal_single_batch(self, spark, stream_and_events):
        """Applying segment-by-segment (streaming shape) must equal the
        one-shot apply."""
        stream, events, tmp = stream_and_events
        table = BucketedLakeTable(spark, str(tmp / "t4"), ["conv_id", "turn_idx"], n_buckets=8)
        applier = TranscriptsApplier(spark, table)
        for i, fs in enumerate(sorted(r[0] for r in events.select("file_seq").distinct().collect())):
            batch = events.filter(events.file_seq == fs)
            applier.apply_batch(decode_changes(batch), batch_id=i)
        assert _state_dict(table.read()) == _truth_dict(stream)

    def test_partial_redelivery_mid_stream(self, spark, stream_and_events):
        """Re-apply segment 2 after segment 3 was applied — tombstoned LWW
        makes it a no-op even out of order."""
        stream, events, tmp = stream_and_events
        table = BucketedLakeTable(spark, str(tmp / "t5"), ["conv_id", "turn_idx"], n_buckets=8)
        applier = TranscriptsApplier(spark, table)
        seqs = sorted(r[0] for r in events.select("file_seq").distinct().collect())
        for i, fs in enumerate(seqs):
            applier.apply_batch(decode_changes(events.filter(events.file_seq == fs)), batch_id=i)
        # redeliver an old segment
        applier.apply_batch(decode_changes(events.filter(events.file_seq == seqs[1])), batch_id=99)
        assert _state_dict(table.read()) == _truth_dict(stream)


class TestTypedFastPath:
    """apply_files (zero-shuffle typed decode) must be semantically
    identical to the envelope path."""

    def test_apply_files_matches_oracle_and_evolves(self, spark, tmp_path):
        import glob

        stream = generate_stream(seed=77, n_convs=50, n_segments=4, evolve_at=0.6)
        write_segments_parquet(stream, str(tmp_path / "seg"))
        paths = sorted(glob.glob(str(tmp_path / "seg" / "*.parquet")))
        table = BucketedLakeTable(spark, str(tmp_path / "t"), ["conv_id", "turn_idx"], n_buckets=8)
        applier = TranscriptsApplier(spark, table)
        applier.apply_files(paths, batch_id=0)
        assert _state_dict(table.read()) == _truth_dict(stream)
        state = table.read()
        assert "score" in state.columns  # evolution through the typed path
        assert dict(state.dtypes)["ts"] == "timestamp"
        assert dict(state.dtypes)["turn_idx"] == "int"
        # idempotence
        rec = applier.apply_files(paths, batch_id=1)
        assert rec.get("skipped") is True

    def test_apply_files_equals_apply_batch(self, spark, stream_and_events):
        import glob

        stream, events, tmp = stream_and_events
        t_env = BucketedLakeTable(spark, str(tmp / "cmp_env"), ["conv_id", "turn_idx"], n_buckets=8)
        TranscriptsApplier(spark, t_env).apply_batch(decode_changes(events), batch_id=0)
        paths = sorted(glob.glob(str(tmp / "seg" / "*.parquet")))
        t_fast = BucketedLakeTable(spark, str(tmp / "cmp_fast"), ["conv_id", "turn_idx"], n_buckets=8)
        TranscriptsApplier(spark, t_fast).apply_files(paths, batch_id=0)
        a = {(r.conv_id, r.turn_idx): (r.role, r.text, r.tool) for r in t_env.read().collect()}
        b = {(r.conv_id, r.turn_idx): (r.role, r.text, r.tool) for r in t_fast.read().collect()}
        assert a == b

    def test_apply_files_bounded_and_filtered(self, spark, stream_and_events):
        import glob

        stream, events, tmp = stream_and_events
        paths = sorted(glob.glob(str(tmp / "seg" / "*.parquet")))
        from myzql_binlog_connector_spark.functions.decode import decode_typed_from_files

        # stop at (2, 0): only file 1 rows survive
        typed = decode_typed_from_files(
            spark, paths,
            ["conv_id", "turn_idx", "role", "text", "tool", "ts"],
            ["s", "i", "s", "s", "s", "s"],
            stop_position=(2, 0),
        )
        assert typed.filter("_file_seq >= 2").count() == 0
        assert typed.count() > 0
        # exclude filter drops everything
        typed2 = decode_typed_from_files(
            spark, paths,
            ["conv_id", "turn_idx", "role", "text", "tool", "ts"],
            ["s", "i", "s", "s", "s", "s"],
            table_filter=TableFilter(exclude=["chat.transcripts"]),
        )
        assert typed2.count() == 0


class TestBoundedReplay:
    def test_stop_position_excludes_at_and_after(self, spark, stream_and_events):
        stream, events, tmp = stream_and_events
        full = decode_changes(events).select("file_seq", "log_pos").collect()
        stop = (2, 400)
        want = sum(
            1 for r in full if r.file_seq < stop[0] or (r.file_seq == stop[0] and r.log_pos < stop[1])
        )
        got = decode_changes(events, stop_position=stop).count()
        assert got == want

    def test_filter_pushdown_zero_rows(self, spark, stream_and_events):
        _, events, _ = stream_and_events
        tf = TableFilter(exclude=["chat.transcripts"])
        assert decode_changes(events, table_filter=tf).count() == 0

    def test_include_other_table_only(self, spark, stream_and_events):
        _, events, _ = stream_and_events
        tf = TableFilter(include=["other.table"])
        assert decode_changes(events, table_filter=tf).count() == 0


class TestSchemaEvolution:
    def test_column_add_mid_stream(self, spark, tmp_path):
        stream = generate_stream(seed=11, n_convs=25, n_segments=4, evolve_at=0.5)
        assert stream.evolved
        write_segments_parquet(stream, str(tmp_path / "seg"))
        events = spark.read.parquet(str(tmp_path / "seg"))
        table = BucketedLakeTable(spark, str(tmp_path / "t"), ["conv_id", "turn_idx"], n_buckets=4)
        applier = TranscriptsApplier(spark, table)
        # apply per segment so evolution happens across commits
        for i, fs in enumerate(sorted(r[0] for r in events.select("file_seq").distinct().collect())):
            applier.apply_batch(decode_changes(events.filter(events.file_seq == fs)), batch_id=i)
        state = table.read()
        assert "score" in state.columns  # evolved column exists
        # evolution recorded in lineage
        evs = [e for rec in table.lineage() for e in rec.get("schema_evolution", [])]
        assert any(e.startswith("add:score") for e in evs)
        # payload equality on the original 6 columns still holds
        got = _state_dict(state)
        assert got == _truth_dict(stream)
        # pre-evolution rows are null-padded, post-evolution rows may carry scores
        assert state.filter("score IS NOT NULL").count() > 0

    def test_type_widen_int_to_long(self, spark, tmp_path):
        """LONG→LONGLONG turn_idx mid-stream widens the lake column."""
        from myzql_binlog_connector_spark.binlog.constants import ColumnType
        from myzql_binlog_connector_spark.binlog.encoder import (
            ColumnSpec,
            EventWriter,
            TableSchema,
            TRANSCRIPTS_SCHEMA,
        )
        from myzql_binlog_connector_spark.genlog import write_segments_parquet, GeneratedStream

        wide_cols = list(TRANSCRIPTS_SCHEMA.columns)
        wide_cols[1] = ColumnSpec(ColumnType.LONGLONG, 0, False)
        WIDE = TableSchema("chat", "transcripts", tuple(wide_cols))

        w = EventWriter()
        w.format_description()
        w.table_map(5, TRANSCRIPTS_SCHEMA)
        w.write_rows(5, TRANSCRIPTS_SCHEMA, [("c1", 0, "user", "a", None, 1_700_000_000_000_000)])
        w.table_map(5, WIDE)
        w.write_rows(5, WIDE, [("c1", 1 << 40, "user", "b", None, 1_700_000_001_000_000)])
        w.rotate("binlog.000002")
        stream = GeneratedStream(segments=[(1, [(off, i, i, pkt) for i, (off, pkt) in enumerate(w.events)])])
        write_segments_parquet(stream, str(tmp_path / "seg"))

        events = spark.read.parquet(str(tmp_path / "seg"))
        table = BucketedLakeTable(spark, str(tmp_path / "t"), ["conv_id", "turn_idx"], n_buckets=2)
        TranscriptsApplier(spark, table).apply_batch(decode_changes(events), batch_id=0)
        state = table.read()
        assert dict(state.dtypes)["turn_idx"] == "bigint"
        vals = {r["turn_idx"] for r in state.collect()}
        assert vals == {0, 1 << 40}

    def test_type_widen_tinyint_to_smallint(self, spark, tmp_path):
        """A TINYINT column MySQL later widens to SMALLINT widens the lake
        column on the next merge, with the stored values intact."""
        table = BucketedLakeTable(spark, str(tmp_path / "t"), ["k"], n_buckets=2)

        def batch(v_type, rows, gtid):
            return spark.createDataFrame(rows, f"k bigint, v {v_type}").select(
                "k", "v",
                F.lit(False).alias("_deleted"),
                F.lit(gtid).cast("bigint").alias("_gtid"),
                F.lit(0).cast("bigint").alias("_event_seq"),
                F.lit(0).cast("bigint").alias("_event_row_index"),
            )

        table.merge(batch("tinyint", [(1, 7)], 1), batch_id=0)
        table.merge(batch("smallint", [(2, 30_000)], 2), batch_id=1)
        state = table.read()
        assert dict(state.dtypes)["v"] == "smallint"
        assert {(r.k, r.v) for r in state.collect()} == {(1, 7), (2, 30_000)}

    def test_decimal_precision_widen(self, spark, tmp_path):
        """DECIMAL(10,2)→DECIMAL(14,2) mid-stream (same scale) widens the
        lake column — Iceberg's permitted decimal evolution — both within
        one batch (struct union) and across commits (_widened); a later
        narrower map keeps the stored width."""
        from decimal import Decimal

        from myzql_binlog_connector_spark.binlog.constants import ColumnType
        from myzql_binlog_connector_spark.binlog.encoder import (
            ColumnSpec,
            EventWriter,
            TableSchema,
            long_col,
            varchar,
        )
        from myzql_binlog_connector_spark.genlog import (
            GeneratedStream,
            write_segments_parquet,
        )

        def schema(precision):
            return TableSchema(
                "chat",
                "transcripts",
                (
                    varchar(64, nullable=False),
                    long_col(nullable=False),
                    ColumnSpec(ColumnType.NEWDECIMAL, (precision << 8) | 2, True),
                ),
            )

        def seg(seq, precision, rows):
            w = EventWriter()
            w.format_description()
            w.table_map(5, schema(precision))
            w.write_rows(5, schema(precision), rows)
            w.rotate(f"binlog.{seq + 1:06d}")
            s = GeneratedStream(
                segments=[(seq, [(o, i, i, p) for i, (o, p) in enumerate(w.events)])]
            )
            write_segments_parquet(s, str(tmp_path / f"seg{seq}"))
            return spark.read.parquet(str(tmp_path / f"seg{seq}"))

        table = BucketedLakeTable(
            spark, str(tmp_path / "t"), ["conv_id", "turn_idx"], n_buckets=2
        )
        applier = TranscriptsApplier(
            spark,
            table,
            column_names=("conv_id", "turn_idx", "amount"),
            extra_names=(),
            key_positions=(0, 1),
        )
        applier.apply_batch(
            decode_changes(seg(1, 10, [("c1", 0, "12345678.90")])), batch_id=0
        )
        assert dict(table.read().dtypes)["amount"] == "decimal(10,2)"
        applier.apply_batch(
            decode_changes(seg(2, 14, [("c1", 1, "123456789012.34")])), batch_id=1
        )
        assert dict(table.read().dtypes)["amount"] == "decimal(14,2)"
        evs = [e for rec in table.lineage() for e in rec.get("schema_evolution", [])]
        assert any(e.startswith("widen:amount:decimal(10,2)->decimal(14,2)") for e in evs)
        # a narrower map later (replica replaying an old segment shape)
        # keeps the stored width
        applier.apply_batch(
            decode_changes(seg(3, 10, [("c1", 2, "9.99")])), batch_id=2
        )
        got = {
            (r.conv_id, r.turn_idx): r.amount for r in table.read().collect()
        }
        assert dict(table.read().dtypes)["amount"] == "decimal(14,2)"
        assert got == {
            ("c1", 0): Decimal("12345678.90"),
            ("c1", 1): Decimal("123456789012.34"),
            ("c1", 2): Decimal("9.99"),
        }

    def test_decimal_widen_within_one_batch(self, spark, tmp_path):
        from decimal import Decimal

        from myzql_binlog_connector_spark.binlog.constants import ColumnType
        from myzql_binlog_connector_spark.binlog.encoder import (
            ColumnSpec,
            EventWriter,
            TableSchema,
            long_col,
            varchar,
        )
        from myzql_binlog_connector_spark.genlog import (
            GeneratedStream,
            write_segments_parquet,
        )

        def schema(precision):
            return TableSchema(
                "chat",
                "transcripts",
                (
                    varchar(64, nullable=False),
                    long_col(nullable=False),
                    ColumnSpec(ColumnType.NEWDECIMAL, (precision << 8) | 2, True),
                ),
            )

        w = EventWriter()
        w.format_description()
        w.table_map(5, schema(10))
        w.write_rows(5, schema(10), [("c1", 0, "12345678.90")])
        w.table_map(5, schema(14))
        w.write_rows(5, schema(14), [("c1", 1, "123456789012.34")])
        w.rotate("binlog.000002")
        s = GeneratedStream(
            segments=[(1, [(o, i, i, p) for i, (o, p) in enumerate(w.events)])]
        )
        write_segments_parquet(s, str(tmp_path / "seg"))
        table = BucketedLakeTable(
            spark, str(tmp_path / "t"), ["conv_id", "turn_idx"], n_buckets=2
        )
        TranscriptsApplier(
            spark,
            table,
            column_names=("conv_id", "turn_idx", "amount"),
            extra_names=(),
            key_positions=(0, 1),
        ).apply_batch(decode_changes(spark.read.parquet(str(tmp_path / "seg"))), batch_id=0)
        assert dict(table.read().dtypes)["amount"] == "decimal(14,2)"
        got = {(r.conv_id, r.turn_idx): r.amount for r in table.read().collect()}
        assert got == {
            ("c1", 0): Decimal("12345678.90"),
            ("c1", 1): Decimal("123456789012.34"),
        }
