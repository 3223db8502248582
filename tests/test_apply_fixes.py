"""Regression tests for the round-2 ADVICE fixes: PK-changing UPDATEs,
session-timezone-independent TIMESTAMP parsing, from_position replay
bounds, and table-filtered typed-extraction schemas."""

from __future__ import annotations

import tempfile

import pytest

from myzql_binlog_connector_spark.binlog.encoder import (
    EventWriter,
    TRANSCRIPTS_SCHEMA,
)
from myzql_binlog_connector_spark.functions.decode import decode_changes
from myzql_binlog_connector_spark.harness import _events_df_from_writer
from myzql_binlog_connector_spark.plans.apply import TranscriptsApplier
from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable

TS = 1_700_000_000_000_000


def _writer():
    w = EventWriter(server_id=1)
    w.format_description()
    w.table_map(5, TRANSCRIPTS_SCHEMA)
    return w


def _apply(spark, tmpdir, writer):
    events = _events_df_from_writer(spark, [writer])
    env = decode_changes(events)
    table = BucketedLakeTable(spark, tmpdir, ["conv_id", "turn_idx"], n_buckets=4)
    TranscriptsApplier(spark, table).apply_batch(env, batch_id=0)
    return table.read()


class TestPkChangeUpdate:
    def test_old_key_tombstoned(self, spark):
        w = _writer()
        r1 = ("conv-a", 1, "user", "hello", None, TS)
        w.write_rows(5, TRANSCRIPTS_SCHEMA, [r1])
        # UPDATE that moves the row to a new primary key
        r2 = ("conv-b", 1, "user", "hello", None, TS + 1)
        w.update_rows(5, TRANSCRIPTS_SCHEMA, [(r1, r2)])
        w.rotate("binlog.000002")
        with tempfile.TemporaryDirectory() as d:
            got = {
                (r.conv_id, r.turn_idx): r.text
                for r in _apply(spark, d, w).collect()
            }
        # old key must be gone, new key live
        assert got == {("conv-b", 1): "hello"}

    def test_same_key_update_unchanged(self, spark):
        w = _writer()
        r1 = ("conv-a", 1, "user", "hello", None, TS)
        w.write_rows(5, TRANSCRIPTS_SCHEMA, [r1])
        r2 = ("conv-a", 1, "user", "edited", None, TS + 1)
        w.update_rows(5, TRANSCRIPTS_SCHEMA, [(r1, r2)])
        w.rotate("binlog.000002")
        with tempfile.TemporaryDirectory() as d:
            got = {
                (r.conv_id, r.turn_idx): r.text
                for r in _apply(spark, d, w).collect()
            }
        assert got == {("conv-a", 1): "edited"}


class TestTimestampTimezone:
    def test_non_utc_session_gets_utc_instants(self, spark):
        """A consumer with a non-UTC session timezone must still get the
        envelope's UTC wall times as the correct instants."""
        old_tz = spark.conf.get("spark.sql.session.timeZone")
        try:
            spark.conf.set("spark.sql.session.timeZone", "America/New_York")
            w = _writer()
            # 2023-11-14 22:13:20 UTC
            w.write_rows(
                5, TRANSCRIPTS_SCHEMA, [("conv-a", 1, "user", "x", None, TS)]
            )
            w.rotate("binlog.000002")
            with tempfile.TemporaryDirectory() as d:
                rows = _apply(spark, d, w).collect()
            from pyspark.sql import functions as F

            epoch = (
                spark.createDataFrame([(rows[0].ts,)], "ts timestamp")
                .select(F.unix_timestamp("ts").cast("long").alias("e"))
                .collect()[0]["e"]
            )
            assert epoch == TS // 1_000_000
        finally:
            spark.conf.set("spark.sql.session.timeZone", old_tz)


class TestFromPosition:
    def test_envelope_lower_bound_applied(self, spark, tmp_path):
        from myzql_binlog_connector_spark.config import ReplayConfig, run_replay
        from myzql_binlog_connector_spark.genlog import (
            generate_stream,
            write_segments_parquet,
        )

        stream = generate_stream(seed=9, n_convs=20, n_segments=4)
        seg = str(tmp_path / "seg")
        write_segments_parquet(stream, seg)
        cfg_all = ReplayConfig(segments_path=seg, output_mode="envelope")
        _, env_all = run_replay(spark, cfg_all)
        total = env_all.count()

        cfg = ReplayConfig(
            segments_path=seg, output_mode="envelope", from_position=(3, 0)
        )
        _, env = run_replay(spark, cfg)
        rows = env.select("file_seq").distinct().collect()
        got_files = {r["file_seq"] for r in rows}
        assert got_files and got_files <= {3, 4}
        assert 0 < env.count() < total


class TestFilteredDescs:
    def test_unrelated_table_does_not_widen_schema(self, spark, tmp_path):
        """A second table with a string column at position 1 must not
        string-ify turn_idx when a table filter excludes it."""
        import glob
        import json
        import os

        from myzql_binlog_connector_spark.binlog.constants import ColumnType
        from myzql_binlog_connector_spark.binlog.encoder import (
            ColumnSpec,
            TableSchema,
        )
        from myzql_binlog_connector_spark.functions.table_filter import TableFilter
        from myzql_binlog_connector_spark.genlog import (
            generate_stream,
            write_segments_parquet,
        )

        other = TableSchema(
            database="other",
            table="noise",
            columns=(
                ColumnSpec(ColumnType.VARCHAR, 32, False),
                ColumnSpec(ColumnType.VARCHAR, 32),
            ),
            column_names=("a", "b"),
        )
        stream = generate_stream(seed=11, n_convs=10, n_segments=1)
        seg = str(tmp_path / "seg")
        paths = write_segments_parquet(stream, seg)
        # append the unrelated table's TABLE_MAP desc to the sidecar (v2)
        sidecar = os.path.join(seg, "_schemas.json")
        with open(sidecar) as f:
            entries = json.load(f)
        entries.append(
            {
                "database": "other",
                "table": "noise",
                "desc": other.desc,
            }
        )
        with open(sidecar, "w") as f:
            json.dump(entries, f)

        tf = TableFilter(include=["chat.transcripts"])
        with tempfile.TemporaryDirectory() as d:
            table = BucketedLakeTable(spark, d, ["conv_id", "turn_idx"], n_buckets=4)
            TranscriptsApplier(spark, table).apply_files(
                sorted(glob.glob(os.path.join(seg, "*.parquet"))),
                batch_id=0,
                table_filter=tf,
            )
            df = table.read()
            assert dict(df.dtypes)["turn_idx"] in ("int", "bigint")
            assert df.count() == len(stream.truth)
