"""In-band GTID_LOG_EVENT support: transaction ids come from the stream
itself when present, overriding the synthetic side column."""

from __future__ import annotations

import glob
import json

from myzql_binlog_connector_spark.binlog.decoder import parse_gtid
from myzql_binlog_connector_spark.binlog.encoder import (
    EventWriter,
    TRANSCRIPTS_SCHEMA,
)
from myzql_binlog_connector_spark.genlog import GeneratedStream, write_segments_parquet
from myzql_binlog_connector_spark.plans.apply import TranscriptsApplier
from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable
from tests.event_batches import envelope_rows


def _stream_with_gtids():
    """Two transactions touching the same key; correct LWW requires using
    the IN-BAND gtids (side-column gtid is a constant 0)."""
    w = EventWriter()
    w.format_description()
    w.gtid_event(gno=100)
    w.table_map(5, TRANSCRIPTS_SCHEMA)
    w.write_rows(5, TRANSCRIPTS_SCHEMA, [("c", 0, "user", "first", None, 1_700_000_000_000_000)])
    w.gtid_event(gno=200)
    w.table_map(5, TRANSCRIPTS_SCHEMA)
    w.update_rows(
        5, TRANSCRIPTS_SCHEMA,
        [(("c", 0, "user", "first", None, 1_700_000_000_000_000),
          ("c", 0, "user", "second", None, 1_700_000_001_000_000))],
    )
    w.rotate("binlog.000002")
    return w


class TestGtid:
    def test_parse_gtid_event(self):
        w = _stream_with_gtids()
        rows = envelope_rows((pkt, 1, 0, 0) for _off, pkt in w.events)
        assert [r["gtid"] for r in rows] == [100, 200]
        assert rows[0]["after_values"] and json.loads(rows[0]["after_values"])["c3"] == "first"

    def test_gtid_str_formatting(self):
        payload = bytes([1]) + b"\x01" * 16 + (42).to_bytes(8, "little")
        g = parse_gtid(memoryview(payload))
        assert g.gno == 42
        assert g.gtid_str.endswith(":42")

    def test_side_column_kept_without_gtid_events(self):
        w = EventWriter()
        w.format_description()
        w.table_map(5, TRANSCRIPTS_SCHEMA)
        w.write_rows(5, TRANSCRIPTS_SCHEMA, [("c", 0, "user", "x", None, 1_700_000_000_000_000)])
        rows = envelope_rows((pkt, 1, 77, 9) for _off, pkt in w.events)
        assert rows[0]["gtid"] == 77 and rows[0]["event_seq"] == 9

    def test_lww_uses_in_band_gtid_through_apply(self, spark, tmp_path):
        w = _stream_with_gtids()
        stream = GeneratedStream(
            # side-column gtid deliberately 0 for every packet
            segments=[(1, [(off, 0, 0, pkt) for off, pkt in w.events])]
        )
        write_segments_parquet(stream, str(tmp_path / "seg"))
        paths = sorted(glob.glob(str(tmp_path / "seg" / "*.parquet")))
        table = BucketedLakeTable(spark, str(tmp_path / "t"), ["conv_id", "turn_idx"], n_buckets=2)
        TranscriptsApplier(spark, table).apply_files(paths, batch_id=0)
        rows = table.read().collect()
        assert len(rows) == 1
        assert rows[0]["text"] == "second"  # txn 200 beat txn 100
