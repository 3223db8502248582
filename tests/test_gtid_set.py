"""GtidSet (Executed_Gtid_Set): text/binary round-trips, set algebra, the
PREVIOUS_GTIDS (35) event through the decode session and capture stub."""

from __future__ import annotations

import uuid

import pytest

from myzql_binlog_connector_spark.binlog.decoder import BinlogSession, EnvelopeBatch
from myzql_binlog_connector_spark.binlog.encoder import (
    EventWriter,
    TRANSCRIPTS_SCHEMA,
)
from myzql_binlog_connector_spark.binlog.gtid_set import GtidSet

U1 = "3e11fa47-71ca-11e1-9e33-c80aa9429562"
U2 = "11111111-2222-3333-4444-555555555555"


class TestGtidSet:
    def test_text_roundtrip_and_normalize(self):
        g = GtidSet.from_text(f"{U1}:1-5:7,{U2}:1-3")
        assert str(g) == f"{U2}:1-3,{U1}:1-5:7"
        # adjacent intervals coalesce
        g2 = GtidSet.from_text(f"{U1}:1-3:4-6")
        assert g2.sids[U1] == [(1, 6)]

    def test_binary_roundtrip(self):
        g = GtidSet.from_text(f"{U1}:1-5:7,{U2}:42")
        assert GtidSet.from_payload(g.to_payload()) == g

    def test_contains_add(self):
        g = GtidSet.from_text(f"{U1}:1-5")
        assert g.contains(U1, 3) and not g.contains(U1, 6)
        g.add(U1, 6)
        assert g.sids[U1] == [(1, 6)]
        assert not g.contains(U2, 1)

    def test_union_subtract(self):
        a = GtidSet.from_text(f"{U1}:1-10")
        b = GtidSet.from_text(f"{U1}:4-6:9-20,{U2}:1")
        assert a.union(b).sids[U1] == [(1, 20)]
        gap = a.subtract(b)
        assert gap.sids == {U1: [(1, 3), (7, 8)]}

    def test_empty_and_errors(self):
        assert GtidSet.from_text("").sids == {}
        with pytest.raises(ValueError):
            GtidSet.from_text(f"{U1}:5-2")


class TestSessionPreviousGtids:
    def test_session_accumulates_snapshots(self):
        w = EventWriter()
        w.format_description()
        w.previous_gtids(GtidSet.from_text(f"{U1}:1-100"))
        w.table_map(5, TRANSCRIPTS_SCHEMA)
        w.write_rows(5, TRANSCRIPTS_SCHEMA,
                     [("c", 0, "user", "x", None, 1_700_000_000_000_000)])
        w.previous_gtids(GtidSet.from_text(f"{U2}:1-7"))
        sess = BinlogSession()
        rows = EnvelopeBatch()
        for _, pkt in w.events:
            sess.process_packet_columnar(pkt, 1, 0, 0, rows)
        assert len(rows) == 1  # gtid events don't disturb row decode
        assert sess.previous_gtids == GtidSet.from_text(f"{U1}:1-100,{U2}:1-7")

    def test_capture_stub_persists_executed_set(self, tmp_path):
        import json
        import os
        import sys

        sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
        from capture_stub import capture

        w = EventWriter()
        w.format_description()
        w.previous_gtids(GtidSet.from_text(f"{U1}:1-3"))
        w.table_map(5, TRANSCRIPTS_SCHEMA)
        w.gtid_event(4, sid=uuid.UUID(U1).bytes)
        w.write_rows(5, TRANSCRIPTS_SCHEMA,
                     [("c", 0, "user", "x", None, 1_700_000_000_000_000)])
        w.rotate("binlog.000002")
        rec = bytearray()
        for i, (_, pkt) in enumerate(w.events, start=1):
            rec += len(pkt).to_bytes(3, "little") + bytes([i & 0xFF]) + pkt
        p = tmp_path / "rec.bin"
        p.write_bytes(bytes(rec))
        capture(str(p), str(tmp_path / "segs"))
        with open(tmp_path / "segs" / "_gtids.json") as f:
            got = json.load(f)["executed_gtid_set"]
        assert GtidSet.from_text(got) == GtidSet.from_text(f"{U1}:1-4")
