"""The session's two entry points, ``process_packet_columnar`` (envelope)
and ``process_packet_typed``: the per-row reference (``vec=None``) vs the
vectorized collector over the full type matrix, nulls, updates, and schema
evolution, plus the typed path's tombstones, v1 framing, CRC checks, empty
present bitmaps and zero-copy blob views.  The per-row reference parses
through the generic parser (event_parser.zig:870-1039)."""

from __future__ import annotations

import json

from myzql_binlog_connector_spark.binlog.decoder import (
    BinlogSession,
    EnvelopeBatch,
)
from myzql_binlog_connector_spark.binlog.encoder import EventWriter, TRANSCRIPTS_SCHEMA
from myzql_binlog_connector_spark.genlog import generate_ops, encode_stream
from tests.event_batches import (
    env_collector,
    envelope_rows,
    typed_collector,
    typed_rows,
)

from test_decode_matrix import TORTURE, ROW


def _assert_env_parity(packets):
    olds = envelope_rows(packets)
    news = envelope_rows(packets, vec=env_collector())
    assert len(olds) == len(news)
    for name in EnvelopeBatch.__slots__:
        for r, (old, new) in enumerate(zip(olds, news)):
            assert old[name] == new[name], (name, r, old[name], new[name])


def _torture_packets(rows_builder):
    w = EventWriter()
    w.format_description()
    w.table_map(9, TORTURE)
    rows_builder(w)
    return [(pkt, 1, i + 1, i + 1) for i, (_, pkt) in enumerate(w.events)]


class TestEnvelopeParity:
    def test_torture_write(self):
        _assert_env_parity(_torture_packets(lambda w: w.write_rows(9, TORTURE, [ROW])))

    def test_torture_all_nulls(self):
        _assert_env_parity(
            _torture_packets(
                lambda w: w.write_rows(9, TORTURE, [tuple(None for _ in ROW)])
            )
        )

    def test_torture_staggered_nulls_multirow(self):
        rows = [
            tuple(v if (i + k) % 3 else None for i, v in enumerate(ROW))
            for k in range(7)
        ]
        _assert_env_parity(_torture_packets(lambda w: w.write_rows(9, TORTURE, rows)))

    def test_torture_update_delete(self):
        def build(w):
            after = ROW[:12] + ("changed",) + ROW[13:]
            w.update_rows(9, TORTURE, [(ROW, after)])
            w.delete_rows(9, TORTURE, [ROW])

        _assert_env_parity(_torture_packets(build))

    def test_generated_stream_with_evolution(self):
        ops = generate_ops(seed=7, n_convs=60)
        stream = encode_stream(ops, n_segments=3, seed=7, evolve_at=0.5)
        packets = [
            (blob, fs, g, es)
            for fs, rows in stream.segments
            for (_off, g, es, blob) in rows
        ]
        _assert_env_parity(packets)


class TestTypedParser:
    KINDS = ("s", "i", "s", "s", "s", "s")
    NAMES = ("conv_id", "turn_idx", "role", "text", "tool", "ts")

    def _typed_rows(self, packets, vec=None):
        return typed_rows(packets, self.KINDS, (0, 1), 6, vec)

    def test_matches_envelope_projection(self):
        ops = generate_ops(seed=11, n_convs=50)
        stream = encode_stream(ops, n_segments=2, seed=11)
        packets = [
            (blob, fs, g, es)
            for fs, rows in stream.segments
            for (_off, g, es, blob) in rows
        ]
        env = envelope_rows(packets)
        cols = self._typed_rows(packets)
        assert len(cols[0]) == len(env)
        assert self._typed_rows(packets, typed_collector(self.KINDS, (0, 1), 6)) == cols
        for r, rec in enumerate(env):
            img = json.loads(
                rec["after_values"]
                if rec["dml_type"] != "DELETE"
                else rec["before_values"]
            )
            deleted = rec["dml_type"] == "DELETE"
            for i in range(6):
                want = img.get(f"c{i}")
                if deleted and i not in (0, 1):
                    want = None
                assert cols[i][r] == want, (r, i, cols[i][r], want)
            assert cols[6][r] is deleted
            assert cols[7][r] == rec["gtid"]
            assert cols[11][r] == rec["log_pos"]

    def test_pk_change_update_emits_tombstone(self):
        w = EventWriter()
        w.format_description()
        w.table_map(5, TRANSCRIPTS_SCHEMA)
        before = ("conv-a", 1, "user", "hello", None, 1_700_000_000_000_000)
        after = ("conv-b", 1, "user", "hello", None, 1_700_000_000_000_000)
        w.update_rows(5, TRANSCRIPTS_SCHEMA, [(before, after)])
        packets = [(pkt, 1, 1, i + 1) for i, (_, pkt) in enumerate(w.events)]
        cols = self._typed_rows(packets)
        # tombstone for the old key first, then the upsert at the new key
        assert cols[0] == ["conv-a", "conv-b"]
        assert cols[6] == [True, False]  # _deleted
        assert cols[3] == [None, "hello"]  # non-key cols absent on tombstone
        # ordering: tombstone sorts before upsert within the event
        assert cols[9] == [1, 2]  # _event_row_index

    def test_same_key_update_single_row(self):
        w = EventWriter()
        w.format_description()
        w.table_map(5, TRANSCRIPTS_SCHEMA)
        before = ("conv-a", 1, "user", "hello", None, 1_700_000_000_000_000)
        after = ("conv-a", 1, "user", "edited", None, 1_700_000_000_500_000)
        w.update_rows(5, TRANSCRIPTS_SCHEMA, [(before, after)])
        packets = [(pkt, 1, 1, i + 1) for i, (_, pkt) in enumerate(w.events)]
        cols = self._typed_rows(packets)
        assert cols[0] == ["conv-a"]
        assert cols[3] == ["edited"]
        assert cols[6] == [False]


class TestRowsV1Framing:
    """v1 vs v2 ROWS framing is announced by FORMAT_DESCRIPTION
    post_header_len (8 vs 10), not the event code — a v1 stream using type
    30-32 must decode identically (cf. event_parser.zig:69-71)."""

    def _stream(self, rows_v2: bool):
        from myzql_binlog_connector_spark.binlog.encoder import (
            EventWriter,
            TRANSCRIPTS_SCHEMA,
        )

        w = EventWriter(rows_v2=rows_v2)
        w.format_description()
        w.table_map(5, TRANSCRIPTS_SCHEMA)
        rows = [
            (f"conv-{i}", i, "user", f"text {i}", None, 1_700_000_000_000_000 + i)
            for i in range(5)
        ]
        w.write_rows(5, TRANSCRIPTS_SCHEMA, rows)
        w.update_rows(5, TRANSCRIPTS_SCHEMA, [(rows[0], rows[1])])
        w.delete_rows(5, TRANSCRIPTS_SCHEMA, [rows[2]])
        return [(pkt, 1, i + 1, i + 1) for i, (_, pkt) in enumerate(w.events)]

    def test_v1_equals_v2_generic_and_columnar(self):
        outs = {}
        for v2 in (True, False):
            packets = self._stream(v2)
            outs[(v2, "per_row")] = envelope_rows(packets)
            outs[(v2, "vec")] = envelope_rows(packets, vec=env_collector())
        # payload-visible fields identical across framings and paths
        keys = ("database", "table_name", "dml_type", "before_values",
                "after_values", "event_row_index")
        base = [{k: r[k] for k in keys} for r in outs[(True, "per_row")]]
        for variant in outs.values():
            assert [{k: r[k] for k in keys} for r in variant] == base
        assert len(base) == 7  # 5 inserts + 1 update + 1 delete


class TestCrcVerification:
    def test_corrupt_packet_detected(self):
        w = EventWriter()
        w.format_description()
        w.table_map(5, TRANSCRIPTS_SCHEMA)
        w.write_rows(5, TRANSCRIPTS_SCHEMA,
                     [("c", 0, "user", "x", None, 1_700_000_000_000_000)])
        packets = [pkt for _, pkt in w.events]
        # flip a payload byte of the ROWS packet, keep the old CRC
        bad = bytearray(packets[-1])
        bad[25] ^= 0xFF
        sess = BinlogSession(verify_crc=True)
        for pkt in packets[:-1]:
            sess.process_packet_columnar(pkt, 1, 0, 0, EnvelopeBatch())
        import pytest as _pytest

        with _pytest.raises(ValueError, match="CRC32 mismatch"):
            sess.process_packet_columnar(bytes(bad), 1, 0, 0, EnvelopeBatch())

    def test_corrupt_fast_skipped_packet_detected(self):
        # XID (16) is a kind _pre_rows fast-skips when no stop bound is
        # set; verify_crc must still catch corruption in it
        w = EventWriter()
        w.format_description()
        w._emit(16, (1234).to_bytes(8, "little"))  # XID event
        packets = [pkt for _, pkt in w.events]
        sess = BinlogSession(verify_crc=True)
        sess.process_packet_columnar(packets[0], 1, 0, 0, EnvelopeBatch())
        bad = bytearray(packets[1])
        bad[-6] ^= 0xFF  # corrupt payload, keep the old CRC
        import pytest as _pytest

        with _pytest.raises(ValueError, match="CRC32 mismatch"):
            sess.process_packet_columnar(bytes(bad), 1, 0, 0, EnvelopeBatch())

    def test_clean_stream_passes(self):
        w = EventWriter()
        w.format_description()
        w.table_map(5, TRANSCRIPTS_SCHEMA)
        w.write_rows(5, TRANSCRIPTS_SCHEMA,
                     [("c", 0, "user", "x", None, 1_700_000_000_000_000)])
        sess = BinlogSession(verify_crc=True)
        rows = EnvelopeBatch()
        for _, pkt in w.events:
            sess.process_packet_columnar(pkt, 1, 0, 0, rows)
        assert len(rows) == 1


class TestEmptyPresentBitmap:
    def test_empty_present_compiles_and_parses(self):
        """ROWS events whose present bitmaps are empty: an empty body
        decodes to zero rows on every per-row entry point, and a body with
        bytes raises instead of looping on zero-width row images."""
        import pytest as _pytest

        from myzql_binlog_connector_spark.binlog.wire import write_lenenc

        def emit_rows_event(w, event_type, body=b""):
            n_bitmaps = 2 if event_type == 31 else 1
            payload = (5).to_bytes(6, "little") + b"\x00\x00" + b"\x02\x00"
            payload += write_lenenc(6) + b"\x00" * n_bitmaps + body
            return w._emit(event_type, payload)[2]

        w = EventWriter()
        w.format_description()
        w.table_map(5, TRANSCRIPTS_SCHEMA)
        for et in (30, 31, 32):
            emit_rows_event(w, et)
        packets = [(pkt, 1, i + 1, i + 1) for i, (_, pkt) in enumerate(w.events)]
        assert envelope_rows(packets) == []
        assert len(envelope_rows(packets, vec=env_collector())) == 0
        assert all(c == [] for c in TestTypedParser()._typed_rows(packets))

        bad = emit_rows_event(w, 30, body=b"\x01")
        sess = BinlogSession()
        for pkt, _fs, _g, _es in packets:
            sess.process_packet_columnar(pkt, 1, 1, 1, EnvelopeBatch())
        with _pytest.raises(ValueError, match="no present columns"):
            sess.process_packet_columnar(bad, 1, 1, 1, EnvelopeBatch())
        # rowvec declines zero-width images, so the collector path raises
        # the same way instead of hanging in its row walk
        vec = env_collector()
        with _pytest.raises(ValueError, match="no present columns"):
            sess.process_packet_columnar(bad, 1, 1, 1, EnvelopeBatch(), vec)


class TestBlobViews:
    def test_zero_copy_views_match_pylist_including_high_bytes(self):
        """pyarrow Buffer memoryviews export format 'b' (signed); the cast
        to 'B' must make indexing return unsigned ints — a blob byte >0x7f
        read as negative broke varlen length fields (round-3 regression)."""
        import pyarrow as pa

        from myzql_binlog_connector_spark.functions.decode import _blob_views

        blobs = [bytes([0xFF, 0x80, 0x01]), b"", b"plain", bytes(range(256))]
        arr = pa.array(blobs, pa.binary())
        for a in (arr, arr.slice(1, 3), pa.chunked_array([arr, arr])):
            views = _blob_views(a)
            assert [bytes(v) for v in views] == a.to_pylist()
            for v in views:
                if len(v):
                    assert v[0] >= 0  # unsigned indexing
