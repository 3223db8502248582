"""Round-trip of the capture-side contract (docs/CAPTURE.md): a recorded
MySQL packet stream → scripts/capture_stub.py → segment store → engine
decode equals decoding the original packets directly."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))

from capture_stub import (  # noqa: E402
    CaptureError,
    capture,
    iter_mysql_packets,
    packets_to_segments,
)

from myzql_binlog_connector_spark.genlog import generate_stream  # noqa: E402
from tests.event_batches import envelope_rows  # noqa: E402


def _wire_frame(payload: bytes, seq: int) -> bytes:
    return len(payload).to_bytes(3, "little") + bytes([seq & 0xFF]) + payload


def _recorded_stream(stream) -> bytes:
    out = bytearray()
    seq = 1
    for _fs, rows in stream.segments:
        for _off, _g, _es, blob in rows:
            out += _wire_frame(blob, seq)
            seq += 1
    out += _wire_frame(b"\xfe\x00\x00\x00\x00", seq)  # EOF
    return bytes(out)


class TestPacketFraming:
    def test_split_packet_reassembly(self):
        # max_payload=8 to exercise continuation without 16MB payloads
        big = bytes(range(20))
        framed = (
            _wire_frame(big[:8], 1) + _wire_frame(big[8:16], 2) + _wire_frame(big[16:], 3)
        )
        got = list(iter_mysql_packets(framed, max_payload=8))
        assert got == [big]

    def test_exact_boundary_then_empty(self):
        payload = bytes(8)
        framed = _wire_frame(payload, 1) + _wire_frame(b"", 2)
        assert list(iter_mysql_packets(framed, max_payload=8)) == [payload]

    def test_err_packet_raises(self):
        err = b"\xff\x28\x04#HY000oops"
        with pytest.raises(CaptureError, match="1064"):
            packets_to_segments([err])

    def test_truncated_stream_raises(self):
        with pytest.raises(ValueError, match="truncated"):
            list(iter_mysql_packets(b"\x05\x00\x00\x01ab"))


class TestRoundTrip:
    def test_capture_matches_direct_decode(self, tmp_path):
        import pyarrow.parquet as pq

        stream = generate_stream(seed=13, n_convs=30, n_segments=3)
        rec_path = tmp_path / "recorded.bin"
        rec_path.write_bytes(_recorded_stream(stream))
        out_dir = str(tmp_path / "segs")
        paths = capture(str(rec_path), out_dir)
        assert len(paths) == 3  # one file per ROTATE-delimited segment
        assert os.path.exists(os.path.join(out_dir, "_schemas.json"))

        # decode the captured store
        tables = [pq.read_table(p) for p in paths]
        cap_rows = envelope_rows(
            packet
            for t in tables
            for packet in zip(
                t.column("event_blob").to_pylist(),
                t.column("file_seq").to_pylist(),
                t.column("gtid").to_pylist(),
                t.column("event_seq").to_pylist(),
            )
        )

        # decode the generator's own segments directly
        ref_rows = envelope_rows(
            (blob, fs, g, es)
            for fs, rows in stream.segments
            for _off, g, es, blob in rows
        )

        assert len(cap_rows) == len(ref_rows)
        for a, b in zip(cap_rows, ref_rows):
            # payloads identical; stamping (gtid/event_seq) is the capture
            # process's own monotone numbering
            for k in ("database", "table_name", "dml_type", "before_values",
                      "after_values", "log_pos", "event_row_index"):
                assert a[k] == b[k]

    def test_offsets_match_generator(self, tmp_path):
        import pyarrow.parquet as pq

        stream = generate_stream(seed=13, n_convs=10, n_segments=2)
        rec_path = tmp_path / "rec.bin"
        rec_path.write_bytes(_recorded_stream(stream))
        paths = capture(str(rec_path), str(tmp_path / "segs"))
        want = {
            fs: [r[0] for r in rows] for fs, rows in stream.segments
        }
        for p, (fs, _) in zip(paths, stream.segments):
            got = pq.read_table(p).column("offset").to_pylist()
            assert got == want[fs]


class TestFramingFuzz:
    def test_arbitrary_bytes_raise_structured_or_parse(self):
        """Garbage byte streams must either frame cleanly or raise
        ValueError/CaptureError — never hang or crash unstructured."""
        from hypothesis import given, settings, strategies as st

        @settings(max_examples=300, deadline=None)
        @given(st.binary(min_size=0, max_size=200))
        def run(data):
            try:
                payloads = list(iter_mysql_packets(data, max_payload=32))
            except ValueError:
                return
            try:
                packets_to_segments(payloads)
            except (ValueError, CaptureError):
                pass

        run()

    def test_refeeding_framed_garbage_roundtrips(self):
        from hypothesis import given, settings, strategies as st

        @settings(max_examples=100, deadline=None)
        @given(st.lists(st.binary(min_size=0, max_size=40), max_size=8))
        def run(payloads):
            framed = b"".join(
                len(p).to_bytes(3, "little") + bytes([i & 0xFF]) + p
                for i, p in enumerate(payloads)
            )
            # short frames (below a 64-byte continuation limit) round-trip
            got = list(iter_mysql_packets(framed, max_payload=64))
            assert got == [p for p in payloads]

        run()
