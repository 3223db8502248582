"""Unit tests for the binlog wire codecs.

Covers the reference's richest-tested modules (decimal, json) with its
golden vectors (SURVEY.md §5.1), plus the temporal/lenenc paths the
reference leaves untested (§5.1 'untested in reference' gap).
"""

from __future__ import annotations

import pytest

from myzql_binlog_connector_spark.binlog import wire
from myzql_binlog_connector_spark.binlog.mysql_decimal import (
    decode_decimal,
    encode_decimal,
    storage_size,
)
from myzql_binlog_connector_spark.binlog.mysql_json import (
    decode_json,
    decode_json_value,
    encode_json_value,
)


class TestLenenc:
    @pytest.mark.parametrize("n", [0, 1, 250, 251, 65535, 65536, 1 << 23, 1 << 24, 1 << 40])
    def test_roundtrip(self, n):
        buf = memoryview(wire.write_lenenc(n))
        val, pos = wire.read_lenenc(buf, 0)
        assert val == n
        assert pos == len(buf)

    def test_boundaries(self):
        assert wire.write_lenenc(250) == bytes([250])
        assert wire.write_lenenc(251)[0] == 0xFC
        assert wire.write_lenenc(65536)[0] == 0xFD
        assert wire.write_lenenc(1 << 24)[0] == 0xFE


class TestHeader:
    def test_roundtrip(self):
        raw = wire.pack_header(1_700_000_000, 30, 7, 123, 4567, flags=1)
        h = wire.parse_header(memoryview(raw))
        assert (h.timestamp, h.event_type, h.server_id, h.event_size, h.log_pos, h.flags) == (
            1_700_000_000, 30, 7, 123, 4567, 1,
        )

    def test_frame_crc(self):
        body = wire.pack_header(1, 30, 1, 23, 23) + b"payl"
        pkt = wire.frame_packet(body)
        assert pkt[0] == 0
        assert wire.verify_crc(pkt)
        corrupted = pkt[:-1] + bytes([pkt[-1] ^ 0xFF])
        assert not wire.verify_crc(corrupted)


class TestDecimal:
    def test_golden_reference_vector(self):
        # decimal_parser.zig:320-332 — DECIMAL(21,4) 1340.4000
        assert encode_decimal("1340.4000", 21, 4).hex() == "800000000000053c0fa0"
        assert decode_decimal(bytes.fromhex("800000000000053c0fa0"), 21, 4) == "1340.4000"

    @pytest.mark.parametrize(
        "value,p,s",
        [
            ("123.45", 5, 2),
            ("-123.45", 5, 2),
            ("0", 10, 0),
            ("0.0001", 10, 4),
            ("-0.0001", 10, 4),
            ("9999999999", 10, 0),
            ("-9999999999", 10, 0),
            ("12345678901234567890123456789012345.123456789012345678901234567890", 65, 30),
            ("-12345678901234567890123456789012345.123456789012345678901234567890", 65, 30),
            ("1.5", 38, 10),
        ],
    )
    def test_roundtrip(self, value, p, s):
        got = decode_decimal(encode_decimal(value, p, s), p, s)
        # normalize the expected padding to scale digits
        if "." in value:
            i_, f_ = value.lstrip("-").split(".")
        else:
            i_, f_ = value.lstrip("-"), ""
        want = (i_.lstrip("0") or "0") + (("." + f_.ljust(s, "0")) if s else "")
        if value.startswith("-") and want != "0" and set(want) - {"0", "."}:
            want = "-" + want
        assert got == want

    def test_storage_sizes(self):
        assert storage_size(21, 4) == 10
        assert storage_size(5, 2) == 3
        assert storage_size(65, 30) == 29 + 1  # 35 int digits + 30 frac digits


class TestJson:
    @pytest.mark.parametrize(
        "val",
        [
            None, True, False, 0, 42, -42, 30000, -30000, 70000, 3.5,
            "hello", "ünïcödé 😀", "",
            {"a": 1}, {"a": 1, "b": [1, 2, "x"], "c": {"d": None}},
            [1, "two", {"three": 3}], [], {},
            {"big": 1 << 40, "neg": -(1 << 40)},
        ],
    )
    def test_roundtrip(self, val):
        assert decode_json_value(encode_json_value(val)) == val

    def test_mariadb_plain_passthrough(self):
        # first byte > 0x0f → plain UTF-8 (json_decoder.zig:198-202 analogue)
        raw = b'{"x": 1}'
        assert decode_json(raw) == '{"x": 1}'

    def test_empty_blob_is_null(self):
        assert decode_json(b"") is None


class TestTemporal:
    def test_timestamp2_roundtrip(self):
        us = 1_700_000_000_123_456
        for fsp in (0, 3, 6):
            enc = wire.encode_timestamp2(us, fsp)
            got, pos = wire.decode_timestamp2(memoryview(enc), 0, fsp)
            scale = 10 ** (6 - fsp)
            assert got == (us // scale) * scale
            assert pos == len(enc)

    def test_datetime2_roundtrip(self):
        parts = (2024, 2, 29, 23, 59, 58, 999999)
        for fsp in (0, 3, 6):
            enc = wire.encode_datetime2(*parts, fsp=fsp)
            got, _ = wire.decode_datetime2(memoryview(enc), 0, fsp)
            scale = 10 ** (6 - fsp)
            want = parts[:6] + ((parts[6] // scale) * scale,)
            assert got == want

    def test_datetime2_zero_date_is_none(self):
        enc = wire.encode_datetime2(0, 0, 0, 0, 0, 0, 0, fsp=0)
        got, _ = wire.decode_datetime2(memoryview(enc), 0, 0)
        assert got is None

    def test_time2_negative(self):
        enc = wire.encode_time2(5, 30, 15, 500000, True, fsp=6)
        (neg, h, m, s, us), _ = wire.decode_time2(memoryview(enc), 0, 6)
        assert (neg, h, m, s, us) == (True, 5, 30, 15, 500000)

    def test_time2_positive_zero_fsp(self):
        enc = wire.encode_time2(838, 59, 59, 0, False, fsp=0)
        (neg, h, m, s, us), _ = wire.decode_time2(memoryview(enc), 0, 0)
        assert (neg, h, m, s, us) == (False, 838, 59, 59, 0)

    def test_date_roundtrip_and_zero(self):
        got, _ = wire.decode_date(memoryview(wire.encode_date(2023, 11, 14)), 0)
        assert got == (2023, 11, 14)
        got, _ = wire.decode_date(memoryview(wire.encode_date(0, 0, 0)), 0)
        assert got is None

    def test_datetime_old_roundtrip(self):
        enc = wire.encode_datetime_old(1999, 12, 31, 23, 59, 59)
        got, _ = wire.decode_datetime_old(memoryview(enc), 0)
        assert got == (1999, 12, 31, 23, 59, 59, 0)


class TestOddFspFraction:
    """Round-5 ADVICE regression: MySQL stores fractional seconds in 2-DIGIT
    units per storage byte (1B=centiseconds, 2B=10-us units, 3B=us), so for
    odd fsp the stored integer is NOT us/10**(6-fsp).  The old code was
    self-consistent encoder+decoder (round-trips passed) but decoded real
    server bytes 10x too large.  Byte literals below are hand-built from the
    MySQL row-format spec (reference event_parser.zig parseFraction)."""

    def test_timestamp2_fsp1_byte_literal(self):
        # 2024-01-01 00:00:00.9 UTC, fsp=1: 4B BE seconds + 1B frac in
        # CENTISECONDS -> 0.9s stored as 90, decoded us = 90 * 10_000
        buf = (1_704_067_200).to_bytes(4, "big") + bytes([90])
        us, pos = wire.decode_timestamp2(memoryview(buf), 0, 1)
        assert pos == 5
        assert us == 1_704_067_200 * 1_000_000 + 900_000

    def test_timestamp2_fsp3_byte_literal(self):
        # fsp=3: 2B frac in 10-us units -> .123 stored as 1230
        buf = (100).to_bytes(4, "big") + (1230).to_bytes(2, "big")
        us, pos = wire.decode_timestamp2(memoryview(buf), 0, 3)
        assert pos == 6
        assert us == 100 * 1_000_000 + 123_000

    def test_timestamp2_fsp5_byte_literal(self):
        # fsp=5: 3B frac in MICROSECONDS -> .99999 stored as 999_990
        buf = (7).to_bytes(4, "big") + (999_990).to_bytes(3, "big")
        us, pos = wire.decode_timestamp2(memoryview(buf), 0, 5)
        assert pos == 7
        assert us == 7 * 1_000_000 + 999_990

    def test_datetime2_fsp1_byte_literal(self):
        # packed 2024-06-15 12:34:56 + frac byte 50 (centisec) = .5s
        ym = 2024 * 13 + 6
        packed = (1 << 39) | (ym << 22) | (15 << 17) | (12 << 12) | (34 << 6) | 56
        buf = packed.to_bytes(5, "big") + bytes([50])
        parts, _ = wire.decode_datetime2(memoryview(buf), 0, 1)
        assert parts == (2024, 6, 15, 12, 34, 56, 500_000)

    def test_time2_fsp3_byte_literal(self):
        # 01:02:03.456, fsp=3: 3B packed + 2B frac in 10-us units (4560)
        packed = (1 << 23) | (1 << 12) | (2 << 6) | 3
        buf = packed.to_bytes(3, "big") + (4560).to_bytes(2, "big")
        (neg, h, m, s, us), _ = wire.decode_time2(memoryview(buf), 0, 3)
        assert (neg, h, m, s, us) == (False, 1, 2, 3, 456_000)

    def test_roundtrip_all_fsp_truncates_to_fsp_digits(self):
        us_in = 987_654
        for fsp in range(7):
            enc = wire.encode_timestamp2(1_000 * 1_000_000 + us_in, fsp)
            got, _ = wire.decode_timestamp2(memoryview(enc), 0, fsp)
            scale = 10 ** (6 - fsp)
            assert got == 1_000 * 1_000_000 + (us_in // scale) * scale, fsp

    def test_encode_fsp1_stores_centiseconds(self):
        # the encoder must write the even-digit unit a real server writes
        enc = wire.encode_timestamp2(1_000 * 1_000_000 + 900_000, 1)
        assert enc[4] == 90  # not 9 (fsp-digit), not 900 (overflow)

    def test_generic_and_rowvec_parity_odd_fsp(self):
        """The generic parser and the vectorized path decode an fsp=3
        TIMESTAMP2 column to the same (correct) string."""
        import json as _json

        from myzql_binlog_connector_spark.binlog.encoder import (
            EventWriter,
            TableSchema,
            long_col,
            timestamp2,
            varchar,
        )
        from test_quarantine import _decode_inprocess
        from tests.event_batches import envelope_rows

        schema = TableSchema(
            database="chat",
            table="odd_fsp",
            columns=(varchar(32, nullable=False), long_col(nullable=False),
                     timestamp2(3)),
            column_names=("k", "i", "t"),
        )
        # 2024-01-01 00:00:00.123 -> truncated to fsp=3
        ts_us = 1_704_067_200 * 1_000_000 + 123_000
        w = EventWriter(server_id=1)
        w.format_description()
        w.table_map(9, schema)
        w.write_rows(9, schema, [(f"k{i}", i, ts_us) for i in range(8)])

        generic = [
            rec["after_values"]
            for rec in envelope_rows((pkt, 1, 0, 0) for _o, pkt in w.events)
        ]
        vec = [
            av
            for rb in _decode_inprocess(w.events, on_error="raise")
            for av in rb.column("after_values").to_pylist()
        ]
        assert sorted(vec) == sorted(generic)
        got = {_json.loads(av)["c0"]: _json.loads(av)["c2"] for av in generic}
        assert got["k0"] == "2024-01-01 00:00:00.123000"
