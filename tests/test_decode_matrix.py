"""Full column-type decode matrix (FIXTURES.md F4 `typed_torture`).

Covers every decoder in the reference's parseColumnValue dispatch
(event_parser.zig:870-1039) via encode→decode roundtrips, including null
bitmaps, UPDATE before/after images, multi-row events, and the lenenc edge
cases.  This is the coverage the reference itself lacks (SURVEY.md §5.1).
"""

from __future__ import annotations

import json

import pytest

from myzql_binlog_connector_spark.binlog.constants import ColumnType
from myzql_binlog_connector_spark.binlog.encoder import (
    ColumnSpec,
    EventWriter,
    TableSchema,
)
from myzql_binlog_connector_spark.binlog.mysql_json import encode_json_value
from tests.event_batches import envelope_rows

TORTURE = TableSchema(
    database="t",
    table="torture",
    columns=(
        ColumnSpec(ColumnType.TINY),                      # c0
        ColumnSpec(ColumnType.SHORT),                     # c1
        ColumnSpec(ColumnType.INT24),                     # c2
        ColumnSpec(ColumnType.LONG),                      # c3
        ColumnSpec(ColumnType.LONGLONG),                  # c4
        ColumnSpec(ColumnType.FLOAT, 4),                  # c5
        ColumnSpec(ColumnType.DOUBLE, 8),                 # c6
        ColumnSpec(ColumnType.YEAR),                      # c7
        ColumnSpec(ColumnType.DATE),                      # c8
        ColumnSpec(ColumnType.DATETIME2, 6),              # c9
        ColumnSpec(ColumnType.TIMESTAMP2, 3),             # c10
        ColumnSpec(ColumnType.TIME2, 6),                  # c11
        ColumnSpec(ColumnType.VARCHAR, 40),               # c12 (1B prefix)
        ColumnSpec(ColumnType.VARCHAR, 1000),             # c13 (2B prefix)
        ColumnSpec(ColumnType.STRING, (254 << 8) | 20),   # c14 CHAR(20)
        ColumnSpec(ColumnType.STRING, (ColumnType.ENUM << 8) | 1),  # c15 ENUM 1B
        ColumnSpec(ColumnType.STRING, (ColumnType.SET << 8) | 2),   # c16 SET 2B
        ColumnSpec(ColumnType.BLOB, 2),                   # c17 BLOB w/ 2B len
        ColumnSpec(ColumnType.BIT, (1 << 8) | 1),         # c18 BIT(9): bytes=1,rem=1
        ColumnSpec(ColumnType.NEWDECIMAL, (21 << 8) | 4), # c19 DECIMAL(21,4)
        ColumnSpec(ColumnType.NEWDECIMAL, (65 << 8) | 30),# c20 DECIMAL(65,30)
        ColumnSpec(ColumnType.JSON, 4),                   # c21
        ColumnSpec(ColumnType.DATETIME),                  # c22 old datetime
        ColumnSpec(ColumnType.TIMESTAMP),                 # c23 old timestamp
        ColumnSpec(ColumnType.TIME),                      # c24 old time
    ),
)

ROW = (
    -128,                       # TINY  (signed edge)
    -32768,                     # SHORT
    -(1 << 23),                 # INT24 sign-extension edge
    -2147483648,                # LONG
    -(1 << 62),                 # LONGLONG
    1.5,                        # FLOAT (exact in fp32)
    3.141592653589793,          # DOUBLE
    2024,                       # YEAR
    (2023, 11, 14),             # DATE
    (2024, 2, 29, 23, 59, 58, 123456),  # DATETIME2
    1_700_000_000_123_000,      # TIMESTAMP2 fsp=3 (µs multiple of 1000)
    (True, 5, 30, 15, 250000),  # TIME2 negative
    "short-varchar",            # VARCHAR 1B
    "x" * 300,                  # VARCHAR 2B prefix path
    "char-val",                 # CHAR
    3,                          # ENUM index
    0b1010,                     # SET bitmask
    b"\x00\x01\xfe\xff",        # BLOB
    0b1_0101_0101,              # BIT(9)
    "1340.4000",                # DECIMAL(21,4) golden
    "12345678901234567890123456789012345.123456789012345678901234567890",
    {"k": [1, "two", None]},    # JSON
    (1999, 12, 31, 23, 59, 59), # old DATETIME
    1_700_000_000,              # old TIMESTAMP (unix secs)
    (13, 45, 30),               # old TIME
)

EXPECT = {
    0: -128, 1: -32768, 2: -(1 << 23), 3: -2147483648, 4: -(1 << 62),
    5: 1.5, 6: 3.141592653589793, 7: 2024,
    8: "2023-11-14",
    9: "2024-02-29 23:59:58.123456",
    10: "2023-11-14 22:13:20.123000",
    11: "-05:30:15.250000",
    12: "short-varchar", 13: "x" * 300, 14: "char-val",
    15: 3, 16: 0b1010,
    17: "0x" + b"\x00\x01\xfe\xff".hex(),  # hex envelope rendering (P15)
    18: 0b1_0101_0101,
    19: "1340.4000",
    20: "12345678901234567890123456789012345.123456789012345678901234567890",
    21: {"k": [1, "two", None]},
    22: "1999-12-31 23:59:59",
    23: "2023-11-14 22:13:20",
    24: "13:45:30",
}


def _decode_rows(writer: EventWriter, n_expected: int):
    out = envelope_rows((pkt, 1, 0, 0) for _, pkt in writer.events)
    assert len(out) == n_expected
    return out


class TestTortureMatrix:
    def test_every_type_roundtrips(self):
        w = EventWriter()
        w.format_description()
        w.table_map(9, TORTURE)
        w.write_rows(9, TORTURE, [ROW])
        (rec,) = _decode_rows(w, 1)
        after = json.loads(rec["after_values"])
        for i, want in EXPECT.items():
            got = after[f"c{i}"]
            if i == 21:
                got = json.loads(got)
            assert got == want, f"c{i}: {got!r} != {want!r}"

    def test_all_nulls(self):
        w = EventWriter()
        w.format_description()
        w.table_map(9, TORTURE)
        w.write_rows(9, TORTURE, [tuple(None for _ in TORTURE.columns)])
        (rec,) = _decode_rows(w, 1)
        after = json.loads(rec["after_values"])
        assert all(v is None for v in after.values())
        assert len(after) == len(TORTURE.columns)

    def test_mixed_nulls_multi_row(self):
        rows = []
        for k in range(7):  # stagger nulls across the bitmap byte boundary
            rows.append(tuple(v if (i + k) % 3 else None for i, v in enumerate(ROW)))
        w = EventWriter()
        w.format_description()
        w.table_map(9, TORTURE)
        w.write_rows(9, TORTURE, rows)
        recs = _decode_rows(w, 7)
        for k, rec in enumerate(recs):
            assert rec["event_row_index"] == k + 1  # 1-based (main.zig:239)
            after = json.loads(rec["after_values"])
            for i in range(len(ROW)):
                if (i + k) % 3 == 0:
                    assert after[f"c{i}"] is None

    def test_update_before_after_images(self):
        before = ROW
        after = ROW[:12] + ("changed",) + ROW[13:]
        w = EventWriter()
        w.format_description()
        w.table_map(9, TORTURE)
        w.update_rows(9, TORTURE, [(before, after)])
        (rec,) = _decode_rows(w, 1)
        b = json.loads(rec["before_values"])
        a = json.loads(rec["after_values"])
        assert b["c12"] == "short-varchar"
        assert a["c12"] == "changed"
        assert b["c19"] == a["c19"] == "1340.4000"
        assert rec["dml_type"] == "UPDATE"


class TestSessionSemantics:
    def test_uncached_table_raises(self):
        """DELIBERATE divergence from the reference (round 6): the
        reference's log printer silently skips ROWS whose table_id has no
        cached TABLE_MAP (binlog_reader.zig:260-262).  A state engine
        claiming exactly-once table-state match cannot — an unmapped id
        means the announcement was corrupt or lost, and dropping the rows
        is data loss masquerading as filtering.  Fail-fast mode raises
        (quarantine mode dead-letters instead); INTENTIONALLY filtered
        tables still skip silently (test_table_filter.py)."""
        w = EventWriter()
        w.format_description()
        w.write_rows(9, TORTURE, [ROW])  # no table_map for id 9
        with pytest.raises(ValueError, match="unmapped table_id"):
            envelope_rows((pkt, 1, 0, 0) for _, pkt in w.events)

    def test_last_table_map_wins(self):
        narrow = TableSchema("t", "torture", TORTURE.columns[:2])
        w = EventWriter()
        w.format_description()
        w.table_map(9, narrow)
        w.write_rows(9, narrow, [ROW[:2]])
        w.table_map(9, TORTURE)  # replaces cached entry
        w.write_rows(9, TORTURE, [ROW])
        recs = _decode_rows(w, 2)
        assert len(json.loads(recs[0]["after_values"])) == 2
        assert len(json.loads(recs[1]["after_values"])) == len(TORTURE.columns)

    def test_artificial_rotate_detection(self):
        from myzql_binlog_connector_spark.binlog.decoder import parse_rotate

        real = parse_rotate(memoryview((4000).to_bytes(8, "little") + b"binlog.000002"))
        art = parse_rotate(memoryview((4).to_bytes(8, "little") + b"binlog.000002"))
        assert not real.is_artificial
        assert art.is_artificial
