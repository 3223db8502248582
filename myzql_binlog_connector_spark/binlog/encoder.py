"""Synthetic binlog event encoder.

Produces event blobs byte-compatible with what the reference connector
receives on the wire: ``0x00`` OK byte + 19-byte header + payload + CRC32
(/root/reference/src/binlog_reader.zig:360-363).  This is the fixture
generator for the engine — no external data, fully deterministic.

Event payload layouts follow the public MySQL binlog format, cross-checked
against the reference parser:
  FORMAT_DESCRIPTION  event_parser.zig:1263-1294
  TABLE_MAP           event_parser.zig:1333-1461
  ROWS v1/v2          event_parser.zig:1479-1647
  ROTATE              event_parser.zig:1300-1318
"""

from __future__ import annotations

import json
import struct
from dataclasses import dataclass, field

from .constants import (
    BLOB_TYPES,
    HEADER_LEN,
    CRC_LEN,
    ColumnType,
    EventType,
)
from .mysql_decimal import encode_decimal
from .mysql_json import encode_json_value
from .wire import (
    encode_date,
    encode_datetime2,
    encode_datetime_old,
    encode_time2,
    encode_time_old,
    encode_timestamp2,
    frame_packet,
    pack_header,
    write_lenenc,
)

# ---------------------------------------------------------------------------
# schema description
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class ColumnSpec:
    """One column as described by TABLE_MAP metadata.

    ``meta`` packs the per-type u16 metadata exactly as the reference caches
    it (event_parser.zig:228-242):
      VARCHAR        max byte length
      NEWDECIMAL     precision<<8 | scale
      STRING/ENUM/SET  real_type<<8 | field_length  (big-endian quirk,
                       event_parser.zig:1419-1425)
      TIMESTAMP2/DATETIME2/TIME2  fsp
      BLOB family / JSON          number of length-prefix bytes
      BIT            (bits % 8) | (bits // 8)<<8
      FLOAT/DOUBLE   byte size (4/8)
    """

    type_code: int
    meta: int = 0
    nullable: bool = True

    def metadata_bytes(self) -> bytes:
        t = self.type_code
        if t == ColumnType.VARCHAR or t == ColumnType.VAR_STRING:
            return self.meta.to_bytes(2, "little")
        if t in (ColumnType.FLOAT, ColumnType.DOUBLE):
            return bytes([self.meta or (4 if t == ColumnType.FLOAT else 8)])
        if t == ColumnType.NEWDECIMAL:
            return bytes([self.meta >> 8, self.meta & 0xFF])  # precision, scale
        if t == ColumnType.STRING:
            # byte0 = real type, byte1 = field length (big-endian pair)
            return bytes([self.meta >> 8, self.meta & 0xFF])
        if t in (ColumnType.TIMESTAMP2, ColumnType.DATETIME2, ColumnType.TIME2):
            return bytes([self.meta])
        if t in BLOB_TYPES or t == ColumnType.JSON:
            return bytes([self.meta or 4])
        if t == ColumnType.BIT:
            return bytes([self.meta & 0xFF, self.meta >> 8])  # bits%8, bytes
        return b""


@dataclass(frozen=True)
class TableSchema:
    database: str
    table: str
    columns: tuple[ColumnSpec, ...]
    column_names: tuple[str, ...] = field(default=())

    @property
    def column_count(self) -> int:
        return len(self.columns)

    @property
    def desc(self) -> str:
        """The compact TABLE_MAP descriptor, ``[[type_code, meta,
        nullable], ...]`` as JSON: what decoded rows carry as
        ``payload_schema``, what the schema pre-pass emits and what a
        segment store's ``_schemas.json`` sidecar lists."""
        return json.dumps(
            [[c.type_code, c.meta, int(c.nullable)] for c in self.columns],
            separators=(",", ":"),
        )


class PartialJson:
    """Marker for a partial-JSON after-image value: a list of
    ``(op, path, value)`` diffs (op 0=REPLACE, 1=INSERT, 2=REMOVE; value
    ignored for REMOVE)."""

    __slots__ = ("diffs",)

    def __init__(self, diffs: list):
        self.diffs = list(diffs)


# convenience constructors -------------------------------------------------


def varchar(max_len: int = 255, nullable: bool = True) -> ColumnSpec:
    return ColumnSpec(ColumnType.VARCHAR, max_len, nullable)


def long_col(nullable: bool = True) -> ColumnSpec:
    return ColumnSpec(ColumnType.LONG, 0, nullable)


def timestamp2(fsp: int = 6, nullable: bool = True) -> ColumnSpec:
    return ColumnSpec(ColumnType.TIMESTAMP2, fsp, nullable)


TRANSCRIPTS_SCHEMA = TableSchema(
    database="chat",
    table="transcripts",
    columns=(
        varchar(64, nullable=False),   # conv_id
        long_col(nullable=False),      # turn_idx
        varchar(16),                   # role
        varchar(16384),                # text (2-byte length prefix path)
        varchar(64),                   # tool (nullable, ~70% null)
        timestamp2(6),                 # ts
    ),
    column_names=("conv_id", "turn_idx", "role", "text", "tool", "ts"),
)


# ---------------------------------------------------------------------------
# value encoding (one column value → wire bytes)
# ---------------------------------------------------------------------------


def encode_value(spec: ColumnSpec, val) -> bytes:
    t = spec.type_code
    if t == ColumnType.TINY:
        return struct.pack("<b", val)
    if t == ColumnType.SHORT:
        return struct.pack("<h", val)
    if t == ColumnType.INT24:
        return (val & 0xFFFFFF).to_bytes(3, "little")
    if t == ColumnType.LONG:
        return struct.pack("<i", val)
    if t == ColumnType.LONGLONG:
        return struct.pack("<q", val)
    if t == ColumnType.FLOAT:
        return struct.pack("<f", val)
    if t == ColumnType.DOUBLE:
        return struct.pack("<d", val)
    if t == ColumnType.YEAR:
        return bytes([val - 1900])
    if t == ColumnType.DATE:
        return encode_date(*val)  # (y, m, d)
    if t == ColumnType.DATETIME:
        return encode_datetime_old(*val)  # (y,mo,d,h,mi,s)
    if t == ColumnType.DATETIME2:
        return encode_datetime2(*val, fsp=spec.meta)  # (y,mo,d,h,mi,s,us)
    if t == ColumnType.TIMESTAMP:
        return struct.pack("<I", val)  # unix seconds
    if t == ColumnType.TIMESTAMP2:
        return encode_timestamp2(val, fsp=spec.meta)  # unix µs
    if t == ColumnType.TIME:
        return encode_time_old(*val)  # (h, m, s)
    if t == ColumnType.TIME2:
        neg, h, m, s, us = val
        return encode_time2(h, m, s, us, neg, fsp=spec.meta)
    if t in (ColumnType.VARCHAR, ColumnType.VAR_STRING):
        raw = val.encode("utf-8") if isinstance(val, str) else bytes(val)
        if spec.meta < 256:
            return bytes([len(raw)]) + raw
        return len(raw).to_bytes(2, "little") + raw
    if t == ColumnType.STRING:
        real_type = spec.meta >> 8
        field_length = spec.meta & 0xFF
        if real_type == ColumnType.ENUM:
            return int(val).to_bytes(field_length, "little")  # 1 or 2 bytes per meta
        if real_type == ColumnType.SET:
            return int(val).to_bytes(field_length, "little")
        raw = val.encode("utf-8") if isinstance(val, str) else bytes(val)
        if field_length < 256:
            return bytes([len(raw)]) + raw
        return len(raw).to_bytes(2, "little") + raw
    if t in BLOB_TYPES:
        nb = spec.meta or 4
        raw = bytes(val)
        return len(raw).to_bytes(nb, "little") + raw
    if t == ColumnType.JSON:
        nb = spec.meta or 4
        raw = val if isinstance(val, (bytes, bytearray)) else encode_json_value(val)
        return len(raw).to_bytes(nb, "little") + bytes(raw)
    if t == ColumnType.NEWDECIMAL:
        precision, scale = spec.meta >> 8, spec.meta & 0xFF
        return encode_decimal(str(val), precision, scale)
    if t == ColumnType.BIT:
        bits = (spec.meta >> 8) * 8 + (spec.meta & 0xFF)
        nbytes = (bits + 7) // 8
        return int(val).to_bytes(nbytes, "big")
    raise ValueError(f"cannot encode column type {t}")


# ---------------------------------------------------------------------------
# event builders
# ---------------------------------------------------------------------------


class EventWriter:
    """Accumulates events for one binlog segment, tracking log_pos like a
    real server (log_pos = end position of the event in the file)."""

    def __init__(
        self,
        server_id: int = 1,
        start_pos: int = 4,
        base_timestamp: int = 1_700_000_000,
        rows_v2: bool = True,
    ):
        self.server_id = server_id
        self.pos = start_pos
        self.ts = base_timestamp
        # v1 vs v2 ROWS framing is announced by FORMAT_DESCRIPTION
        # post_header_len (8 → v1, 10 → v2), NOT by the event type code
        self.rows_v2 = rows_v2
        self.events: list[tuple[int, bytes]] = []  # (offset_before, framed packet)

    def _emit(self, event_type: int, payload: bytes, timestamp: int | None = None) -> tuple[int, int, bytes]:
        size = HEADER_LEN + len(payload) + CRC_LEN
        offset = self.pos
        self.pos += size
        hdr = pack_header(
            timestamp if timestamp is not None else self.ts,
            event_type,
            self.server_id,
            size,
            self.pos,
        )
        pkt = frame_packet(hdr + payload)
        self.events.append((offset, pkt))
        return offset, self.pos, pkt

    # -- FORMAT_DESCRIPTION --------------------------------------------------
    def format_description(self, rows_v2: bool | None = None):
        rows_v2 = self.rows_v2 if rows_v2 is None else rows_v2
        payload = bytearray()
        payload += (4).to_bytes(2, "little")  # binlog version
        payload += b"8.0.42-synthetic".ljust(50, b"\x00")  # server version
        payload += (0).to_bytes(4, "little")  # create timestamp
        payload += bytes([HEADER_LEN])
        # post-header lengths, indexed by event_type-1; enough entries for 39
        phl = bytearray(40)
        phl[EventType.ROTATE - 1] = 8
        phl[EventType.FORMAT_DESCRIPTION - 1] = 84
        phl[EventType.TABLE_MAP - 1] = 8
        rows_len = 10 if rows_v2 else 8
        for et in (23, 24, 25):
            phl[et - 1] = 8
        for et in (30, 31, 32, 39):
            phl[et - 1] = rows_len
        payload += phl
        return self._emit(EventType.FORMAT_DESCRIPTION, bytes(payload))

    # -- TABLE_MAP -----------------------------------------------------------
    def table_map(self, table_id: int, schema: TableSchema):
        payload = bytearray()
        payload += table_id.to_bytes(6, "little")
        payload += (1).to_bytes(2, "little")  # flags
        db = schema.database.encode()
        tbl = schema.table.encode()
        payload += bytes([len(db)]) + db + b"\x00"
        payload += bytes([len(tbl)]) + tbl + b"\x00"
        payload += write_lenenc(schema.column_count)
        payload += bytes(c.type_code for c in schema.columns)
        meta = b"".join(c.metadata_bytes() for c in schema.columns)
        payload += write_lenenc(len(meta)) + meta
        # nullability bitmap (bit set = nullable)
        nb = bytearray((schema.column_count + 7) // 8)
        for i, c in enumerate(schema.columns):
            if c.nullable:
                nb[i // 8] |= 1 << (i % 8)
        payload += nb
        return self._emit(EventType.TABLE_MAP, bytes(payload))

    # -- ROWS ----------------------------------------------------------------
    def _row_image(self, schema: TableSchema, values) -> bytes:
        """null bitmap (sized for present columns) + non-null values."""
        n = schema.column_count
        nullmap = bytearray((n + 7) // 8)
        body = bytearray()
        for i, (spec, val) in enumerate(zip(schema.columns, values)):
            if val is None:
                nullmap[i // 8] |= 1 << (i % 8)
            else:
                body += encode_value(spec, val)
        return bytes(nullmap) + bytes(body)

    def _rows_event(self, event_type: int, table_id: int, schema: TableSchema, images: list) -> tuple:
        n = schema.column_count
        payload = bytearray()
        payload += table_id.to_bytes(6, "little")
        payload += (0).to_bytes(2, "little")  # flags
        if self.rows_v2:
            payload += (2).to_bytes(2, "little")  # v2 extra-data length (just itself)
        payload += write_lenenc(n)
        present = bytes([0xFF] * ((n + 7) // 8))  # all columns present
        payload += present
        if event_type == 31:  # UPDATE carries two presence bitmaps
            payload += present
        for img in images:
            if event_type == 31:
                before, after = img
                payload += self._row_image(schema, before)
                payload += self._row_image(schema, after)
            else:
                payload += self._row_image(schema, img)
        return self._emit(event_type, bytes(payload))

    def write_rows(self, table_id: int, schema: TableSchema, rows: list):
        return self._rows_event(30, table_id, schema, rows)

    def partial_update_rows(self, table_id: int, schema: TableSchema, pairs: list):
        """PARTIAL_UPDATE_ROWS_EVENT (39, binlog_row_value_options=
        PARTIAL_JSON).  ``pairs``: (before_values, after_values) where JSON
        columns in the after image may be :class:`PartialJson` — those are
        encoded as diff sequences with their partial bit set.  Layout per
        row: before image, lenenc value_options, partial_bits (one bit per
        JSON column when the PARTIAL_JSON bit is set), after image."""
        from .mysql_json import encode_json_diff

        n = schema.column_count
        json_cols = [
            i for i, c in enumerate(schema.columns) if c.type_code == ColumnType.JSON
        ]
        payload = bytearray()
        payload += table_id.to_bytes(6, "little")
        payload += (0).to_bytes(2, "little")  # flags
        payload += (2).to_bytes(2, "little")  # v2 extra-data length
        payload += write_lenenc(n)
        present = bytes([0xFF] * ((n + 7) // 8))
        payload += present + present  # before + after presence bitmaps
        for before, after in pairs:
            payload += self._row_image(schema, before)
            payload += write_lenenc(1)  # value_options: PARTIAL_JSON
            pbits = bytearray((len(json_cols) + 7) // 8)
            for j, i in enumerate(json_cols):
                if isinstance(after[i], PartialJson):
                    pbits[j // 8] |= 1 << (j % 8)
            payload += pbits
            # after image with diff-encoded partial JSON columns
            nullmap = bytearray((n + 7) // 8)
            body = bytearray()
            for i, (spec, val) in enumerate(zip(schema.columns, after)):
                if val is None:
                    nullmap[i // 8] |= 1 << (i % 8)
                elif isinstance(val, PartialJson):
                    raw = encode_json_diff(val.diffs)
                    nb = spec.meta or 4
                    body += len(raw).to_bytes(nb, "little") + raw
                else:
                    body += encode_value(spec, val)
            payload += bytes(nullmap) + bytes(body)
        return self._emit(39, bytes(payload))

    def update_rows(self, table_id: int, schema: TableSchema, pairs: list):
        """pairs: list of (before_values, after_values)."""
        return self._rows_event(31, table_id, schema, pairs)

    def delete_rows(self, table_id: int, schema: TableSchema, rows: list):
        return self._rows_event(32, table_id, schema, rows)

    # -- GTID -------------------------------------------------------------
    def gtid_event(self, gno: int, sid: bytes = b"\x01" * 16, flags: int = 1):
        """GTID_LOG_EVENT (type 33): commit flag byte + 16B source-server
        UUID + 8B LE transaction number.  Announces the gtid of the
        transaction that follows (public MySQL 5.6+ layout)."""
        payload = bytes([flags]) + sid + gno.to_bytes(8, "little")
        return self._emit(33, payload)

    # -- PREVIOUS_GTIDS ----------------------------------------------------
    def previous_gtids(self, gtid_set):
        """PREVIOUS_GTIDS_LOG_EVENT (35): the executed-GTID snapshot a
        server writes at the top of each binlog file."""
        return self._emit(35, gtid_set.to_payload())

    # -- ROTATE ---------------------------------------------------------------
    def rotate(self, next_file: str, next_pos: int = 4):
        payload = next_pos.to_bytes(8, "little") + next_file.encode()
        return self._emit(EventType.ROTATE, payload)

    def tick(self, seconds: int = 1):
        self.ts += seconds
