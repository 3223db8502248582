"""MySQL binary JSON (JSONB) codec.

Decodes the on-disk/binlog binary JSON format into Python objects (and a
symmetric encoder used by the synthetic generator).  Covers small/large
objects and arrays, inline small scalars, literals, strings, opaque
decimal/double, and the MariaDB plain-UTF8 fallback (first byte > 0x0f),
mirroring the behavior of /root/reference/src/json_decoder.zig:44-702.
Implementation is original.
"""

from __future__ import annotations

import json
import struct

from .mysql_decimal import decode_decimal, storage_size
from .wire import read_lenenc, write_lenenc

# jsonb type codes (public MySQL format)
J_SMALL_OBJECT = 0x00
J_LARGE_OBJECT = 0x01
J_SMALL_ARRAY = 0x02
J_LARGE_ARRAY = 0x03
J_LITERAL = 0x04
J_INT16 = 0x05
J_UINT16 = 0x06
J_INT32 = 0x07
J_UINT32 = 0x08
J_INT64 = 0x09
J_UINT64 = 0x0A
J_DOUBLE = 0x0B
J_STRING = 0x0C
J_OPAQUE = 0x0F

LIT_NULL = 0x00
LIT_TRUE = 0x01
LIT_FALSE = 0x02

_INLINE_SMALL = {J_LITERAL, J_INT16, J_UINT16}
_INLINE_LARGE = _INLINE_SMALL | {J_INT32, J_UINT32}


def decode_json(data: bytes | memoryview) -> str:
    """Binary JSON blob → JSON text.  Empty blob → SQL NULL (returned as
    Python None).  MariaDB stores JSON as plain text: any first byte > 0x0f
    is passed through verbatim (json_decoder.zig:198-202 analogue)."""
    mv = memoryview(data)
    if len(mv) == 0:
        return None
    if mv[0] > J_OPAQUE:
        return bytes(mv).decode("utf-8")
    val = _decode_value(mv[0], mv[1:])
    return json.dumps(val, ensure_ascii=False, separators=(", ", ": "))


def decode_json_value(data: bytes | memoryview):
    """Binary JSON blob → Python object."""
    mv = memoryview(data)
    if len(mv) == 0:
        return None
    if mv[0] > J_OPAQUE:
        return json.loads(bytes(mv).decode("utf-8"))
    return _decode_value(mv[0], mv[1:])


def _decode_value(jtype: int, data: memoryview):
    if jtype == J_LITERAL:
        lit = data[0]
        return {LIT_NULL: None, LIT_TRUE: True, LIT_FALSE: False}[lit]
    if jtype == J_INT16:
        return struct.unpack_from("<h", data)[0]
    if jtype == J_UINT16:
        return struct.unpack_from("<H", data)[0]
    if jtype == J_INT32:
        return struct.unpack_from("<i", data)[0]
    if jtype == J_UINT32:
        return struct.unpack_from("<I", data)[0]
    if jtype == J_INT64:
        return struct.unpack_from("<q", data)[0]
    if jtype == J_UINT64:
        return struct.unpack_from("<Q", data)[0]
    if jtype == J_DOUBLE:
        return struct.unpack_from("<d", data)[0]
    if jtype == J_STRING:
        ln, pos = _read_jvarlen(data, 0)
        return bytes(data[pos : pos + ln]).decode("utf-8")
    if jtype == J_OPAQUE:
        return _decode_opaque(data)
    if jtype in (J_SMALL_OBJECT, J_LARGE_OBJECT):
        return _decode_object(data, large=(jtype == J_LARGE_OBJECT))
    if jtype in (J_SMALL_ARRAY, J_LARGE_ARRAY):
        return _decode_array(data, large=(jtype == J_LARGE_ARRAY))
    raise ValueError(f"unknown jsonb type {jtype:#x}")


def _read_jvarlen(data: memoryview, pos: int) -> tuple[int, int]:
    """Variable-length string length: 7 bits per byte, high bit = continue."""
    ln = 0
    shift = 0
    while True:
        b = data[pos]
        pos += 1
        ln |= (b & 0x7F) << shift
        if not (b & 0x80):
            return ln, pos
        shift += 7


def _write_jvarlen(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _decode_opaque(data: memoryview):
    field_type = data[0]
    ln, pos = _read_jvarlen(data, 1)
    payload = data[pos : pos + ln]
    if field_type in (0, 246):  # DECIMAL/NEWDECIMAL: precision, scale, packed bytes
        precision, scale = payload[0], payload[1]
        return decode_decimal(payload[2:], precision, scale)
    if field_type == 5:  # DOUBLE
        return struct.unpack_from("<d", payload)[0]
    # other opaque types rendered as base64-ish hex string, matching the
    # reference's conservative passthrough (json_decoder.zig:341-378)
    return "opaque:" + bytes(payload).hex()


def _entry_size(large: bool) -> int:
    # value entry = 1 type byte + 2B (small) / 4B (large) offset-or-inline
    return 5 if large else 3


def _read_offset(data: memoryview, pos: int, large: bool) -> int:
    return int.from_bytes(data[pos : pos + (4 if large else 2)], "little")


def _decode_object(data: memoryview, large: bool) -> dict:
    osz = 4 if large else 2
    count = _read_offset(data, 0, large)
    # total_size = _read_offset(data, osz, large)  # unused
    pos = 2 * osz
    keys = []
    for _ in range(count):
        koff = _read_offset(data, pos, large)
        klen = int.from_bytes(data[pos + osz : pos + osz + 2], "little")
        keys.append(bytes(data[koff : koff + klen]).decode("utf-8"))
        pos += osz + 2
    out = {}
    inline = _INLINE_LARGE if large else _INLINE_SMALL
    for key in keys:
        vtype = data[pos]
        if vtype in inline:
            out[key] = _decode_value(vtype, data[pos + 1 : pos + _entry_size(large)])
        else:
            voff = _read_offset(data, pos + 1, large)
            out[key] = _decode_value(vtype, data[voff:])
        pos += _entry_size(large)
    return out


def _decode_array(data: memoryview, large: bool) -> list:
    osz = 4 if large else 2
    count = _read_offset(data, 0, large)
    pos = 2 * osz
    out = []
    inline = _INLINE_LARGE if large else _INLINE_SMALL
    for _ in range(count):
        vtype = data[pos]
        if vtype in inline:
            out.append(_decode_value(vtype, data[pos + 1 : pos + _entry_size(large)]))
        else:
            voff = _read_offset(data, pos + 1, large)
            out.append(_decode_value(vtype, data[voff:]))
        pos += _entry_size(large)
    return out


# ---------------------------------------------------------------------------
# encoder (synthetic generator side) — always emits the "small" format
# ---------------------------------------------------------------------------


def encode_json_value(val) -> bytes:
    """Python object → binary JSON blob (type byte + payload)."""
    jtype, payload = _encode_value(val)
    return bytes([jtype]) + payload


def _encode_value(val) -> tuple[int, bytes]:
    if val is None:
        return J_LITERAL, bytes([LIT_NULL])
    if val is True:
        return J_LITERAL, bytes([LIT_TRUE])
    if val is False:
        return J_LITERAL, bytes([LIT_FALSE])
    if isinstance(val, int):
        if -(1 << 15) <= val < (1 << 15):
            return J_INT16, struct.pack("<h", val)
        if -(1 << 31) <= val < (1 << 31):
            return J_INT32, struct.pack("<i", val)
        return J_INT64, struct.pack("<q", val)
    if isinstance(val, float):
        return J_DOUBLE, struct.pack("<d", val)
    if isinstance(val, str):
        raw = val.encode("utf-8")
        return J_STRING, _write_jvarlen(len(raw)) + raw
    if isinstance(val, dict):
        return J_SMALL_OBJECT, _encode_object(val)
    if isinstance(val, (list, tuple)):
        return J_SMALL_ARRAY, _encode_array(list(val))
    raise TypeError(f"cannot encode {type(val)} as jsonb")


def _encode_object(obj: dict) -> bytes:
    keys = [k.encode("utf-8") for k in obj]
    vals = [_encode_value(v) for v in obj.values()]
    count = len(keys)
    # counts(2+2) + key entries (2B offset + 2B len) + value entries (1+2)
    header_size = 4 + count * 4 + count * 3
    key_data = b"".join(keys)
    body = bytearray()
    value_offsets: list[int | None] = []
    data_start = header_size + len(key_data)
    for jtype, payload in vals:
        if jtype in _INLINE_SMALL and len(payload) <= 2:
            value_offsets.append(None)
        else:
            value_offsets.append(data_start + len(body))
            body += payload  # type byte lives in the entry, not at the offset

    out = bytearray()
    out += count.to_bytes(2, "little")
    total = header_size + len(key_data) + len(body)
    out += total.to_bytes(2, "little")
    koff = header_size
    for k in keys:
        out += koff.to_bytes(2, "little")
        out += len(k).to_bytes(2, "little")
        koff += len(k)
    for (jtype, payload), voff in zip(vals, value_offsets):
        if voff is None:
            out += bytes([jtype]) + payload.ljust(2, b"\x00")
        else:
            out += bytes([jtype]) + voff.to_bytes(2, "little")
    out += key_data
    out += body
    return bytes(out)


def _encode_array(arr: list) -> bytes:
    vals = [_encode_value(v) for v in arr]
    count = len(vals)
    header_size = 4 + count * 3
    body = bytearray()
    value_offsets: list[int | None] = []
    for jtype, payload in vals:
        if jtype in _INLINE_SMALL and len(payload) <= 2:
            value_offsets.append(None)
        else:
            value_offsets.append(header_size + len(body))
            body += payload  # type byte lives in the entry, not at the offset
    out = bytearray()
    out += count.to_bytes(2, "little")
    out += (header_size + len(body)).to_bytes(2, "little")
    for (jtype, payload), voff in zip(vals, value_offsets):
        if voff is None:
            out += bytes([jtype]) + payload.ljust(2, b"\x00")
        else:
            out += bytes([jtype]) + voff.to_bytes(2, "little")
    out += body
    return bytes(out)


# ---------------------------------------------------------------------------
# partial-JSON diffs (PARTIAL_UPDATE_ROWS_EVENT, binlog_row_value_options=
# PARTIAL_JSON).  Public MySQL 8 layout (sql/json_diff.cc write format):
# each diff = 1B operation (0=REPLACE, 1=INSERT, 2=REMOVE), lenenc path
# length + path bytes, and for REPLACE/INSERT a lenenc value length +
# binary-JSON value document.
# ---------------------------------------------------------------------------

DIFF_REPLACE = 0
DIFF_INSERT = 1
DIFF_REMOVE = 2

_DIFF_NAMES = {DIFF_REPLACE: "replace", DIFF_INSERT: "insert", DIFF_REMOVE: "remove"}


def decode_json_diff(data: bytes | memoryview) -> str:
    """Decode a partial-JSON diff sequence into the engine's envelope
    representation: ``{"$partial": [{"op": "replace", "path": "$.k",
    "value": ...}, ...]}`` (REMOVE entries carry no "value").  The wrapper
    makes partial updates distinguishable from full JSON values downstream
    while staying valid JSON."""
    mv = memoryview(data)
    pos = 0
    ops = []
    while pos < len(mv):
        op = mv[pos]
        pos += 1
        plen, pos = read_lenenc(mv, pos)
        path = str(mv[pos : pos + plen], "utf-8", "replace")
        pos += plen
        entry = {"op": _DIFF_NAMES.get(op, str(op)), "path": path}
        if op != DIFF_REMOVE:
            vlen, pos = read_lenenc(mv, pos)
            entry["value"] = json.loads(decode_json(mv[pos : pos + vlen]))
            pos += vlen
        ops.append(entry)
    return json.dumps({"$partial": ops}, ensure_ascii=False, separators=(",", ":"))


def encode_json_diff(diffs: list) -> bytes:
    """Encode ``[(op, path, value_or_None), ...]`` as a diff sequence
    (generator-side mirror of :func:`decode_json_diff`)."""
    out = bytearray()
    for op, path, value in diffs:
        out += bytes([op])
        raw_path = path.encode("utf-8")
        out += write_lenenc(len(raw_path)) + raw_path
        if op != DIFF_REMOVE:
            doc = encode_json_value(value)
            out += write_lenenc(len(doc)) + doc
    return bytes(out)
