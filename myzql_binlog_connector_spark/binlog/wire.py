"""Low-level wire primitives shared by the synthetic encoder and the decoder.

Length-encoded integers, the 19-byte event header, and the packed temporal
formats.  Semantics mirror the reference parser
(/root/reference/src/event_parser.zig:1655-1689 lenenc, :1212-1251 header,
:577-836 temporals) but the implementation is original and Python/numpy-first.
"""

from __future__ import annotations

import struct
import zlib
from dataclasses import dataclass

from .constants import CRC_LEN, HEADER_LEN

# ---------------------------------------------------------------------------
# length-encoded integers (MySQL "lenenc")
# ---------------------------------------------------------------------------


def write_lenenc(n: int) -> bytes:
    if n < 251:
        return bytes([n])
    if n < 1 << 16:
        return b"\xfc" + n.to_bytes(2, "little")
    if n < 1 << 24:
        return b"\xfd" + n.to_bytes(3, "little")
    return b"\xfe" + n.to_bytes(8, "little")


def read_lenenc(buf: memoryview, pos: int) -> tuple[int, int]:
    """Return (value, new_pos)."""
    first = buf[pos]
    if first < 251:
        return first, pos + 1
    if first == 0xFC:
        return int.from_bytes(buf[pos + 1 : pos + 3], "little"), pos + 3
    if first == 0xFD:
        return int.from_bytes(buf[pos + 1 : pos + 4], "little"), pos + 4
    if first == 0xFE:
        return int.from_bytes(buf[pos + 1 : pos + 9], "little"), pos + 9
    raise ValueError(f"invalid lenenc first byte {first:#x}")


# ---------------------------------------------------------------------------
# event header
# ---------------------------------------------------------------------------

_HEADER = struct.Struct("<IBIIIH")  # timestamp, type, server_id, size, log_pos, flags


@dataclass(frozen=True)
class EventHeader:
    timestamp: int
    event_type: int
    server_id: int
    event_size: int
    log_pos: int
    flags: int


def pack_header(
    timestamp: int,
    event_type: int,
    server_id: int,
    event_size: int,
    log_pos: int,
    flags: int = 0,
) -> bytes:
    return _HEADER.pack(timestamp, event_type, server_id, event_size, log_pos, flags)


def parse_header(buf: memoryview | bytes) -> EventHeader:
    t, et, sid, sz, pos, fl = _HEADER.unpack_from(bytes(buf[:HEADER_LEN]))
    return EventHeader(t, et, sid, sz, pos, fl)


def frame_packet(header_and_payload: bytes) -> bytes:
    """OK byte + event + CRC32, exactly the shape the reference receives on
    the wire and strips (binlog_reader.zig:360-363, event_parser.zig:1231-1241)."""
    crc = zlib.crc32(header_and_payload) & 0xFFFFFFFF
    return b"\x00" + header_and_payload + crc.to_bytes(4, "little")


def verify_crc(blob: bytes | memoryview) -> bool:
    """Whether a framed packet's trailing CRC32 matches its event bytes
    (everything between the OK byte and the CRC), hashed in place."""
    mv = memoryview(blob)
    want = int.from_bytes(mv[len(mv) - CRC_LEN :], "little")
    return (zlib.crc32(mv[1 : len(mv) - CRC_LEN]) & 0xFFFFFFFF) == want


# ---------------------------------------------------------------------------
# packed temporal formats
# ---------------------------------------------------------------------------

_FRAC_BYTES = [0, 1, 1, 2, 2, 3, 3]  # bytes used for fsp 0..6

# MySQL stores the fraction in 2-DIGIT units per storage byte, not in fsp
# digits: 1 byte holds centiseconds (x10_000 us), 2 bytes 10-us units
# (x100), 3 bytes microseconds (x1) — reference event_parser.zig
# parseFraction.  For odd fsp the server truncates the VALUE to fsp digits
# but still stores it in the even-digit unit (fsp=1 value 0.9s -> stored
# 90).  10**(6-fsp) is only right for even fsp; odd fsp was decoding 10x
# too large (and the encoder mirrored it, hiding the bug from round-trips).
_FRAC_UNIT = [0, 10_000, 10_000, 100, 100, 1, 1]  # us per stored unit, fsp 0..6


def frac_bytes(fsp: int) -> int:
    return _FRAC_BYTES[fsp]


def _encode_frac(us: int, fsp: int) -> int:
    """Stored fraction field: us truncated to fsp digits, expressed in the
    storage byte count's 2-digit unit (a real server truncates on INSERT)."""
    digits = us // (10 ** (6 - fsp))
    return digits * ((10 ** (6 - fsp)) // _FRAC_UNIT[fsp])


def encode_timestamp2(unix_us: int, fsp: int = 6) -> bytes:
    """4B big-endian unix seconds + 0-3B big-endian fraction
    (reference decode: event_parser.zig:779-792)."""
    secs, us = divmod(unix_us, 1_000_000)
    out = secs.to_bytes(4, "big")
    nb = frac_bytes(fsp)
    if nb:
        out += _encode_frac(us, fsp).to_bytes(nb, "big")
    return out


def decode_timestamp2(buf: memoryview, pos: int, fsp: int) -> tuple[int, int]:
    """Return (unix_us, new_pos)."""
    secs = int.from_bytes(buf[pos : pos + 4], "big")
    pos += 4
    nb = frac_bytes(fsp)
    us = 0
    if nb:
        us = int.from_bytes(buf[pos : pos + nb], "big") * _FRAC_UNIT[fsp]
        pos += nb
    return secs * 1_000_000 + us, pos


def encode_datetime2(
    year: int, month: int, day: int, hour: int, minute: int, sec: int, us: int, fsp: int = 6
) -> bytes:
    """5B big-endian packed datetime + fraction, zero-offset 0x8000000000
    (reference decode: event_parser.zig:710-773)."""
    ym = year * 13 + month
    packed = (
        (1 << 39)  # sign bit (non-negative)
        | (ym << 22)
        | (day << 17)
        | (hour << 12)
        | (minute << 6)
        | sec
    )
    out = packed.to_bytes(5, "big")
    nb = frac_bytes(fsp)
    if nb:
        out += _encode_frac(us, fsp).to_bytes(nb, "big")
    return out


def decode_datetime2(buf: memoryview, pos: int, fsp: int) -> tuple[tuple, int]:
    """Return ((y,mo,d,h,mi,s,us) or None for zero-date, new_pos)."""
    packed = int.from_bytes(buf[pos : pos + 5], "big")
    pos += 5
    nb = frac_bytes(fsp)
    us = 0
    if nb:
        us = int.from_bytes(buf[pos : pos + nb], "big") * _FRAC_UNIT[fsp]
        pos += nb
    packed &= (1 << 39) - 1  # drop sign bit
    ym = (packed >> 22) & 0x1FFFF
    year, month = divmod(ym, 13)
    day = (packed >> 17) & 0x1F
    hour = (packed >> 12) & 0x1F
    minute = (packed >> 6) & 0x3F
    sec = packed & 0x3F
    if year == 0 and month == 0 and day == 0:
        return None, pos  # zero-date → null (event_parser.zig:652-654 analogue)
    return (year, month, day, hour, minute, sec, us), pos


def encode_time2(hours: int, minutes: int, secs: int, us: int, negative: bool, fsp: int = 0) -> bytes:
    """3B big-endian packed time + fraction; negative values are the
    two's-complement of the whole packed field (event_parser.zig:796-836)."""
    packed = (1 << 23) | (hours << 12) | (minutes << 6) | secs
    nb = frac_bytes(fsp)
    frac = _encode_frac(us, fsp) if nb else 0
    total_bits = 24 + nb * 8
    combined = (packed << (nb * 8)) | frac
    if negative:
        combined = (1 << total_bits) - combined
    return combined.to_bytes(3 + nb, "big")


def decode_time2(buf: memoryview, pos: int, fsp: int) -> tuple[tuple, int]:
    """Return ((negative, h, m, s, us), new_pos)."""
    nb = frac_bytes(fsp)
    total = 3 + nb
    combined = int.from_bytes(buf[pos : pos + total], "big")
    pos += total
    total_bits = 24 + nb * 8
    sign_bit = 1 << (total_bits - 1)
    negative = not (combined & sign_bit)
    if negative:
        combined = (1 << total_bits) - combined
    frac = combined & ((1 << (nb * 8)) - 1) if nb else 0
    packed = combined >> (nb * 8)
    hours = (packed >> 12) & 0x3FF
    minutes = (packed >> 6) & 0x3F
    secs = packed & 0x3F
    us = frac * _FRAC_UNIT[fsp] if nb else 0
    return (negative, hours, minutes, secs, us), pos


def encode_date(year: int, month: int, day: int) -> bytes:
    """3B little-endian bitpacked day:5 | month:4 | year:rest
    (event_parser.zig:643-671)."""
    packed = day | (month << 5) | (year << 9)
    return packed.to_bytes(3, "little")


def decode_date(buf: memoryview, pos: int) -> tuple[tuple, int]:
    packed = int.from_bytes(buf[pos : pos + 3], "little")
    day = packed & 0x1F
    month = (packed >> 5) & 0x0F
    year = packed >> 9
    if year == 0 and month == 0 and day == 0:
        return None, pos + 3
    return (year, month, day), pos + 3


def encode_datetime_old(year, month, day, hour, minute, sec) -> bytes:
    """Pre-5.6 DATETIME: 8B LE decimal-packed YYYYMMDDHHMMSS
    (event_parser.zig:577-606)."""
    v = ((year * 10000 + month * 100 + day) * 1000000) + hour * 10000 + minute * 100 + sec
    return v.to_bytes(8, "little")


def decode_datetime_old(buf: memoryview, pos: int) -> tuple[tuple, int]:
    v = int.from_bytes(buf[pos : pos + 8], "little")
    date_part, time_part = divmod(v, 1_000_000)
    year, md = divmod(date_part, 10_000)
    month, day = divmod(md, 100)
    hour, ms = divmod(time_part, 10_000)
    minute, sec = divmod(ms, 100)
    if v == 0:
        return None, pos + 8
    return (year, month, day, hour, minute, sec, 0), pos + 8


def encode_time_old(hours: int, minutes: int, secs: int) -> bytes:
    v = hours * 10000 + minutes * 100 + secs
    return v.to_bytes(3, "little")


def decode_time_old(buf: memoryview, pos: int) -> tuple[tuple, int]:
    v = int.from_bytes(buf[pos : pos + 3], "little")
    hours, ms = divmod(v, 10_000)
    minutes, secs = divmod(ms, 100)
    return (False, hours, minutes, secs, 0), pos + 3
