"""Capture stub: recorded MySQL packet stream → engine segment store.

Implements the store-writing half of docs/CAPTURE.md against a *recorded*
byte stream of MySQL protocol packets (3B length + 1B seq + payload, as
they arrive after COM_BINLOG_DUMP).  A live capture daemon is this module
with the file reader swapped for a socket + handshake/auth (the network
half the reference implements in src/mysql/conn.zig and src/mysql/auth.zig
— out of engine scope, see SURVEY.md §2.1 S3).

Usage:
    python scripts/capture_stub.py <recorded_stream_file> <out_dir>
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from myzql_binlog_connector_spark.binlog.constants import (
    CRC_LEN,
    HEADER_LEN,
    EventType,
)
from myzql_binlog_connector_spark.binlog.decoder import parse_gtid
from myzql_binlog_connector_spark.binlog.gtid_set import GtidSet
from myzql_binlog_connector_spark.binlog.wire import parse_header
from myzql_binlog_connector_spark.sources.segments import write_segments

MAX_PAYLOAD = 0xFFFFFF


def iter_mysql_packets(data: bytes | memoryview, max_payload: int = MAX_PAYLOAD):
    """Yield logical payloads from a raw MySQL packet byte stream,
    reassembling split packets (payload == max_payload continues)."""
    mv = memoryview(data)
    pos = 0
    pending = bytearray()
    while pos < len(mv):
        if pos + 4 > len(mv):
            raise ValueError(f"truncated packet header at {pos}")
        ln = mv[pos] | (mv[pos + 1] << 8) | (mv[pos + 2] << 16)
        pos += 4  # length + sequence id
        if pos + ln > len(mv):
            raise ValueError(f"truncated packet body at {pos} (want {ln})")
        chunk = mv[pos : pos + ln]
        pos += ln
        if ln == max_payload:
            pending += chunk
            continue
        if pending:
            pending += chunk
            yield bytes(pending)
            pending = bytearray()
        else:
            yield bytes(chunk)
    if pending:
        raise ValueError("stream ended inside a split packet")


class CaptureError(RuntimeError):
    pass


def iter_segments(payloads, start_file_seq: int = 1, state: dict | None = None):
    """Classify payloads (docs/CAPTURE.md §2) and yield rotation-delimited
    segments AS THEY CLOSE — ``(file_seq, rows, resume)`` where rows is
    ``[(offset, gtid, event_seq, blob), ...]`` and resume is the closing
    ROTATE's ``{"binlog_file", "binlog_pos"}`` (None for a trailing open
    segment).  A live capture daemon flushes each yield; a crash loses at
    most the open segment and resumes idempotently (§4).

    ``state`` (mutated in place, create-if-None) accumulates ``executed``
    across the stream: the GtidSet from PREVIOUS_GTIDS snapshots + in-band
    GTIDs — the COM_BINLOG_DUMP_GTID resume payload for the next capture
    run."""
    from myzql_binlog_connector_spark.binlog.decoder import parse_rotate

    if state is None:
        state = {}
    state.setdefault("executed", GtidSet())
    cur: list[tuple[int, int, int, bytes]] = []
    file_seq = start_file_seq
    offset = 4  # binlog files start after the 4-byte magic
    gtid = 0
    event_seq = 0

    for payload in payloads:
        first = payload[0]
        if first == 0xFE and len(payload) < 9:
            break  # EOF packet: clean end of dump
        if first == 0xFF:
            code = int.from_bytes(payload[1:3], "little")
            raise CaptureError(f"server ERR {code}: {payload[3:64]!r}")
        if first != 0x00:
            raise CaptureError(f"unclassifiable packet first byte {first:#x}")

        body = memoryview(payload)[1 : len(payload) - CRC_LEN]
        hdr = parse_header(body)
        ev_payload = body[HEADER_LEN:]
        event_seq += 1
        if hdr.event_type == EventType.GTID:
            g = parse_gtid(ev_payload)
            gtid = g.gno
            state["executed"].add(g.gtid_str.rsplit(":", 1)[0], g.gno)
        elif hdr.event_type == EventType.PREVIOUS_GTIDS:
            state["executed"] = state["executed"].union(
                GtidSet.from_payload(ev_payload)
            )
        cur.append((offset, gtid, event_seq, bytes(payload)))
        offset += hdr.event_size

        if hdr.event_type == EventType.ROTATE:
            # artificial rotates (sent at dump start) carry the
            # LOG_EVENT_ARTIFICIAL_F header flag / a zero timestamp; a real
            # end-of-file rotate also points at next_pos=4, so the
            # position heuristic alone cannot distinguish them here
            artificial = bool(hdr.flags & 0x20) or hdr.timestamp == 0
            if not artificial:
                rot = parse_rotate(ev_payload)
                yield file_seq, cur, {
                    "binlog_file": rot.next_file,
                    "binlog_pos": rot.next_position,
                    # the open (next) segment's seq: a restarted capture must
                    # keep numbering AFTER the flushed segments, or it would
                    # overwrite segment-%06d.parquet files with later binlog
                    # content and break the monotonic (file_seq, offset) order
                    "next_file_seq": file_seq + 1,
                }
                cur = []
                file_seq += 1
                offset = 4
    if cur:
        yield file_seq, cur, None


def packets_to_segments(payloads, start_file_seq: int = 1):
    """Batch form of :func:`iter_segments`: returns (segments, executed)
    with segments fully materialized."""
    state: dict = {}
    segments = [
        (fs, rows) for fs, rows, _resume in iter_segments(payloads, start_file_seq, state)
    ]
    return segments, state["executed"]


def write_gtids(out_dir: str, executed) -> None:
    """Record the executed-GTID set the next capture run resumes from with
    COM_BINLOG_DUMP_GTID (docs/CAPTURE.md §4)."""
    if executed.sids:
        with open(os.path.join(out_dir, "_gtids.json"), "w") as f:
            json.dump({"executed_gtid_set": str(executed)}, f)


def capture(stream_path: str, out_dir: str) -> list[str]:
    with open(stream_path, "rb") as f:
        data = f.read()
    segments, executed = packets_to_segments(iter_mysql_packets(data))
    paths = write_segments(segments, out_dir)
    write_gtids(out_dir, executed)
    return paths


if __name__ == "__main__":
    if len(sys.argv) != 3:
        print(__doc__)
        sys.exit(2)
    written = capture(sys.argv[1], sys.argv[2])
    print(f"wrote {len(written)} segment files to {sys.argv[2]}")
