"""Shared in-process decode inputs and runners for the decoder tests (no
Spark).  Packets are ``(blob, file_seq, gtid, event_seq)`` tuples."""

from __future__ import annotations

from functools import partial

import pyarrow as pa

from myzql_binlog_connector_spark.binlog.decoder import (
    BinlogSession,
    EnvelopeBatch,
    TypedBatch,
)


def event_batch(packets) -> pa.RecordBatch:
    """``(blob, file_seq, gtid, event_seq)`` tuples as the Arrow event
    batch both decoders' partition functions read."""
    packets = list(packets)
    return pa.record_batch(
        [
            pa.array([p[1] for p in packets], pa.int32()),
            pa.array([p[2] for p in packets], pa.int64()),
            pa.array([p[3] for p in packets], pa.int64()),
            pa.array([bytes(p[0]) for p in packets], pa.binary()),
        ],
        names=["file_seq", "gtid", "event_seq", "event_blob"],
    )


def env_collector():
    """The envelope decoder's vectorized collector."""
    from myzql_binlog_connector_spark.binlog.rowvec import (
        VecCollector,
        assemble_envelope,
        build_env_plan,
    )
    from myzql_binlog_connector_spark.functions.decode import _ARROW_ENVELOPE

    return VecCollector(
        build_env_plan, partial(assemble_envelope, arrow_schema=_ARROW_ENVELOPE)
    )


def typed_collector(kinds, keys, n_payload: int):
    """The typed decoder's vectorized collector for payload columns
    ``c0..c{n_payload-1}`` of ``kinds``, keyed on ``keys``."""
    from myzql_binlog_connector_spark.binlog.rowvec import (
        VecCollector,
        assemble_typed,
        build_plan,
    )
    from myzql_binlog_connector_spark.functions.decode import _KIND_TYPES, _META_TYPES

    arrow_schema = pa.schema(
        [(f"c{i}", _KIND_TYPES[k][0]) for i, k in enumerate(kinds)]
        + [(name, at) for name, at, _st in _META_TYPES]
    )
    return VecCollector(
        partial(build_plan, kinds=tuple(kinds), key_positions=tuple(keys),
                n_payload=n_payload),
        partial(assemble_typed, arrow_schema=arrow_schema),
    )


def envelope_rows(packets, vec=None) -> list[dict]:
    """Envelope rows of ``packets`` decoded by one session's
    ``process_packet_columnar``, as dicts keyed by ``EnvelopeBatch``'s
    columns.  ``vec=None`` decodes every event per row, in stream order;
    with a collector (:func:`env_collector`) its flushed rows join the
    per-row ones and all are sorted into stream order (file_seq, log_pos,
    event_row_index)."""
    sess = BinlogSession()
    out = EnvelopeBatch()
    for blob, fs, g, es in packets:
        sess.process_packet_columnar(blob, fs, g, es, out, vec)
    names = EnvelopeBatch.__slots__
    rows = [dict(zip(names, r)) for r in zip(*out.columns())]
    if vec is not None:
        for rb in vec.flush():
            t = rb.to_pydict()
            rows.extend(dict(zip(names, r)) for r in zip(*(t[n] for n in names)))
        rows.sort(key=lambda r: (r["file_seq"], r["log_pos"], r["event_row_index"]))
    return rows


def typed_rows(packets, kinds, keys, n_payload: int, vec=None) -> list[list]:
    """Typed change rows of ``packets`` decoded by one session's
    ``process_packet_typed``, as ``TypedBatch`` columns (payload, then
    ``_deleted``, ``_gtid``, ``_event_seq``, ``_event_row_index``,
    ``_file_seq``, ``_log_pos``).  Row order as :func:`envelope_rows`;
    with a collector (:func:`typed_collector`) its flushed rows join in."""
    sess = BinlogSession()
    out = TypedBatch(kinds, keys, n_payload)
    for blob, fs, g, es in packets:
        sess.process_packet_typed(blob, fs, g, es, out, vec)
    cols = out.columns()
    if vec is not None:
        for rb in vec.flush():
            for col, arr in zip(cols, rb.columns):
                col.extend(arr.to_pylist())
        row_index, file_seq, log_pos = cols[n_payload + 3 :]
        order = sorted(
            range(len(log_pos)), key=lambda r: (file_seq[r], log_pos[r], row_index[r])
        )
        cols = [[col[r] for r in order] for col in cols]
    return cols
