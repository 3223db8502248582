"""Shared in-process decode inputs for the decoder tests (no Spark)."""

from __future__ import annotations

from functools import partial

import pyarrow as pa


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
