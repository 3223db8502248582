"""Vectorized decode (binlog/rowvec.py) parity with the per-row parser.

The vectorized kernels re-express decode as numpy array programs; the
generic per-row parser (``decoder.parse_rows_event``) is the semantics
anchor.
Every test here runs the SAME packets through both paths and compares the
full output multisets — typed AND envelope."""

from __future__ import annotations

from collections import Counter

import numpy as np
import pytest

from myzql_binlog_connector_spark.binlog.decoder import EnvelopeBatch, _fmt_ts_us
from myzql_binlog_connector_spark.binlog.encoder import (
    EventWriter,
    TRANSCRIPTS_SCHEMA,
)
from myzql_binlog_connector_spark.binlog.rowvec import (
    _ts_string_array,
    build_env_plan,
    build_plan,
)
from myzql_binlog_connector_spark.functions.decode import make_typed_decoder
from myzql_binlog_connector_spark.genlog import encode_stream, generate_ops
from tests.event_batches import env_collector, envelope_rows, event_batch, typed_rows

KINDS = ("s", "i", "s", "s", "s", "s")
NAMES = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def _stream_packets(seed, **kw):
    ops = generate_ops(seed=seed, n_convs=kw.pop("n_convs", 60),
                       update_frac=0.3, delete_frac=0.15)
    stream = encode_stream(ops, n_segments=3, seed=seed, **kw)
    return [
        (blob, fs, g, es)
        for fs, rows in stream.segments
        for (_o, g, es, blob) in rows
    ]


def _typed_ref(packets):
    return Counter(zip(*typed_rows(packets, KINDS, (0, 1), 6)))


def _typed_vec(packets):
    ds, schema = make_typed_decoder(NAMES, list(KINDS), (0, 1))
    names = [f.name for f in schema]
    got = Counter()
    for rb in ds(iter([event_batch(packets)])):
        t = rb.to_pydict()
        got.update(zip(*[t[n] for n in names]))
    return got


def _env_counter(rows):
    return Counter(tuple(r[n] for n in EnvelopeBatch.__slots__) for r in rows)


def _env_ref(packets):
    return _env_counter(envelope_rows(packets))


def _env_vec(packets):
    return _env_counter(envelope_rows(packets, vec=env_collector()))


class TestStreamParity:
    @pytest.mark.parametrize("seed", [7, 9, 23])
    def test_typed_generated_stream_with_evolution(self, seed):
        packets = _stream_packets(seed, evolve_at=0.5)
        assert _typed_ref(packets) == _typed_vec(packets)

    @pytest.mark.parametrize("seed", [7, 11])
    def test_envelope_generated_stream_with_evolution(self, seed):
        packets = _stream_packets(seed, evolve_at=0.5)
        assert _env_ref(packets) == _env_vec(packets)


def _handmade(rows, updates=(), deletes=()):
    w = EventWriter()
    w.format_description()
    w.table_map(5, TRANSCRIPTS_SCHEMA)
    if rows:
        w.write_rows(5, TRANSCRIPTS_SCHEMA, rows)
    if updates:
        w.update_rows(5, TRANSCRIPTS_SCHEMA, list(updates))
    if deletes:
        w.delete_rows(5, TRANSCRIPTS_SCHEMA, list(deletes))
    return [(pkt, 1, i + 1, i + 1) for i, (_, pkt) in enumerate(w.events)]


TS = 1_700_000_000_000_000


class TestEdgeParity:
    def test_escapes_controls_unicode(self):
        rows = [
            ('a"b', 1, "x\\y", "l1\nl2\ttab\rret", "\x00\x01\x1f", TS),
            ("héllo", 2, "☃", 'mix " \\ \n ☃ end', None, TS),
            ("", 3, "", "\b\f" + "\n" * 300 + "tail", "", 0),
            ("\n", 4, "\\", '"', "x", TS + 123),
        ]
        pk = _handmade(rows, updates=[(rows[0], rows[1])], deletes=[rows[2]])
        assert _env_ref(pk) == _env_vec(pk)
        assert _typed_ref(pk) == _typed_vec(pk)

    def test_pk_change_update_tombstones(self):
        a = ("conv-a", 1, "user", "hello", None, TS)
        b = ("conv-b", 1, "user", "hello", None, TS)
        c = ("conv-a", 2, "user", "x", "tool", TS + 1)
        pk = _handmade([a, c], updates=[(a, b), (c, c)])
        assert _typed_ref(pk) == _typed_vec(pk)

    def test_nulls_and_whole_second_and_zero_ts(self):
        rows = [
            (None, None, None, None, None, None),
            ("c", 5, "r", "t", None, TS - TS % 1_000_000),  # whole second
            ("d", 6, "r", "t", "u", 0),  # zero ts → null
        ]
        pk = _handmade(rows, deletes=[rows[1]])
        assert _typed_ref(pk) == _typed_vec(pk)
        assert _env_ref(pk) == _env_vec(pk)

    def test_multirow_events_varying_lengths(self):
        rows = [
            (f"conv-{i}", i, "assistant" if i % 2 else "u",
             "x" * (i * 37 % 300), None if i % 3 else "tool", TS + i * 1_000_003)
            for i in range(50)
        ]
        pk = _handmade(rows, updates=[(rows[i], rows[i + 1]) for i in range(0, 40, 2)],
                       deletes=rows[40:])
        assert _typed_ref(pk) == _typed_vec(pk)
        assert _env_ref(pk) == _env_vec(pk)


class TestTsFormatter:
    def test_fuzz_against_scalar(self):
        rng = np.random.default_rng(5)
        us = rng.integers(0, 4_102_444_800_000_000, 5000, dtype=np.int64)
        us[::7] -= us[::7] % 1_000_000  # whole seconds
        us[::11] = 0                     # zero → null
        arr = _ts_string_array(us, np.ones(len(us), bool))
        for i in range(len(us)):
            assert arr[i].as_py() == _fmt_ts_us(int(us[i]))


class TestPlanGating:
    def test_transcripts_schema_vectorizes(self):
        present = list(range(6))
        assert build_plan(TRANSCRIPTS_SCHEMA, present, present, "INSERT",
                          KINDS, (0, 1), 6) is not None
        assert build_env_plan(TRANSCRIPTS_SCHEMA, present, present,
                              "UPDATE") is not None

    def test_unsupported_type_falls_back(self):
        from myzql_binlog_connector_spark.binlog.encoder import ColumnSpec, TableSchema

        schema = TableSchema(
            "db", "t", (ColumnSpec(type_code=245, meta=4),)  # JSON → no plan
        )
        assert build_plan(schema, [0], [0], "INSERT", ("s",), (0,), 1) is None
        assert build_env_plan(schema, [0], [0], "INSERT") is None

    def test_kind_mismatch_falls_back(self):
        present = list(range(6))
        wrong = ("i", "i", "s", "s", "s", "s")  # conv_id is VARCHAR, not int
        assert build_plan(TRANSCRIPTS_SCHEMA, present, present, "INSERT",
                          wrong, (0, 1), 6) is None

    def test_wide_table_falls_back_on_both_outputs(self):
        """A 300-column table: column indexes past 255 must not break the
        vec path's plan lookup (no plan fits its null bitmap, so every
        event takes the per-row parser), and both decoders equal their
        per-row references."""
        from myzql_binlog_connector_spark.binlog.encoder import TableSchema, long_col

        n = 300
        schema = TableSchema(
            "db", "wide", tuple(long_col() for _ in range(n)),
            column_names=tuple(f"c{i}" for i in range(n)),
        )
        w = EventWriter()
        w.format_description()
        w.table_map(9, schema)
        rows = [tuple(range(r, r + n)) for r in range(3)]
        w.write_rows(9, schema, rows)
        w.update_rows(9, schema, [(rows[0], rows[1])])
        w.delete_rows(9, schema, rows[2:])
        packets = [(pkt, 1, i + 1, i + 1) for i, (_, pkt) in enumerate(w.events)]
        assert _env_ref(packets) == _env_vec(packets)

        kinds, keys = ("i",) * n, (0, 1)
        cols = typed_rows(packets, kinds, keys, n)
        ds, out_schema = make_typed_decoder(list(schema.column_names), list(kinds), keys)
        got = Counter()
        for rb in ds(iter([event_batch(packets)])):
            t = rb.to_pydict()
            got.update(zip(*[t[f.name] for f in out_schema]))
        # 3 inserts, a key-changing update (tombstone + upsert), 1 delete
        assert got == Counter(zip(*cols)) and sum(got.values()) == 6


class TestVecFlushSizing:
    """Round-5 regression pin: the deferred-buffer flush bound must scale
    inversely with worker count (a fixed 512k/worker bound made the typed
    path 1.8x slower than the per-row parsers at local[32])."""

    def test_formula(self):
        from myzql_binlog_connector_spark.functions.decode import _vec_flush_rows

        assert _vec_flush_rows(None) == 1 << 19
        assert _vec_flush_rows(2) == 1 << 19     # low-core: big batches win
        assert _vec_flush_rows(8) == 1 << 17
        assert _vec_flush_rows(32) == 1 << 15    # high-core: bus pressure
        assert _vec_flush_rows(1024) == 8192     # clamped floor

    def test_threaded_into_spark_entry_points(self, spark, monkeypatch):
        """decode_changes must resolve the bound from the session's
        parallelism at build time (not fall back to the module default)."""
        from myzql_binlog_connector_spark.functions import decode as d

        seen = []
        real = d._vec_flush_rows

        def spy(parallelism):
            seen.append(parallelism)
            return real(parallelism)

        monkeypatch.setattr(d, "_vec_flush_rows", spy)
        df = spark.createDataFrame(
            [], "file_seq int, offset long, gtid long, event_seq long, "
                "event_blob binary"
        )
        d.decode_changes(df)
        assert seen and seen[0] == spark.sparkContext.defaultParallelism
