"""Dead-letter quarantine: decode with ``on_error="quarantine"`` turns
undecodable packets into ``dml_type='_corrupt'`` rows instead of failing
the job — the CDC-production behavior for bit-rot in an archived binlog.
Default semantics stay fail-fast (reference parity)."""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F

from myzql_binlog_connector_spark.binlog.encoder import EventWriter, TRANSCRIPTS_SCHEMA
from myzql_binlog_connector_spark.functions.decode import decode_changes
from myzql_binlog_connector_spark.harness import _events_df_from_writer
from myzql_binlog_connector_spark.sources.segments import EVENTS_SCHEMA

TS = 1_700_000_000_000_000


def _rows(n, start=0):
    return [
        (f"conv-{i}", i, "user", f"text {i}", None, TS + i)
        for i in range(start, start + n)
    ]


def _stream_df(spark, corrupt_idx=(), truncate_idx=()):
    """Events DF where selected ROWS packets are corrupted (payload byte
    flip keeping the stale CRC) or truncated mid-body."""
    w = EventWriter(server_id=1)
    w.format_description()
    w.table_map(5, TRANSCRIPTS_SCHEMA)
    for i in range(6):
        w.write_rows(5, TRANSCRIPTS_SCHEMA, _rows(10, start=i * 10))
    w.rotate("binlog.000002")
    rows = []
    rows_events_seen = 0
    for event_seq, (offset, pkt) in enumerate(w.events, start=1):
        blob = bytearray(pkt)
        if blob[5] in (30, 31, 32):  # a ROWS event
            if rows_events_seen in corrupt_idx:
                blob[30] ^= 0xFF  # flip a body byte, keep the stale CRC
            if rows_events_seen in truncate_idx:
                blob = blob[: len(blob) // 2]
            rows_events_seen += 1
        rows.append((1, offset, event_seq, event_seq, blob[5], bytes(blob)))
    return spark.createDataFrame(rows, EVENTS_SCHEMA)


class TestQuarantine:
    def test_truncated_body_quarantines_and_decode_continues(self, spark):
        env = decode_changes(
            _stream_df(spark, truncate_idx=(2,)), on_error="quarantine"
        ).persist()
        bad = env.filter("dml_type = '_corrupt'").collect()
        good = env.filter("dml_type != '_corrupt'")
        assert len(bad) == 1
        info = json.loads(bad[0].after_values)
        assert "error" in info and info["blob_prefix"]
        # the other 5 ROWS events (50 rows) decoded normally
        assert good.count() == 50
        texts = {r[0] for r in good.select(
            F.get_json_object("after_values", "$.c3")).collect()}
        assert "text 0" in texts and "text 59" in texts
        env.unpersist()

    def test_crc_mismatch_quarantines_with_verify_crc(self, spark):
        env = decode_changes(
            _stream_df(spark, corrupt_idx=(1,)),
            verify_crc=True,
            on_error="quarantine",
        ).persist()
        bad = env.filter("dml_type = '_corrupt'").collect()
        assert len(bad) == 1
        assert "CRC32 mismatch" in json.loads(bad[0].after_values)["error"]
        assert env.filter("dml_type != '_corrupt'").count() == 50
        env.unpersist()

    def test_default_raises(self, spark):
        from py4j.protocol import Py4JJavaError

        with pytest.raises(Exception):
            decode_changes(
                _stream_df(spark, corrupt_idx=(1,)), verify_crc=True
            ).count()

    def test_vec_group_isolation(self, spark):
        """A corrupt body that only fails INSIDE the vectorized group
        decode (valid header/prelude, garbage row bytes) must poison only
        its own event — the group retries events singly."""
        # truncating to just past the prelude leaves classification happy
        # but the kernel's row walk runs out of buffer
        env = decode_changes(
            _stream_df(spark, truncate_idx=(0, 4)), on_error="quarantine"
        ).persist()
        assert env.filter("dml_type = '_corrupt'").count() == 2
        assert env.filter("dml_type != '_corrupt'").count() == 40
        env.unpersist()

    def test_streaming_replay_survives_corrupt_segment(self, spark, tmp_path):
        """A continuous tail must not die to one bit-rotted event: the
        stream quarantines it and the final state covers everything else."""
        import pyarrow as pa
        import pyarrow.parquet as pq_

        from myzql_binlog_connector_spark.plans.apply import TranscriptsApplier
        from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable
        from myzql_binlog_connector_spark.streaming.replay import BinlogReplayStream

        events = _stream_df(spark, truncate_idx=(1,)).collect()
        seg_dir = tmp_path / "segs"
        seg_dir.mkdir()
        t = pa.table({
            "file_seq": pa.array([r.file_seq for r in events], pa.int32()),
            "offset": pa.array([r.offset for r in events], pa.int64()),
            "gtid": pa.array([r.gtid for r in events], pa.int64()),
            "event_seq": pa.array([r.event_seq for r in events], pa.int64()),
            "event_type": pa.array([r.event_type for r in events], pa.int8()),
            "event_blob": pa.array([bytes(r.event_blob) for r in events], pa.binary()),
        })
        pq_.write_table(t, str(seg_dir / "segment-000001.parquet"))

        table = BucketedLakeTable(
            spark, str(tmp_path / "lake"), ["conv_id", "turn_idx"], n_buckets=4
        )
        records = BinlogReplayStream(
            spark,
            str(seg_dir),
            TranscriptsApplier(spark, table),
            checkpoint_dir=str(tmp_path / "ckpt"),
            on_error="quarantine",
        ).run_to_completion()
        assert table.read().count() == 50  # 5 healthy events × 10 rows
        # the stream sinks its dead letter where apply_files does, and the
        # commit record counts it
        assert [r.get("quarantined_rows") for r in records] == [1]
        dead = spark.read.parquet(str(tmp_path / "lake" / "_quarantine" / "batch-0"))
        assert dead.count() == 1
        assert dead.columns == ["_file_seq", "_gtid", "_event_seq", "_log_pos", "_corrupt"]

    def test_multitable_applier_ignores_corrupt_rows(self, spark, tmp_path):
        """Dead-letter rows carry null database/payload_schema — the
        fan-out applier must not try to create a (None, None) table."""
        from myzql_binlog_connector_spark.plans.apply import MultiTableApplier

        env = decode_changes(
            _stream_df(spark, truncate_idx=(2,)), on_error="quarantine"
        )
        mt = MultiTableApplier(
            spark,
            str(tmp_path / "lake"),
            table_specs={("chat", "transcripts"): {
                "column_names": ["conv_id", "turn_idx", "role", "text", "tool", "ts"],
                "key_positions": (0, 1), "n_buckets": 4,
            }},
        )
        records = mt.apply_batch(env, batch_id=0)
        assert set(records) == {("chat", "transcripts")}
        assert mt.table_for("chat", "transcripts").read().count() == 50

    def test_applier_excludes_corrupt_rows(self, spark, tmp_path):
        from myzql_binlog_connector_spark.plans.apply import TranscriptsApplier
        from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable

        env = decode_changes(
            _stream_df(spark, truncate_idx=(3,)), on_error="quarantine"
        )
        table = BucketedLakeTable(
            spark, str(tmp_path / "lake"), ["conv_id", "turn_idx"], n_buckets=4
        )
        TranscriptsApplier(spark, table).apply_batch(env, batch_id=0)
        got = {(r.conv_id, r.turn_idx) for r in table.read().collect()}
        # 5 surviving events × 10 rows merged; the corrupt event's rows absent
        assert len(got) == 50
        assert ("conv-30", 30) not in got  # event 3 covered rows 30-39


# ---------------------------------------------------------------------------
# round-5 regression: a failed event on the PER-ROW parser path must not
# leave the shared EnvelopeBatch ragged.  Quarantine used to append the
# dead-letter row on top of a failed event's partial rows, leaving
# before/after_values longer than the meta columns and failing
# RecordBatch.from_arrays for the whole partition — on exactly the shapes
# quarantine exists for (schemas the vectorized path declines).
# ---------------------------------------------------------------------------

from myzql_binlog_connector_spark.binlog.constants import ColumnType
from myzql_binlog_connector_spark.binlog.encoder import (
    ColumnSpec,
    TableSchema,
    long_col,
    varchar,
)

DECIMAL_SCHEMA = TableSchema(
    database="chat",
    table="ledger",
    columns=(
        varchar(64, nullable=False),                      # conv_id
        long_col(nullable=False),                         # turn_idx
        ColumnSpec(ColumnType.NEWDECIMAL, (12 << 8) | 4), # amount (no vec plan)
        varchar(64),                                      # note
    ),
    column_names=("conv_id", "turn_idx", "amount", "note"),
)


def _decode_inprocess(packets, on_error="quarantine"):
    """Run make_decoder's partition function directly on one Arrow batch —
    no Spark, so the per-row path can be exercised in-process."""
    import pyarrow as pa

    from myzql_binlog_connector_spark.functions.decode import make_decoder

    batch = pa.record_batch(
        [
            pa.array([1] * len(packets), pa.int32()),
            pa.array([p[0] for p in packets], pa.int64()),
            pa.array(list(range(1, len(packets) + 1)), pa.int64()),
            pa.array(list(range(1, len(packets) + 1)), pa.int64()),
            pa.array([bytes(p[1]) for p in packets], pa.binary()),
        ],
        names=["file_seq", "offset", "gtid", "event_seq", "event_blob"],
    )
    return list(make_decoder(on_error=on_error)(iter([batch])))


def _truncate_rows_event(events, rows_idx, frac=0.55):
    """Truncate the ``rows_idx``-th ROWS event mid-body (some full rows
    decode, then the parser overruns mid-row)."""
    out, seen = [], 0
    for offset, pkt in events:
        blob = pkt
        if pkt[5] in (30, 31, 32):
            if seen == rows_idx:
                blob = pkt[: int(len(pkt) * frac)]
            seen += 1
        out.append((offset, blob))
    return out


class TestQuarantineRaggedBatch:
    def _assert_rectangular_with_one_corrupt(self, batches, n_good):
        # reaching here at all proves from_arrays got rectangular columns
        assert batches
        dml = [d for rb in batches for d in rb.column("dml_type").to_pylist()]
        assert dml.count("_corrupt") == 1
        assert len(dml) - 1 == n_good
        bad = [
            json.loads(av)
            for rb in batches
            for d, av in zip(
                rb.column("dml_type").to_pylist(),
                rb.column("after_values").to_pylist(),
            )
            if d == "_corrupt"
        ]
        assert "error" in bad[0] and bad[0]["blob_prefix"]

    def test_nonvectorizable_schema_mid_event_failure(self):
        """DECIMAL column => no vec plan => per-row codegen path."""
        w = EventWriter(server_id=1)
        w.format_description()
        w.table_map(7, DECIMAL_SCHEMA)
        for i in range(4):
            w.write_rows(
                7,
                DECIMAL_SCHEMA,
                [(f"conv-{j}", j, "123.4567", f"note {j}")
                 for j in range(i * 10, i * 10 + 10)],
            )
        packets = _truncate_rows_event(w.events, rows_idx=2)
        batches = _decode_inprocess(packets)
        self._assert_rectangular_with_one_corrupt(batches, n_good=30)
        # the failed event's partially-decoded rows were rolled back, not
        # emitted: none of rows 20-29 appear
        convs = {
            json.loads(av)["c0"]
            for rb in batches
            for d, av in zip(
                rb.column("dml_type").to_pylist(),
                rb.column("after_values").to_pylist(),
            )
            if d == "INSERT"
        }
        assert len(convs) == 30
        assert convs.isdisjoint({f"conv-{j}" for j in range(20, 30)})

    def test_nonvectorizable_schema_first_event_failure(self):
        """The failed event is the first of the batch: the rollback target
        is the lazy empty-batch mark, not a column snapshot."""
        w = EventWriter(server_id=1)
        w.format_description()
        w.table_map(7, DECIMAL_SCHEMA)
        for i in range(4):
            w.write_rows(
                7,
                DECIMAL_SCHEMA,
                [(f"conv-{j}", j, "123.4567", f"note {j}")
                 for j in range(i * 10, i * 10 + 10)],
            )
        packets = _truncate_rows_event(w.events, rows_idx=0)
        batches = _decode_inprocess(packets)
        self._assert_rectangular_with_one_corrupt(batches, n_good=30)


def _overrun_packets():
    """A DECIMAL_SCHEMA stream (no vectorized plan, so the generic parser
    decodes it) whose middle WRITE_ROWS event has intact framing, but its
    last VARCHAR length prefix claims 60 bytes where 4 remain."""
    from myzql_binlog_connector_spark.binlog.constants import CRC_LEN

    w = EventWriter(server_id=1)
    w.format_description()
    w.table_map(7, DECIMAL_SCHEMA)
    w.write_rows(7, DECIMAL_SCHEMA,
                 [(f"conv-{j}", j, "1.0000", f"note {j}") for j in range(10)])
    w.write_rows(7, DECIMAL_SCHEMA, [("conv-x", 2, "2.0000", "bbbb")])
    w.write_rows(7, DECIMAL_SCHEMA,
                 [(f"conv-{j}", j, "3.0000", f"note {j}") for j in range(10, 20)])
    packets = list(w.events)
    off, pkt = packets[3]
    bad = bytearray(pkt)
    at = len(bad) - CRC_LEN - len("bbbb") - 1
    assert bad[at] == 4
    bad[at] = 60
    packets[3] = (off, bytes(bad))
    return packets


class TestRowImageOverrun:
    """A length prefix that runs past the event body must raise: Python
    slices clamp, so without the check the value decodes silently short."""

    def test_generic_parser_raises(self):
        from myzql_binlog_connector_spark.binlog.decoder import (
            BinlogSession,
            EnvelopeBatch,
            TypedBatch,
        )

        packets = [pkt for _off, pkt in _overrun_packets()]
        sess = BinlogSession()
        out = EnvelopeBatch()
        for pkt in packets[:3]:
            sess.process_packet_columnar(pkt, 1, 1, 1, out)
        with pytest.raises(ValueError, match="overran event body"):
            sess.process_packet_columnar(packets[3], 1, 1, 1, out)

        sess = BinlogSession()
        typed = TypedBatch(("s", "i", "s", "s"), (0, 1), 4)
        for pkt in packets[:3]:
            sess.process_packet_typed(pkt, 1, 1, 1, typed)
        with pytest.raises(ValueError, match="overran event body"):
            sess.process_packet_typed(packets[3], 1, 1, 1, typed)

    def test_quarantine_dead_letters_only_the_overrun_event(self):
        batches = _decode_inprocess(_overrun_packets())
        TestQuarantineRaggedBatch()._assert_rectangular_with_one_corrupt(batches, n_good=20)
        bad = [
            json.loads(av)
            for rb in batches
            for d, av in zip(rb.column("dml_type").to_pylist(),
                             rb.column("after_values").to_pylist())
            if d == "_corrupt"
        ]
        assert "overran event body" in bad[0]["error"]

    def test_typed_quarantine_dead_letters_only_the_overrun_event(self):
        from myzql_binlog_connector_spark.functions.decode import make_typed_decoder

        from tests.event_batches import event_batch

        decode_partition, _ = make_typed_decoder(
            list(DECIMAL_SCHEMA.column_names), ["s", "i", "s", "s"], (0, 1),
            on_error="quarantine",
        )
        packets = [(pkt, 1, i + 1, i + 1) for i, (_o, pkt) in enumerate(_overrun_packets())]
        rows = [r for rb in decode_partition(iter([event_batch(packets)]))
                for r in rb.to_pylist()]
        dead = [r for r in rows if r["_corrupt"] is not None]
        assert len(dead) == 1 and "overran event body" in dead[0]["_corrupt"]
        assert sorted(r["turn_idx"] for r in rows if r["_corrupt"] is None) == list(range(20))


# ---------------------------------------------------------------------------
# round-6 directive: quarantine parity for the TYPED fast path (apply_files →
# make_typed_decoder → VecCollector.flush).  The flagship replay path
# must survive one corrupt packet at 100 TB without falling back to the
# slower envelope path.
# ---------------------------------------------------------------------------


def _typed_packets(corrupt_body_idx=(), truncate_idx=()):
    """Transcripts packets (vectorizable schema → typed kernel on the path).

    ``corrupt_body_idx``: smash row-body bytes, length/framing intact — the
    event classifies fine, defers into the vec collector, and only fails in
    the kernel's group decode (exercises the flush retry-singly leg).
    ``truncate_idx``: cut mid-body — fails the _pre_rows structural check
    (exercises the immediate per-event rollback leg)."""
    w = EventWriter(server_id=1)
    w.format_description()
    w.table_map(5, TRANSCRIPTS_SCHEMA)
    for i in range(6):
        w.write_rows(5, TRANSCRIPTS_SCHEMA, _rows(10, start=i * 10))
    packets, seen = [], 0
    for off, pkt in w.events:
        blob = bytearray(pkt)
        if blob[5] in (30, 31, 32):
            if seen in corrupt_body_idx:
                for j in range(35, 55):
                    blob[j] = 0xFF  # varchar length bytes point past body
            if seen in truncate_idx:
                blob = blob[: len(blob) // 2]
            seen += 1
        packets.append((off, bytes(blob)))
    return packets


class TestDeadLetterParity:
    """One corrupt packet, both decoders: the envelope and the typed
    output dead-letter it with the same (file_seq, gtid, event_seq,
    log_pos) and the same triage text, whether the packet fails on its
    own or inside a vectorized flush group."""

    @staticmethod
    def _dead_letters(packets):
        from myzql_binlog_connector_spark.functions.decode import (
            _payload_kinds,
            make_decoder,
            make_typed_decoder,
        )
        from tests.event_batches import event_batch

        desc = json.dumps([[c.type_code, c.meta, int(c.nullable)]
                           for c in TRANSCRIPTS_SCHEMA.columns])
        batch = event_batch(
            (blob, 1, i + 1, i + 1) for i, (_off, blob) in enumerate(packets)
        )
        env = [
            (r["file_seq"], r["gtid"], r["event_seq"], r["log_pos"], r["after_values"])
            for rb in make_decoder(on_error="quarantine")(iter([batch]))
            for r in rb.to_pylist()
            if r["dml_type"] == "_corrupt"
        ]
        decode_partition, _ = make_typed_decoder(
            list(TRANSCRIPTS_SCHEMA.column_names), _payload_kinds([desc]), (0, 1),
            on_error="quarantine",
        )
        typed = [
            (r["_file_seq"], r["_gtid"], r["_event_seq"], r["_log_pos"], r["_corrupt"])
            for rb in decode_partition(iter([batch]))
            for r in rb.to_pylist()
            if r["_corrupt"] is not None
        ]
        return env, typed

    @pytest.mark.parametrize("failure", ["per_event", "vec_group"])
    def test_same_record_on_both_outputs(self, failure):
        """``per_event``: a truncated ROWS packet fails the structural
        check before deferral.  ``vec_group``: a body with intact framing
        defers and fails only in the kernel's group decode, so the flush
        retries it singly."""
        if failure == "per_event":
            packets = _typed_packets(truncate_idx=(2,))
        else:
            packets = _typed_packets(corrupt_body_idx=(2,))
        rows_events = [(i, blob) for i, (_o, blob) in enumerate(packets)
                       if blob[5] in (30, 31, 32)]
        idx, bad = rows_events[2]
        env, typed = self._dead_letters(packets)
        assert len(env) == 1
        assert env == typed
        fs, gtid, event_seq, log_pos, text = env[0]
        # the packet's own position: its header log_pos, not a placeholder
        assert (fs, gtid, event_seq) == (1, idx + 1, idx + 1)
        assert log_pos == int.from_bytes(bad[14:18], "little") > 0
        if failure == "vec_group":
            # retried singly, the corrupt event is its group's last: its
            # length prefix points past the buffer, and the triage names
            # the overrun, not a numpy IndexError
            error = json.loads(text)["error"]
            assert "row image overran event body" in error, error

    def test_unmapped_table_triage_text_matches(self):
        """A corrupt TABLE_MAP orphans the ROWS event after it; that
        event's error message carries a non-ASCII dash, and both outputs
        render the triage record the same way."""
        w = EventWriter(server_id=1)
        w.format_description()
        w.table_map(5, TRANSCRIPTS_SCHEMA)
        w.write_rows(5, TRANSCRIPTS_SCHEMA, _rows(10))
        packets = [
            (off, pkt[: len(pkt) // 2] if pkt[5] == 19 else pkt)
            for off, pkt in w.events
        ]
        env, typed = self._dead_letters(packets)
        assert len(env) == 2
        assert env == typed
        assert any("unmapped table_id" in json.loads(d[4])["error"] for d in env)


def _write_segment(packets, path):
    import pyarrow as pa
    import pyarrow.parquet as pq_

    t = pa.table({
        "file_seq": pa.array([1] * len(packets), pa.int32()),
        "offset": pa.array([p[0] for p in packets], pa.int64()),
        "gtid": pa.array(list(range(1, len(packets) + 1)), pa.int64()),
        "event_seq": pa.array(list(range(1, len(packets) + 1)), pa.int64()),
        "event_type": pa.array([p[1][5] for p in packets], pa.int8()),
        "event_blob": pa.array([p[1] for p in packets], pa.binary()),
    })
    pq_.write_table(t, str(path))


class TestTypedPathQuarantine:
    def _drive(self, spark, tmp_path, packets, on_error="quarantine"):
        from myzql_binlog_connector_spark.plans.apply import TranscriptsApplier
        from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable

        seg_dir = tmp_path / "segs"
        seg_dir.mkdir(exist_ok=True)
        _write_segment(packets, seg_dir / "segment-000001.parquet")
        table = BucketedLakeTable(
            spark, str(tmp_path / "lake"), ["conv_id", "turn_idx"], n_buckets=4
        )
        rec = TranscriptsApplier(spark, table).apply_files(
            [str(seg_dir / "segment-000001.parquet")],
            batch_id=0,
            on_error=on_error,
        )
        return table, rec

    def test_kernel_group_failure_quarantines_one_event(self, spark, tmp_path):
        """Corruption that only the vectorized kernel can see (framing
        intact, row walk overruns): the flush group retries singly, the
        job completes, and exactly the poisoned event's rows are absent."""
        table, rec = self._drive(spark, tmp_path, _typed_packets(corrupt_body_idx=(2,)))
        assert rec["quarantined_rows"] == 1
        got = {(r.conv_id, r.turn_idx) for r in table.read().collect()}
        assert len(got) == 50  # 5 healthy events × 10 rows
        assert got.isdisjoint({(f"conv-{j}", j) for j in range(20, 30)})
        # DLQ sidecar holds the triage record
        dead = spark.read.parquet(str(tmp_path / "lake" / "_quarantine" / "batch-0"))
        rows = dead.collect()
        assert len(rows) == 1
        info = json.loads(rows[0]._corrupt)
        assert "error" in info and info["blob_prefix"]

    def test_structural_truncation_quarantines(self, spark, tmp_path):
        """Truncation fails the _pre_rows structural check before deferral —
        the immediate per-event rollback leg of the typed decoder."""
        table, rec = self._drive(spark, tmp_path, _typed_packets(truncate_idx=(0, 4)))
        assert rec["quarantined_rows"] == 2
        got = {(r.conv_id, r.turn_idx) for r in table.read().collect()}
        assert len(got) == 40
        assert got.isdisjoint({(f"conv-{j}", j) for j in range(0, 10)})
        assert got.isdisjoint({(f"conv-{j}", j) for j in range(40, 50)})

    def test_default_raises_fail_fast(self, spark, tmp_path):
        with pytest.raises(Exception):
            self._drive(spark, tmp_path, _typed_packets(corrupt_body_idx=(1,)),
                        on_error="raise")

    def test_clean_stream_has_no_quarantine_cost(self, spark, tmp_path):
        """No corruption → quarantined_rows == 0, no DLQ dir, full state."""
        import os as _os

        table, rec = self._drive(spark, tmp_path, _typed_packets())
        assert rec["quarantined_rows"] == 0
        assert not _os.path.exists(str(tmp_path / "lake" / "_quarantine"))
        assert table.read().count() == 60

    def test_typed_matches_envelope_quarantine_state(self, spark, tmp_path):
        """Parity pin: the typed fast path and the envelope path must
        converge to the SAME final state on the same corrupt stream —
        oracle minus quarantined events."""
        from myzql_binlog_connector_spark.plans.apply import TranscriptsApplier
        from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable
        from myzql_binlog_connector_spark.sources.segments import EVENTS_SCHEMA

        packets = _typed_packets(corrupt_body_idx=(1,), truncate_idx=(3,))
        table, rec = self._drive(spark, tmp_path, packets)
        assert rec["quarantined_rows"] == 2

        rows = [
            (1, off, i + 1, i + 1, blob[5], bytes(blob))
            for i, (off, blob) in enumerate(packets)
        ]
        env = decode_changes(
            spark.createDataFrame(rows, EVENTS_SCHEMA), on_error="quarantine"
        )
        env_table = BucketedLakeTable(
            spark, str(tmp_path / "lake_env"), ["conv_id", "turn_idx"], n_buckets=4
        )
        TranscriptsApplier(spark, env_table).apply_batch(env, batch_id=0)
        typed_state = {
            (r.conv_id, r.turn_idx, r.text) for r in table.read().collect()
        }
        env_state = {
            (r.conv_id, r.turn_idx, r.text) for r in env_table.read().collect()
        }
        assert typed_state == env_state
        assert len(typed_state) == 40


class TestTypedPathTableMapCorruption:
    """apply_files(on_error='quarantine') over a stream whose FIRST
    TABLE_MAP announcement is corrupt: the schema pre-pass skips the bad
    copy (scan_schemas), the corrupt announcement and its orphaned ROWS
    events dead-letter, and decode resumes at the statement whose good
    re-announce follows — the full typed-path story for schema-state
    corruption."""

    def test_corrupt_first_announce_recovers_at_reannounce(self, spark, tmp_path):
        from myzql_binlog_connector_spark.plans.apply import TranscriptsApplier
        from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable

        w = EventWriter(server_id=1)
        w.format_description()
        w.table_map(5, TRANSCRIPTS_SCHEMA)
        w.write_rows(5, TRANSCRIPTS_SCHEMA, _rows(10, start=0))
        w.table_map(5, TRANSCRIPTS_SCHEMA)  # per-statement re-announce
        w.write_rows(5, TRANSCRIPTS_SCHEMA, _rows(10, start=10))
        packets, tm_seen = [], 0
        for off, pkt in w.events:
            blob = pkt
            if pkt[5] == 19:  # TABLE_MAP
                tm_seen += 1
                if tm_seen == 1:
                    blob = pkt[: len(pkt) // 2]
            packets.append((off, blob))
        seg_dir = tmp_path / "segs"
        seg_dir.mkdir()
        _write_segment(packets, seg_dir / "segment-000001.parquet")
        table = BucketedLakeTable(
            spark, str(tmp_path / "lake"), ["conv_id", "turn_idx"], n_buckets=4
        )
        rec = TranscriptsApplier(spark, table).apply_files(
            [str(seg_dir / "segment-000001.parquet")],
            batch_id=0,
            on_error="quarantine",
        )
        # corrupt TABLE_MAP + its one orphaned ROWS event dead-letter
        assert rec["quarantined_rows"] == 2
        got = {(r.conv_id, r.turn_idx) for r in table.read().collect()}
        assert got == {(f"conv-{i}", i) for i in range(10, 20)}


class TestTableMapCorruption:
    """Corruption in SCHEMA-state events: a corrupt TABLE_MAP dead-letters
    itself, events that depend on it dead-letter too (no schema to decode
    with), and the stream RECOVERS at the next good re-announce — real
    binlogs re-announce TABLE_MAP before every statement, so one corrupt
    announcement costs one statement, not the tail."""

    def test_corrupt_table_map_quarantines_and_reannounce_recovers(self, spark):
        w = EventWriter(server_id=1)
        w.format_description()
        w.table_map(5, TRANSCRIPTS_SCHEMA)
        w.write_rows(5, TRANSCRIPTS_SCHEMA, _rows(10, start=0))
        w.write_rows(5, TRANSCRIPTS_SCHEMA, _rows(10, start=10))
        w.table_map(5, TRANSCRIPTS_SCHEMA)  # the re-announce
        w.write_rows(5, TRANSCRIPTS_SCHEMA, _rows(10, start=20))
        rows = []
        tm_seen = 0
        for event_seq, (offset, pkt) in enumerate(w.events, start=1):
            blob = bytearray(pkt)
            if blob[5] == 19:  # TABLE_MAP
                tm_seen += 1
                if tm_seen == 1:
                    blob = blob[: len(blob) // 2]  # corrupt the FIRST one
            rows.append((1, offset, event_seq, event_seq, blob[5], bytes(blob)))
        from myzql_binlog_connector_spark.sources.segments import EVENTS_SCHEMA

        env = decode_changes(
            spark.createDataFrame(rows, EVENTS_SCHEMA), on_error="quarantine"
        ).persist()
        good = env.filter("dml_type != '_corrupt'")
        # only the post-re-announce statement decodes
        assert good.count() == 10
        texts = {r[0] for r in good.select(
            F.get_json_object("after_values", "$.c0")).collect()}
        assert texts == {f"conv-{i}" for i in range(20, 30)}
        # dead letters: the corrupt TABLE_MAP + the two orphaned ROWS events
        assert env.filter("dml_type = '_corrupt'").count() == 3
        env.unpersist()
