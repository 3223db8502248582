"""``apply_events`` decodes a steady-state batch with the descriptors of the
applier's last typed commit, and scans the batch for TABLE_MAP descriptors
only when the decoder meets one it was not given.

The decoder never types a row against names and kinds planned for other
descriptors: at a TABLE_MAP outside its known set the session stops and
the partition emits one marker row (``_file_seq = MISS_FILE_SEQ``), on
which ``BucketedLakeTable.merge`` raises ``DescriptorMiss`` before it
writes.  The applier then takes the scanned route for that batch, and the
commit record says so (``descriptor_scan``)."""

from __future__ import annotations

import pytest

from myzql_binlog_connector_spark.binlog.decoder import BinlogSession, TypedBatch
from myzql_binlog_connector_spark.binlog.encoder import (
    TRANSCRIPTS_SCHEMA,
    EventWriter,
    TableSchema,
    long_col,
    varchar,
)
from myzql_binlog_connector_spark.functions.decode import (
    MISS_FILE_SEQ,
    _payload_kinds,
    make_typed_decoder,
)
from myzql_binlog_connector_spark.functions.table_filter import TableFilter
from myzql_binlog_connector_spark.genlog import (
    TRANSCRIPTS_SCHEMA_V2,
    GeneratedStream,
    write_segments_parquet,
)
from myzql_binlog_connector_spark.plans.apply import TranscriptsApplier
from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable
from myzql_binlog_connector_spark.sources.segments import read_segments
from tests.event_batches import event_batch, typed_collector
from tests.test_schema_narrowing import TS0

KEYS = ["conv_id", "turn_idx"]
AUDIT = TableSchema("chat", "audit", (long_col(nullable=False), varchar(64)))
V1, V2 = TRANSCRIPTS_SCHEMA.desc, TRANSCRIPTS_SCHEMA_V2.desc
# TRANSCRIPTS_SCHEMA with `tool` (position 4) turned from VARCHAR into INT
TOOL_INT = TableSchema(
    "chat",
    "transcripts",
    TRANSCRIPTS_SCHEMA.columns[:4] + (long_col(),) + TRANSCRIPTS_SCHEMA.columns[5:],
)


def _row(conv: str, turn: int, text: str, extra=()):
    return (conv, turn, "user", text, None, TS0 + turn * 1_000_000, *extra)


def _segment(file_seq: int, build) -> tuple:
    """One segment: FORMAT_DESCRIPTION, what ``build(w)`` writes, ROTATE."""
    w = EventWriter()
    w.format_description()
    build(w)
    w.rotate(f"binlog.{file_seq + 1:06d}")
    return (file_seq, [(off, file_seq * 1000 + i, i, pkt) for i, (off, pkt) in enumerate(w.events)])


def _v1(rows):
    def build(w):
        w.table_map(5, TRANSCRIPTS_SCHEMA)
        w.write_rows(5, TRANSCRIPTS_SCHEMA, rows)

    return build


def _add_column_and_audit(w):
    """Rows under the 6-column map, ``chat.audit``'s TABLE_MAP and rows,
    then ``ADD COLUMN score`` and rows under the 7-column map."""
    w.table_map(5, TRANSCRIPTS_SCHEMA)
    w.write_rows(5, TRANSCRIPTS_SCHEMA, [_row("c1", 1, "again")])
    w.table_map(9, AUDIT)
    w.write_rows(9, AUDIT, [(1, "login")])
    w.table_map(5, TRANSCRIPTS_SCHEMA_V2)
    w.write_rows(5, TRANSCRIPTS_SCHEMA_V2, [_row("c2", 0, "scored", (0.5,)), _row("c3", 0, "x", (1.5,))])


def _audit_and_v2(rows):
    def build(w):
        w.table_map(9, AUDIT)
        w.write_rows(9, AUDIT, [(2, "logout")])
        w.table_map(5, TRANSCRIPTS_SCHEMA_V2)
        w.write_rows(5, TRANSCRIPTS_SCHEMA_V2, rows)

    return build


def _v2(rows):
    def build(w):
        w.table_map(5, TRANSCRIPTS_SCHEMA_V2)
        w.write_rows(5, TRANSCRIPTS_SCHEMA_V2, rows)

    return build


def _v1_then_tool_int(w):
    _v1([_row("c2", 0, "hey")])(w)
    w.table_map(5, TOOL_INT)
    w.write_rows(5, TOOL_INT, [("c3", 0, "user", "int tool", 7, TS0)])


def _store(tmp_path, segments, name="seg") -> list[str]:
    return write_segments_parquet(GeneratedStream(segments=segments), str(tmp_path / name))


def _table(spark, tmp_path, name):
    return BucketedLakeTable(spark, str(tmp_path / name), KEYS, n_buckets=4)


def _state(table) -> set[tuple]:
    return {tuple(sorted(r.asDict().items())) for r in table.read().collect()}


def _batches(spark, app, paths, first_id=0, **kw) -> list[dict]:
    return [
        app.apply_events(read_segments(spark, p), batch_id=first_id + i, **kw)
        for i, p in enumerate(paths)
    ]


def _scanned_replay(spark, tmp_path, name, paths, **kw):
    """The route every batch took before the hint: a fresh applier, so a
    descriptor scan, per batch."""
    table = _table(spark, tmp_path, name)
    recs = [
        TranscriptsApplier(spark, table).apply_events(read_segments(spark, p), batch_id=i, **kw)
        for i, p in enumerate(paths)
    ]
    assert all(r.get("descriptor_scan") for r in recs if not r.get("skipped"))
    return table


# ---------------------------------------------------------------------------
# the decoder: a TABLE_MAP outside the known set
# ---------------------------------------------------------------------------


def _packets():
    """Two rows under the 6-column map, then ``ADD COLUMN score`` and two
    rows under the 7-column map; one segment."""

    def build(w):
        _v1([_row("a", 0, "x"), _row("b", 0, "y")])(w)
        w.table_map(5, TRANSCRIPTS_SCHEMA_V2)
        w.write_rows(5, TRANSCRIPTS_SCHEMA_V2, [_row("c", 0, "z", (0.5,)), _row("d", 0, "w", (1.5,))])

    _fs, rows = _segment(1, build)
    return [(pkt, 1, g, es) for _off, g, es, pkt in rows]


NAMES = list(TRANSCRIPTS_SCHEMA_V2.column_names)
KINDS = _payload_kinds([V1, V2])


@pytest.mark.parametrize("vec", [False, True], ids=["per_row", "vec"])
def test_session_stops_at_an_unknown_descriptor(vec):
    """``process_packet_typed`` with and without the vectorized collector:
    the rows before the unknown TABLE_MAP decode, none after it do, and
    the session reports the miss."""
    collector = typed_collector(KINDS, (0, 1), len(KINDS)) if vec else None
    for known, want, miss in (({V1}, ["a", "b"], True), ({V1, V2}, ["a", "b", "c", "d"], False)):
        sess = BinlogSession(known_descs=frozenset(known))
        out = TypedBatch(tuple(KINDS), (0, 1), len(KINDS))
        for blob, fs, g, es in _packets():
            sess.process_packet_typed(blob, fs, g, es, out, collector)
        conv = out.columns()[0]
        if collector is not None:
            conv = conv + [v for rb in collector.flush() for v in rb.column(0).to_pylist()]
        assert sorted(conv) == want
        assert sess.descriptor_miss is miss


@pytest.mark.parametrize("on_error", ["raise", "quarantine"])
def test_decoder_emits_one_marker_and_no_rows_under_it(on_error):
    decode_partition, _ = make_typed_decoder(
        NAMES, KINDS, (0, 1), on_error=on_error, known=frozenset({V1})
    )
    rows = [r for rb in decode_partition(iter([event_batch(_packets())])) for r in rb.to_pylist()]
    markers = [r for r in rows if r["_file_seq"] == MISS_FILE_SEQ]
    assert len(markers) == 1
    assert all(markers[0][n] is None for n in NAMES)
    if on_error == "quarantine":
        assert markers[0]["_corrupt"] is None  # not a dead letter
    assert sorted(r["conv_id"] for r in rows if r not in markers) == ["a", "b"]

    # every descriptor known: all four rows, no marker
    decode_partition, _ = make_typed_decoder(
        NAMES, KINDS, (0, 1), on_error=on_error, known=frozenset({V1, V2})
    )
    rows = [r for rb in decode_partition(iter([event_batch(_packets())])) for r in rb.to_pylist()]
    assert sorted(r["conv_id"] for r in rows) == ["a", "b", "c", "d"]


# ---------------------------------------------------------------------------
# the applier
# ---------------------------------------------------------------------------


def test_steady_state_commit_skips_the_scan(spark, tmp_path, monkeypatch):
    paths = _store(tmp_path, [_segment(i, _v1([_row(f"c{i}", 0, "x")])) for i in range(3)])
    app = TranscriptsApplier(spark, _table(spark, tmp_path, "t"))
    first = app.apply_events(read_segments(spark, paths[0]), batch_id=0)
    assert first["descriptor_scan"] is True

    def no_scan(*_a, **_k):
        raise AssertionError("scanned a batch whose descriptors are known")

    monkeypatch.setattr(TranscriptsApplier, "_scan_descs", staticmethod(no_scan))
    recs = _batches(spark, app, paths[1:], first_id=1)
    assert [r["descriptor_scan"] for r in recs] == [False, False]
    assert [r["descriptor_scan"] for r in app.table.lineage()] == [True, False, False]


def test_add_column_and_second_table_mid_batch_fall_back(spark, tmp_path):
    """One micro-batch carries an ADD COLUMN and a second table's TABLE_MAP:
    the hinted decode misses, the batch rescans, and the table equals a
    full replay.  The filtered-out second table alone never forces a
    scan."""
    tf = TableFilter(include=["chat.transcripts"])
    segs = [
        _segment(0, _v1([_row("c1", 0, "hello"), _row("c2", 0, "hey")])),
        _segment(1, _add_column_and_audit),
        _segment(2, _audit_and_v2([_row("c1", 0, "edited", (2.5,))])),
    ]
    paths = _store(tmp_path, segs)
    table = _table(spark, tmp_path, "t")
    recs = _batches(spark, TranscriptsApplier(spark, table), paths, table_filter=tf)
    assert [r["descriptor_scan"] for r in recs] == [True, True, False]
    assert recs[1]["schema_evolution"] == ["add:score:double"]
    assert [r["input_rows"] for r in recs] == [2, 3, 1]

    whole = _table(spark, tmp_path, "whole")
    TranscriptsApplier(spark, whole).apply_files(paths, batch_id=0, table_filter=tf)
    assert _state(table) == _state(whole)
    assert _state(table) == _state(_scanned_replay(spark, tmp_path, "p", paths, table_filter=tf))
    assert {(r.conv_id, r.text, r.score) for r in table.read().collect()} == {
        ("c1", "edited", 2.5), ("c1", "again", None), ("c2", "scored", 0.5), ("c3", "x", 1.5),
    }
    assert table.versions() == [1, 2, 3]


def test_kind_change_takes_the_scan(spark, tmp_path):
    """A VARCHAR → INT change inside one batch types the column as a
    string; a later batch under only one of those descriptors rescans, as
    it did before the hint, so it is typed from its own descriptors."""
    segs = [
        _segment(0, _v1([_row("c1", 0, "hello")])),
        _segment(1, _v1_then_tool_int),
        _segment(2, _v1([_row("c4", 0, "after")])),
    ]
    paths = _store(tmp_path, segs)
    table = _table(spark, tmp_path, "t")
    recs = _batches(spark, TranscriptsApplier(spark, table), paths)
    assert [r["descriptor_scan"] for r in recs] == [True, True, True]
    assert _state(table) == _state(_scanned_replay(spark, tmp_path, "p", paths))
    assert {r.conv_id: r.tool for r in table.read().collect()}["c3"] == "7"


def test_position_bounded_batches_still_scan(spark, tmp_path):
    paths = _store(tmp_path, [_segment(i, _v1([_row(f"c{i}", 0, "x")])) for i in range(3)])
    table = _table(spark, tmp_path, "t")
    app = TranscriptsApplier(spark, table)
    app.apply_files(paths[:1], batch_id=0)
    events = read_segments(spark, str(tmp_path / "seg"))
    # segment 0 is gated, segment 2 is cut
    rec = app.apply_events(events, batch_id=1, stop_position=(2, 4))
    assert rec["descriptor_scan"] is True and rec["input_rows"] == 1
    rec = app.apply_events(events, batch_id=2, from_position=(2, 4))
    assert rec["descriptor_scan"] is True and rec["input_rows"] == 1
    assert {r.conv_id for r in table.read().collect()} == {"c0", "c1", "c2"}


def test_relanded_segment_with_a_new_descriptor_skips(spark, tmp_path, monkeypatch):
    """A new applier learns only the 7-column map; a re-landed segment
    under the 6-column map misses, rescans, and is gated whole: a skip
    record, no new version."""
    segs = [
        _segment(0, _v1([_row("c1", 0, "hello")])),
        _segment(1, _v2([_row("c2", 0, "scored", (0.5,))])),
        _segment(2, _v2([_row("c3", 0, "more", (1.5,))])),
    ]
    paths = _store(tmp_path, segs)
    table = _table(spark, tmp_path, "t")
    _batches(spark, TranscriptsApplier(spark, table), paths[:2])
    app = TranscriptsApplier(spark, table)  # a restarted process
    assert app.apply_events(read_segments(spark, paths[2]), batch_id=2)["descriptor_scan"] is True
    versions, state = table.versions(), _state(table)
    scans = []
    real = TranscriptsApplier._scan_descs

    def counted(events, table_filter):
        scans.append(1)
        return real(events, table_filter)

    monkeypatch.setattr(TranscriptsApplier, "_scan_descs", staticmethod(counted))
    rec = app.apply_events(read_segments(spark, paths[0]), batch_id=3)
    assert rec.get("skipped") is True and rec["input_rows"] == 0
    assert scans == [1]
    assert table.versions() == versions and _state(table) == state


# ---------------------------------------------------------------------------
# the merge: a miss raises before anything is written, and no exit leaks
# the persisted batch
# ---------------------------------------------------------------------------


def _persisted(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _positioned(spark, rows):
    """rows: (conv_id, turn_idx, text, gtid, file_seq, log_pos)."""
    return spark.createDataFrame(
        [(c, t, x, False, g, g, 0, fs, lp) for c, t, x, g, fs, lp in rows],
        "conv_id string, turn_idx bigint, text string, _deleted boolean, "
        "_gtid bigint, _event_seq bigint, _event_row_index bigint, "
        "_file_seq int, _log_pos bigint",
    )


def test_marker_row_raises_descriptor_miss_before_any_write(spark, tmp_path):
    from myzql_binlog_connector_spark.plans.lake import DescriptorMiss

    table = _table(spark, tmp_path, "t")
    table.merge(_positioned(spark, [("a", 0, "x", 1, 1, 100)]), batch_id=0)
    versions, state, before = table.versions(), _state(table), _persisted(spark)
    batch = _positioned(spark, [("b", 0, "y", 2, 2, 100), (None, None, None, 0, MISS_FILE_SEQ, 0)])
    with pytest.raises(DescriptorMiss):
        table.merge(batch, batch_id=1)
    assert table.versions() == versions and _state(table) == state
    assert _persisted(spark) <= before  # nothing new left persisted


def test_failed_write_releases_the_persisted_batch(spark, tmp_path, monkeypatch):
    table = _table(spark, tmp_path, "t")
    before = _persisted(spark)

    def broken(*_a, **_k):
        raise OSError("disk full")

    monkeypatch.setattr(table, "_write_buckets", broken)
    with pytest.raises(OSError, match="disk full"):
        table.merge(_positioned(spark, [("a", 0, "x", 1, 1, 100)]), batch_id=0)
    assert _persisted(spark) <= before  # nothing new left persisted
    assert not table.exists()
