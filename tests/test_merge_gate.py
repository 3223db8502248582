"""The lake table owns exactly-once: ``BucketedLakeTable.merge`` gates rows
that carry their binlog position (``_file_seq``/``_log_pos``) against the
watermarks of the manifest it commits on, advances them in the same
commit, and never stores the position columns."""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest

SKIP_RECORD_COUNTS = {
    "input_rows": 0,
    "dirty_buckets": [],
    "buckets_folded": [],
    "files_written": 0,
    "bytes_written": 0,
}


def _positioned(spark, rows):
    """rows: (conv_id, turn_idx, text, gtid, file_seq, log_pos)."""
    return spark.createDataFrame(
        [(c, t, x, False, g, g, 0, fs, lp) for c, t, x, g, fs, lp in rows],
        "conv_id string, turn_idx bigint, text string, _deleted boolean, "
        "_gtid bigint, _event_seq bigint, _event_row_index bigint, "
        "_file_seq int, _log_pos bigint",
    )


@pytest.fixture()
def table(spark, tmp_path):
    from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable

    return BucketedLakeTable(spark, str(tmp_path / "t"), ["conv_id", "turn_idx"], n_buckets=4)


def _state(table):
    return {(r.conv_id, r.turn_idx): r.text for r in table.read().collect()}


def test_position_columns_are_not_stored(spark, table):
    rows = [("a", 0, "x", 1, 3, 100), ("b", 0, "y", 2, 3, 200), ("c", 0, "z", 3, 4, 50)]
    rec = table.merge(_positioned(spark, rows), batch_id=0)
    assert rec["input_rows"] == 3
    m = table.snapshot_manifest()
    assert "_file_seq" not in m["schema"] and "_log_pos" not in m["schema"]
    for fl in m["files"].values():
        for p in fl:
            assert not {"_file_seq", "_log_pos"} & set(pq.read_schema(p).names), p
    assert not {"_file_seq", "_log_pos"} & set(table.read(include_meta=True).columns)
    assert m["watermarks"] == {
        "3": {"log_pos": 200, "event_row_index": 0, "gtid": 2},
        "4": {"log_pos": 50, "event_row_index": 0, "gtid": 3},
    }


def test_redelivered_rows_skip_and_commit_nothing(spark, table):
    batch = _positioned(spark, [("a", 0, "x", 1, 3, 100), ("b", 0, "y", 2, 3, 200)])
    table.merge(batch, batch_id=0)
    versions, state = table.versions(), _state(table)
    rec = table.merge(batch, batch_id=1)
    assert rec == {"batch_id": 1, "skipped": True, **SKIP_RECORD_COUNTS}
    assert table.versions() == versions
    assert _state(table) == state
    # a partial redelivery keeps only the rows past the watermark
    more = _positioned(spark, [("b", 0, "old", 2, 3, 200), ("c", 0, "z", 3, 3, 300)])
    rec = table.merge(more, batch_id=2)
    assert rec["input_rows"] == 1
    assert _state(table) == {**state, ("c", 0): "z"}


def _store(tmp_path):
    from myzql_binlog_connector_spark.genlog import generate_stream, write_segments_parquet

    stream = generate_stream(seed=11, n_convs=20, n_segments=2)
    return write_segments_parquet(stream, str(tmp_path / "seg"))


def test_commit_loads_the_manifest_once(spark, tmp_path, monkeypatch):
    """An ``apply_events`` commit on an existing table reads the manifest
    JSON once: the gate's watermarks come from the manifest the merge
    commits on."""
    import myzql_binlog_connector_spark.plans.lake as lake_mod
    from myzql_binlog_connector_spark.plans.apply import TranscriptsApplier
    from myzql_binlog_connector_spark.sources.segments import read_segments

    paths = _store(tmp_path)
    table = lake_mod.BucketedLakeTable(
        spark, str(tmp_path / "t"), ["conv_id", "turn_idx"], n_buckets=4
    )
    app = TranscriptsApplier(spark, table)
    app.apply_files(paths[:1], batch_id=0)

    loads = []
    real = lake_mod._load_manifest

    def counted(path, version):
        loads.append(version)
        return real(path, version)

    monkeypatch.setattr(lake_mod, "_load_manifest", counted)
    rec = app.apply_events(read_segments(spark, paths[1]), batch_id=1)
    assert not rec.get("skipped") and rec["version"] == 2
    assert loads == [1]


def test_reland_returns_the_skip_record(spark, tmp_path):
    """A re-landed segment (at-least-once delivery) is gated whole inside
    the merge: the applier returns the merge's skip record, whose count
    fields match a commit record's."""
    from myzql_binlog_connector_spark.plans.apply import TranscriptsApplier
    from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable
    from myzql_binlog_connector_spark.sources.segments import read_segments

    paths = _store(tmp_path)
    table = BucketedLakeTable(spark, str(tmp_path / "t"), ["conv_id", "turn_idx"], n_buckets=4)
    app = TranscriptsApplier(spark, table)
    committed = app.apply_events(read_segments(spark, paths[0]), batch_id=0)
    rec = app.apply_events(read_segments(spark, paths[0]), batch_id=1)
    assert rec == {"batch_id": 1, "skipped": True, **SKIP_RECORD_COUNTS}
    assert set(SKIP_RECORD_COUNTS) <= set(committed)
    assert table.versions() == [1]
