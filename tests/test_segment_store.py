"""The segment store's ``_schemas.json`` sidecar (docs/CAPTURE.md §3).

``apply_files`` trusts the sidecar in place of the TABLE_MAP pre-pass, so
a sidecar missing a descriptor silently drops that descriptor's rows.
These tests pin that every writer — the generator and both capture
scripts, all through ``sources.segments.write_segments`` — leaves a
sidecar that lists exactly what a scan of the store finds, across a
DROP COLUMN and across a capture restart, and that ``apply_files`` over
several stores reads every store's sidecar."""

from __future__ import annotations

import glob
import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))

from capture_daemon import store_stream  # noqa: E402

from myzql_binlog_connector_spark.binlog.encoder import (  # noqa: E402
    TRANSCRIPTS_SCHEMA,
    EventWriter,
    TableSchema,
    long_col,
    varchar,
)
from myzql_binlog_connector_spark.functions.decode import scan_schemas  # noqa: E402
from myzql_binlog_connector_spark.functions.table_filter import TableFilter  # noqa: E402
from myzql_binlog_connector_spark.genlog import (  # noqa: E402
    GeneratedStream,
    generate_stream,
    write_segments_parquet,
)
from myzql_binlog_connector_spark.plans.apply import TranscriptsApplier  # noqa: E402
from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable  # noqa: E402
from myzql_binlog_connector_spark.sources.segments import read_segments  # noqa: E402
from tests.test_schema_narrowing import NARROW, SURVIVORS, TS0  # noqa: E402

AUDIT = TableSchema("chat", "audit", (long_col(nullable=False), varchar(64)))


def _segment(file_seq: int, w: EventWriter):
    return (file_seq, [(off, i, i, pkt) for i, (off, pkt) in enumerate(w.events)])


def _transcripts_segment(drop_column: bool = True):
    """Two rows under the 6-column map and, with ``drop_column``, then
    ``DROP COLUMN tool`` and one row under the 5-column map; one segment."""
    w = EventWriter()
    w.format_description()
    w.table_map(5, TRANSCRIPTS_SCHEMA)
    w.write_rows(
        5,
        TRANSCRIPTS_SCHEMA,
        [
            ("c1", 0, "user", "hello", "search", TS0),
            ("c2", 0, "user", "hey", None, TS0 + 1_000_000),
        ],
    )
    if drop_column:
        w.table_map(5, NARROW)
        w.write_rows(5, NARROW, [("c1", 1, "assistant", "hi there", TS0 + 2_000_000)])
    w.rotate("binlog.000002")
    return _segment(1, w)


def _audit_segment(file_seq: int):
    """A segment that touches only ``chat.audit``."""
    w = EventWriter()
    w.format_description()
    w.table_map(9, AUDIT)
    w.write_rows(9, AUDIT, [(1, "login"), (2, "logout")])
    w.rotate(f"binlog.{file_seq + 1:06d}")
    return _segment(file_seq, w)


def _capture(runs, out_dir: str) -> None:
    """``store_stream`` once per run (a capture restart between runs),
    each run numbering its segments after the previous run's."""
    for segments in runs:
        payloads = [pkt for _fs, rows in segments for *_, pkt in rows]
        store_stream(payloads, out_dir, start_file_seq=segments[0][0])


def _paths(*stores: str) -> list[str]:
    return sorted(p for s in stores for p in glob.glob(os.path.join(s, "segment-*.parquet")))


def _applied(spark, lake: str, paths: list[str], narrowed_names=None, **kw) -> set[tuple]:
    table = BucketedLakeTable(spark, lake, ["conv_id", "turn_idx"], n_buckets=2)
    rec = TranscriptsApplier(spark, table, narrowed_names=narrowed_names).apply_files(
        paths, batch_id=0, **kw
    )
    assert not rec.get("skipped"), rec
    return {tuple(sorted(r.asDict().items())) for r in table.read().collect()}


def _sidecar(store: str) -> set[tuple]:
    with open(os.path.join(store, "_schemas.json")) as f:
        return {(e["database"], e["table"], e["desc"]) for e in json.load(f)}


class TestCapturedSidecarRegressions:
    def test_drop_column_keeps_pre_drop_rows(self, spark, tmp_path):
        seg = _transcripts_segment()
        gen, cap = str(tmp_path / "gen"), str(tmp_path / "cap")
        write_segments_parquet(GeneratedStream(segments=[seg]), gen)
        _capture([[seg]], cap)
        nn = {5: SURVIVORS}
        want = _applied(spark, str(tmp_path / "lg"), _paths(gen), narrowed_names=nn)
        assert len(want) == 3
        got = _applied(spark, str(tmp_path / "lc"), _paths(cap), narrowed_names=nn)
        assert got == want

    def test_capture_restart_keeps_earlier_tables(self, spark, tmp_path):
        runs = [[_transcripts_segment(drop_column=False)], [_audit_segment(2)]]
        gen, cap = str(tmp_path / "gen"), str(tmp_path / "cap")
        write_segments_parquet(GeneratedStream(segments=[s for r in runs for s in r]), gen)
        _capture(runs, cap)
        tf = TableFilter(include=["chat.transcripts"])
        want = _applied(spark, str(tmp_path / "lg"), _paths(gen), table_filter=tf)
        assert len(want) == 2
        got = _applied(spark, str(tmp_path / "lc"), _paths(cap), table_filter=tf)
        assert got == want


def _stores(tmp_path) -> dict[str, str]:
    """A genlog store with a mid-stream ADD COLUMN, a store captured in one
    run, and a store appended by two capture runs (the second one after
    the ADD COLUMN, plus a second table)."""
    evolved = generate_stream(seed=42, n_convs=30, n_segments=4, evolve_at=0.5)
    assert evolved.evolved
    segs = evolved.segments
    out = {name: str(tmp_path / name) for name in ("genlog", "captured", "restarted")}
    write_segments_parquet(evolved, out["genlog"])
    _capture([segs], out["captured"])
    _capture([segs[:2], segs[2:] + [_audit_segment(5)]], out["restarted"])
    return out


class TestSidecarInvariant:
    def test_sidecar_equals_scan_of_the_store(self, spark, tmp_path):
        for name, store in _stores(tmp_path).items():
            scanned = {tuple(r) for r in scan_schemas(read_segments(spark, store)).collect()}
            assert len(scanned) >= 2, name
            assert _sidecar(store) == scanned, name

    def test_apply_files_reads_every_store_sidecar(self, spark, tmp_path, monkeypatch):
        stream = generate_stream(seed=42, n_convs=30, n_segments=4, evolve_at=0.5)
        whole, a, b = (str(tmp_path / n) for n in ("whole", "a", "b"))
        write_segments_parquet(stream, whole)
        # the ADD COLUMN's descriptor is in the second store only
        write_segments_parquet(GeneratedStream(segments=stream.segments[:1]), a)
        write_segments_parquet(GeneratedStream(segments=stream.segments[1:]), b)
        assert _sidecar(b) - _sidecar(a)
        want = _applied(spark, str(tmp_path / "lw"), _paths(whole))

        def no_scan(*_a, **_k):
            raise AssertionError("scanned despite a sidecar in every store")

        with monkeypatch.context() as m:
            m.setattr(TranscriptsApplier, "_scan_descs", staticmethod(no_scan))
            assert _applied(spark, str(tmp_path / "lab"), _paths(a, b)) == want

        # one store without a sidecar: apply_files scans all the paths
        os.remove(os.path.join(a, "_schemas.json"))
        scans = []
        real = TranscriptsApplier._scan_descs

        def counted(events, table_filter):
            scans.append(1)
            return real(events, table_filter)

        with monkeypatch.context() as m:
            m.setattr(TranscriptsApplier, "_scan_descs", staticmethod(counted))
            assert _applied(spark, str(tmp_path / "lab2"), _paths(a, b)) == want
        assert scans == [1]
