"""Structured-Streaming replay: micro-batching, checkpoint resume,
redelivery idempotence (SURVEY.md §2.6 T1/T5/T6; §5.2 item 3)."""

from __future__ import annotations

import pytest

from myzql_binlog_connector_spark.genlog import generate_stream, write_segments_parquet
from myzql_binlog_connector_spark.plans.apply import TranscriptsApplier
from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable
from myzql_binlog_connector_spark.streaming.replay import BinlogReplayStream


def _state_dict(df):
    return {(r["conv_id"], r["turn_idx"]): r["text"] for r in df.collect()}


def _truth_dict(stream):
    return {k: v[3] for k, v in stream.truth.items()}


def _truth_dict_ops(ops):
    from myzql_binlog_connector_spark.genlog import replay_truth

    return replay_truth(ops)


@pytest.fixture(scope="module")
def gen(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("stream")
    stream = generate_stream(seed=99, n_convs=30, n_segments=4)
    write_segments_parquet(stream, str(tmp / "seg"))
    return stream, tmp


class TestStreamingReplay:
    def test_available_now_drains_and_matches(self, spark, gen):
        stream, tmp = gen
        table = BucketedLakeTable(spark, str(tmp / "t1"), ["conv_id", "turn_idx"], n_buckets=4)
        replay = BinlogReplayStream(
            spark,
            str(tmp / "seg"),
            TranscriptsApplier(spark, table),
            checkpoint_dir=str(tmp / "ckpt1"),
            max_files_per_trigger=1,
        )
        records = replay.run_to_completion(timeout_sec=300)
        # one micro-batch per segment file
        assert len(records) == 4
        assert _state_dict(table.read()) == _truth_dict(stream)
        # lineage rows persisted in the table manifest
        assert len(table.lineage()) >= 1
        assert all("wall_ms" in r for r in table.lineage() if "compaction" not in r)

    def test_periodic_compaction_preserves_state(self, spark, gen, tmp_path):
        stream, tmp = gen
        table = BucketedLakeTable(spark, str(tmp_path / "t"), ["conv_id", "turn_idx"], n_buckets=4)
        replay = BinlogReplayStream(
            spark, str(tmp / "seg"), TranscriptsApplier(spark, table),
            checkpoint_dir=str(tmp_path / "ckpt"), compact_every=2,
        )
        replay.run_to_completion(timeout_sec=300)
        assert _state_dict(table.read()) == _truth_dict(stream)
        # compaction ran and is recorded in lineage
        assert any(r.get("compaction") for r in table.lineage())

    def test_unbounded_tail_picks_up_new_segments(self, spark, tmp_path):
        """T1: with a processing-time trigger the stream tails the store —
        segments arriving after start are applied without restart."""
        import time

        from myzql_binlog_connector_spark.genlog import (
            encode_stream,
            generate_ops,
        )

        ops = generate_ops(seed=201, n_convs=20)
        half = len(ops) // 2
        s1 = encode_stream(ops[:half], n_segments=2, seed=201)
        s2 = encode_stream(ops[half:], n_segments=2, seed=202)
        # renumber second batch's segments so file names don't collide
        s2.segments = [(fs + 2, rows) for fs, rows in s2.segments]
        # gtids must keep increasing across the two batches
        max_gtid = max(g for _, rows in s1.segments for (_, g, _, _) in rows)
        s2.segments = [
            (fs, [(off, g + max_gtid, es + max_gtid, pkt) for off, g, es, pkt in rows])
            for fs, rows in s2.segments
        ]
        seg_dir = str(tmp_path / "seg")
        write_segments_parquet(s1, seg_dir)

        table = BucketedLakeTable(spark, str(tmp_path / "t"), ["conv_id", "turn_idx"], n_buckets=4)
        replay = BinlogReplayStream(
            spark, seg_dir, TranscriptsApplier(spark, table), str(tmp_path / "ckpt"),
            max_files_per_trigger=2,
        )
        q = replay.start(available_now=False)  # tail forever
        try:
            deadline = time.monotonic() + 120
            while time.monotonic() < deadline and len(replay.batch_records) < 1:
                time.sleep(0.5)
            assert replay.batch_records, "first batch never arrived"
            # drop the second half in while the stream is live
            write_segments_parquet(s2, seg_dir)
            want_total = len({k for k in _truth_dict_ops(ops)})
            deadline = time.monotonic() + 120
            while time.monotonic() < deadline:
                if table.exists() and len(replay.batch_records) >= 2:
                    got = table.read().count()
                    if got == want_total:
                        break
                time.sleep(0.5)
            assert table.read().count() == want_total
        finally:
            q.stop()

    def test_restart_from_checkpoint_is_exactly_once(self, spark, gen):
        """Drain two micro-batches, 'crash', restart with the same
        checkpoint: the stream resumes where it left off and the final state
        matches; then a full second run is a complete no-op."""
        stream, tmp = gen
        table = BucketedLakeTable(spark, str(tmp / "t2"), ["conv_id", "turn_idx"], n_buckets=4)
        applier = TranscriptsApplier(spark, table)
        ckpt = str(tmp / "ckpt2")

        # phase 1: process only the first 2 micro-batches, then stop (crash)
        replay1 = BinlogReplayStream(spark, str(tmp / "seg"), applier, ckpt)
        seen = []
        orig = replay1._process_batch

        def crashing(batch_df, batch_id):
            if len(seen) >= 2:
                raise RuntimeError("injected crash")
            orig(batch_df, batch_id)
            seen.append(batch_id)

        replay1._process_batch = crashing
        q = replay1.start(available_now=True)
        with pytest.raises(Exception):
            q.awaitTermination(300)
        assert len(seen) == 2

        # phase 2: restart with same checkpoint → finishes the tail
        replay2 = BinlogReplayStream(spark, str(tmp / "seg"), applier, ckpt)
        replay2.run_to_completion(timeout_sec=300)
        assert _state_dict(table.read()) == _truth_dict(stream)

        # phase 3: brand-new checkpoint, full redelivery → watermarks make
        # every batch a no-op
        v_before = table.snapshot_manifest()["version"]
        replay3 = BinlogReplayStream(spark, str(tmp / "seg"), applier, str(tmp / "ckpt3"))
        records = replay3.run_to_completion(timeout_sec=300)
        assert all(r.get("skipped") for r in records)
        assert table.snapshot_manifest()["version"] == v_before
        assert _state_dict(table.read()) == _truth_dict(stream)


def test_stream_after_apply_files_preload_is_exactly_once(spark, tmp_path):
    """A table preloaded by apply_files, then tailed by the stream over a
    store that re-holds the preloaded segments: the re-read segments are
    no-ops, and the new one lands with the watermark apply_files records
    for it (one typed apply, one numbering, whichever route fed it)."""
    import os

    stream = generate_stream(seed=7, n_convs=30, n_segments=3)
    paths = write_segments_parquet(stream, str(tmp_path / "seg"))
    for i, p in enumerate(paths):  # the file source takes files oldest first
        os.utime(p, (1_000_000 + i, 1_000_000 + i))
    table = BucketedLakeTable(spark, str(tmp_path / "t"), ["conv_id", "turn_idx"], n_buckets=4)
    applier = TranscriptsApplier(spark, table)
    applier.apply_files(paths[:2], batch_id=0)
    n_versions = len(table.versions())

    records = BinlogReplayStream(
        spark, str(tmp_path / "seg"), applier, str(tmp_path / "ckpt"),
    ).run_to_completion(timeout_sec=300)
    assert len(records) == 3
    assert [r.get("skipped") for r in records[:2]] == [True, True]
    assert not records[2].get("skipped")
    assert len(table.versions()) == n_versions + 1
    assert _state_dict(table.read()) == _truth_dict(stream)

    ref = BucketedLakeTable(spark, str(tmp_path / "ref"), ["conv_id", "turn_idx"], n_buckets=4)
    TranscriptsApplier(spark, ref).apply_files(paths, batch_id=0)
    seg3 = str(stream.segments[2][0])
    assert table.watermarks()[seg3] == ref.watermarks()[seg3]
