"""Snapshot bootstrap (initial load) + CDC handoff.

The production cold-start: take a consistent snapshot of the source table
at binlog position P, bulk-merge it, then tail the binlog from P.  The
invariant: bootstrap(state@P) + replay(events ≥ P) must equal a full
replay from the beginning — and the handoff must stay idempotent and
LWW-correct when the tail overlaps the snapshot."""

from __future__ import annotations

from myzql_binlog_connector_spark.functions.decode import decode_changes
from myzql_binlog_connector_spark.genlog import (
    encode_stream,
    generate_ops,
    replay_truth,
    write_segments_parquet,
)
from myzql_binlog_connector_spark.plans.apply import TranscriptsApplier
from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable


def _setup(spark, tmp_path, seed=51):
    ops = generate_ops(seed=seed, n_convs=40, update_frac=0.3, delete_frac=0.15)
    stream = encode_stream(ops, n_segments=2, seed=seed)
    seg_dir = str(tmp_path / "segs")
    write_segments_parquet(stream, seg_dir)
    # ops split at the segment boundary: snapshot state = replay of seg 1
    n_seg1 = len(stream.segments[0][1])
    return ops, stream, seg_dir


def _snapshot_df(spark, ops_prefix):
    from pyspark.sql import functions as F

    rows = [
        (k[0], k[1], v[2], v[3], v[4], v[5])
        for k, v in replay_truth(ops_prefix).items()
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx bigint, role string, text string, "
              "tool string, ts_us bigint"
    )
    # snapshot types must match the table's (ts is a UTC timestamp there)
    return df.withColumn("ts", F.timestamp_micros("ts_us")).drop("ts_us")


class TestBootstrapHandoff:
    def test_bootstrap_plus_tail_equals_full_replay(self, spark, tmp_path):
        import glob

        ops, stream, seg_dir = _setup(spark, tmp_path)
        paths = sorted(glob.glob(seg_dir + "/*.parquet"))
        assert len(paths) == 2

        # how many ops landed in segment 1 = its change-row count
        n1 = sum(1 for _ in stream.segments[0][1])
        # ops are encoded one row-change per op in order, so the snapshot
        # position "end of segment 1" corresponds to a prefix of ops whose
        # replay is the snapshot state.  Derive the prefix length from the
        # decoded row count of segment 1.
        from myzql_binlog_connector_spark.functions.decode import decode_segment_files

        n_changes_seg1 = decode_segment_files(spark, paths[:1]).count()
        snap = _snapshot_df(spark, ops[:n_changes_seg1])

        table = BucketedLakeTable(
            spark, str(tmp_path / "lake"), ["conv_id", "turn_idx"], n_buckets=4
        )
        ap = TranscriptsApplier(spark, table)
        rec = ap.bootstrap(snap, batch_id=0)
        assert not rec.get("skipped")
        ap.apply_files(paths[1:], batch_id=1)  # the CDC tail from position P

        got = {(r.conv_id, r.turn_idx): r.text for r in table.read().collect()}
        want = {k: v[3] for k, v in replay_truth(ops).items()}
        assert got == want

    def test_overlapping_tail_wins_lww_and_is_idempotent(self, spark, tmp_path):
        """Replaying the WHOLE stream over a bootstrapped table (overlap
        with the snapshot) must still converge to the same state — real
        changes (gtid ≥ 1) always beat snapshot rows (gtid 0), and
        re-running the tail is a no-op."""
        import glob

        ops, stream, seg_dir = _setup(spark, tmp_path, seed=53)
        paths = sorted(glob.glob(seg_dir + "/*.parquet"))
        from myzql_binlog_connector_spark.functions.decode import decode_segment_files

        n1 = decode_segment_files(spark, paths[:1]).count()
        snap = _snapshot_df(spark, ops[:n1])

        table = BucketedLakeTable(
            spark, str(tmp_path / "lake"), ["conv_id", "turn_idx"], n_buckets=4
        )
        ap = TranscriptsApplier(spark, table)
        ap.bootstrap(snap, batch_id=0)
        ap.apply_files(paths, batch_id=1)  # full overlap with the snapshot
        want = {k: v[3] for k, v in replay_truth(ops).items()}
        got = {(r.conv_id, r.turn_idx): r.text for r in table.read().collect()}
        assert got == want
        rec = ap.apply_files(paths, batch_id=2)  # redelivery: no-op
        assert rec.get("skipped")
        assert {(r.conv_id, r.turn_idx): r.text
                for r in table.read().collect()} == want

    def test_bootstrap_alone_is_snapshot_state(self, spark, tmp_path):
        ops, _stream, _ = _setup(spark, tmp_path, seed=57)
        snap = _snapshot_df(spark, ops)
        table = BucketedLakeTable(
            spark, str(tmp_path / "lake2"), ["conv_id", "turn_idx"], n_buckets=4
        )
        TranscriptsApplier(spark, table).bootstrap(snap, batch_id=0)
        got = {(r.conv_id, r.turn_idx): r.text for r in table.read().collect()}
        assert got == {k: v[3] for k, v in replay_truth(ops).items()}
