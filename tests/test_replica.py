"""Feed-driven replication (streaming/replica.py): bootstrap from a
pinned snapshot, follow the 'lake_changes' feed, replica state == primary
state through live commits, tombstones, checkpoint restarts, and schema
evolution."""

from __future__ import annotations

import pytest


def _chg(spark, rows):
    """rows: list of (conv_id, turn_idx, text, gtid, deleted)."""
    return spark.createDataFrame(
        [(c, t, x, bool(d), g, g, 1) for (c, t, x, g, d) in rows],
        "conv_id string, turn_idx bigint, text string, _deleted boolean, "
        "_gtid bigint, _event_seq bigint, _event_row_index bigint",
    )


def _mk_table(spark, path, n_buckets=4):
    from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable

    return BucketedLakeTable(spark, path, ["conv_id", "turn_idx"], n_buckets=n_buckets)


def _state(t):
    return {(r.conv_id, r.turn_idx): r.text for r in t.read().collect()}


class TestReplicate:
    def test_bootstrap_then_follow_matches_primary(self, spark, tmp_path):
        from myzql_binlog_connector_spark.streaming.replica import replicate

        src = _mk_table(spark, str(tmp_path / "src"))
        # replica deliberately runs a DIFFERENT bucket count (keys re-hash)
        dst = _mk_table(spark, str(tmp_path / "dst"), n_buckets=8)
        src.merge(
            _chg(spark, [(f"c{i}", 0, f"v{i}", 1, False) for i in range(20)]),
            batch_id=0,
        )
        src.merge(_chg(spark, [("c3", 0, "v3b", 2, False)]), batch_id=1)
        q = replicate(
            spark, src.path, dst, str(tmp_path / "ckpt"), bootstrap_from=src
        )
        try:
            q.processAllAvailable()
            assert _state(dst) == _state(src)
            # live commits while the replica runs: update + delete
            src.merge(_chg(spark, [("c5", 0, "v5b", 3, False)]), batch_id=2)
            src.merge(_chg(spark, [("c7", 0, None, 4, True)]), batch_id=3)
            q.processAllAvailable()
            assert _state(dst) == _state(src)
            assert ("c7", 0) not in _state(dst)  # tombstone propagated
        finally:
            q.stop()

    def test_checkpoint_resume_without_rebootstrap(self, spark, tmp_path):
        from myzql_binlog_connector_spark.streaming.replica import replicate

        src = _mk_table(spark, str(tmp_path / "src"))
        dst = _mk_table(spark, str(tmp_path / "dst"))
        ckpt = str(tmp_path / "ckpt")
        src.merge(_chg(spark, [("a", 0, "x", 1, False)]), batch_id=0)
        q = replicate(spark, src.path, dst, ckpt, bootstrap_from=src)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # offline primary commits, then resume WITHOUT re-bootstrap
        src.merge(_chg(spark, [("b", 0, "y", 2, False)]), batch_id=1)
        src.merge(_chg(spark, [("a", 0, "x2", 3, False)]), batch_id=2)
        q = replicate(spark, src.path, dst, ckpt)
        try:
            q.processAllAvailable()
            assert _state(dst) == _state(src) == {
                ("a", 0): "x2", ("b", 0): "y",
            }
        finally:
            q.stop()

    def test_bootstrap_race_commit_between_snapshot_and_follow(
        self, spark, tmp_path
    ):
        """The race snapshot_with_version exists for: a commit lands after
        the bootstrap snapshot but before the stream's first batch — the
        feed must deliver exactly that commit (start = pinned version + 1),
        not skip it and not double-apply the snapshot's own commits."""
        from myzql_binlog_connector_spark.streaming.replica import (
            bootstrap, replicate,
        )

        src = _mk_table(spark, str(tmp_path / "src"))
        dst = _mk_table(spark, str(tmp_path / "dst"))
        src.merge(_chg(spark, [("a", 0, "x", 1, False)]), batch_id=0)
        v = bootstrap(src, dst)
        # the racing commit, before the stream starts
        src.merge(_chg(spark, [("r", 0, "raced", 2, False)]), batch_id=1)
        spark.dataSource.register(
            __import__(
                "myzql_binlog_connector_spark.streaming.feed",
                fromlist=["LakeChangesDataSource"],
            ).LakeChangesDataSource
        )
        q = (
            spark.readStream.format("lake_changes")
            .option("path", src.path)
            .option("startingVersion", v + 1)
            .load()
            .writeStream.foreachBatch(
                lambda df, eid: None if df.isEmpty() else dst.merge(
                    df.drop("_commit_version"), batch_id=f"feed-epoch-{eid}"
                )
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
            assert _state(dst) == _state(src) == {
                ("a", 0): "x", ("r", 0): "raced",
            }
        finally:
            q.stop()

    def test_replica_follows_schema_evolution(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from myzql_binlog_connector_spark.streaming.replica import replicate

        src = _mk_table(spark, str(tmp_path / "src"))
        dst = _mk_table(spark, str(tmp_path / "dst"))
        src.merge(_chg(spark, [("a", 0, "x", 1, False)]), batch_id=0)
        src.merge(
            _chg(spark, [("b", 0, "y", 2, False)]).withColumn(
                "lang", F.lit("en")
            ),
            batch_id=1,
        )
        q = replicate(
            spark, src.path, dst, str(tmp_path / "ckpt"), bootstrap_from=src
        )
        try:
            q.processAllAvailable()
            got = {
                (r.conv_id, r.lang) for r in dst.read().select("conv_id", "lang").collect()
            }
            assert got == {("a", None), ("b", "en")}
        finally:
            q.stop()

    def test_add_column_mid_follow_stops_then_restart_recovers(
        self, spark, tmp_path
    ):
        """Primary ADDs a column while the replica is following: the feed
        fails loud (FeedSchemaChangedError — never a silent projection
        that would diverge the replica), and one re-run of ``replicate``
        with the same checkpoint resumes with the evolved schema and
        catches the replica up, new column included."""
        from pyspark.sql import functions as F

        from myzql_binlog_connector_spark.streaming.replica import replicate

        src = _mk_table(spark, str(tmp_path / "src"))
        dst = _mk_table(spark, str(tmp_path / "dst"))
        ckpt = str(tmp_path / "ckpt")
        src.merge(_chg(spark, [("a", 0, "x", 1, False)]), batch_id=0)
        q = replicate(spark, src.path, dst, ckpt, bootstrap_from=src)
        try:
            q.processAllAvailable()  # schema now pinned pre-evolution
            src.merge(
                _chg(spark, [("b", 0, "y", 2, False)]).withColumn(
                    "lang", F.lit("en")
                ),
                batch_id=1,
            )
            with pytest.raises(Exception, match="schema evolved"):
                q.processAllAvailable()
        finally:
            q.stop()
        # documented recovery: same checkpoint, no re-bootstrap
        q2 = replicate(spark, src.path, dst, ckpt)
        try:
            q2.processAllAvailable()
            got = {
                (r.conv_id, r.lang)
                for r in dst.read().select("conv_id", "lang").collect()
            }
            assert got == {("a", None), ("b", "en")}
            assert _state(dst) == _state(src)
        finally:
            q2.stop()


    def test_replica_follows_tiered_folds(self, spark, tmp_path):
        """A replica following a table whose folds leave each bucket's base
        in place (a big first commit, then more small commits than the
        fold cap) equals the primary: the feed serves each commit's delta
        files, which a delta-only fold does not touch."""
        import hashlib

        from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable
        from myzql_binlog_connector_spark.streaming.replica import replicate

        src = BucketedLakeTable(
            spark, str(tmp_path / "src"), ["conv_id", "turn_idx"], n_buckets=4,
            max_files_per_bucket=2,
        )
        dst = _mk_table(spark, str(tmp_path / "dst"))
        src.merge(
            _chg(spark, [
                (f"c{i}", 0, hashlib.sha256(b"%d" % i).hexdigest() * 2, 1, False)
                for i in range(1200)
            ]),
            batch_id=0,
        )
        for g in range(2, 7):  # cap + 3 small commits over the base's keys
            src.merge(
                _chg(spark, [
                    (f"c{8 * g + j}", 0, None if j == 0 else f"v{g}", g, j == 0)
                    for j in range(8)
                ]),
                batch_id=g,
            )
        lineage = src.snapshot_manifest()["lineage"]
        assert any(set(r["buckets_folded"]) - set(r["buckets_rebased"]) for r in lineage)
        q = replicate(
            spark, src.path, dst, str(tmp_path / "ckpt"), max_versions_per_batch=2
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert _state(dst) == _state(src)
        assert len(_state(src)) == 1200 - 5


class TestMultiTableReplication:
    def test_each_fanout_table_replicates_independently(self, spark, tmp_path):
        """MultiTableApplier tables are ordinary lake tables, so 'replicate
        the whole database' composes as one replicate() per table — each
        with its own feed, checkpoint, and (possibly different) bucket
        count."""
        from myzql_binlog_connector_spark.plans.apply import MultiTableApplier
        from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable
        from myzql_binlog_connector_spark.streaming.replica import replicate
        from tests.test_multitable import (
            _events_df_from_writer, _two_table_stream,
        )
        from myzql_binlog_connector_spark.functions.decode import decode_changes

        env = decode_changes(_events_df_from_writer(spark, [_two_table_stream()]))
        mt = MultiTableApplier(
            spark,
            str(tmp_path / "lake"),
            table_specs={
                ("chat", "transcripts"): {
                    "column_names": ["conv_id", "turn_idx", "role", "text", "tool", "ts"],
                    "key_positions": (0, 1),
                    "n_buckets": 4,
                },
                ("app", "users"): {
                    "column_names": ["user_id", "name"],
                    "key_positions": (0,),
                    "n_buckets": 4,
                },
            },
        )
        mt.apply_batch(env, batch_id=0)
        for i, (db, tbl) in enumerate([("chat", "transcripts"), ("app", "users")]):
            src = mt.table_for(db, tbl)
            dst = BucketedLakeTable(
                spark, str(tmp_path / "replica" / db / tbl),
                src.key_cols, n_buckets=8,
            )
            q = replicate(
                spark, src.path, dst, str(tmp_path / f"ck{i}"),
                bootstrap_from=src,
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
            a = sorted(map(tuple, src.read().collect()))
            b = sorted(map(tuple, dst.read().collect()))
            assert a == b and a, (db, tbl)
