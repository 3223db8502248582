"""Scale-safety tests for BucketedLakeTable's merge-on-read layout:
O(batch) write amplification, bounded per-bucket file counts (fold), and
incremental compaction that only touches selected buckets."""

from __future__ import annotations

import os
import tempfile

import pytest


def _mk_changes(spark, rows):
    """rows: list of (conv_id, turn_idx, text, gtid, deleted)."""
    data = [
        (c, t, x, bool(d), g, g, 1)
        for (c, t, x, g, d) in rows
    ]
    return spark.createDataFrame(
        data,
        "conv_id string, turn_idx bigint, text string, _deleted boolean, "
        "_gtid bigint, _event_seq bigint, _event_row_index bigint",
    )


@pytest.fixture()
def table(spark, tmp_path):
    from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable

    return BucketedLakeTable(
        spark, str(tmp_path / "t"), ["conv_id", "turn_idx"], n_buckets=8,
        max_files_per_bucket=3,
    )


def _tiered(spark, tmp_path, **kw):
    """A 4-bucket table bucketed by ``conv_id`` (every ``("k", i)`` row
    lands in one bucket) whose first commit gives that bucket a base: 300
    rows of incompressible text, which one-row deltas do not outweigh."""
    import hashlib

    from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable

    t = BucketedLakeTable(
        spark, str(tmp_path / "tiered"), ["conv_id", "turn_idx"], n_buckets=4,
        max_files_per_bucket=3, bucket_cols=["conv_id"], **kw,
    )
    rows = [("k", i, hashlib.sha256(b"%d" % i).hexdigest() * 2, 1, False) for i in range(300)]
    b = str(t.merge(_mk_changes(spark, rows), batch_id=0)["dirty_buckets"][0])
    return t, b


def _file_rows(path):
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pylist()


class TestMergeOnRead:
    def test_single_key_batch_touches_one_bucket(self, spark, table):
        base = _mk_changes(
            spark, [(f"c{i}", 0, f"v{i}", 1, False) for i in range(100)]
        )
        table.merge(base, batch_id=0)
        m0 = table.snapshot_manifest()
        before_files = {b: list(fl) for b, fl in m0["files"].items()}

        rec = table.merge(
            _mk_changes(spark, [("c1", 0, "v1b", 2, False)]), batch_id=1
        )
        assert len(rec["dirty_buckets"]) == 1
        dirty = str(rec["dirty_buckets"][0])
        m1 = table.snapshot_manifest()
        # every other bucket's file list is byte-identical (carried by ref)
        for b, fl in m1["files"].items():
            if b == dirty:
                assert fl[: len(before_files[b])] == before_files[b]
                assert len(fl) == len(before_files[b]) + 1  # one delta appended
            else:
                assert fl == before_files.get(b, [])
        # and the write was O(batch): exactly the new delta file(s)
        assert rec["files_written"] == 1

    def test_lww_resolves_across_delta_files(self, spark, table):
        table.merge(_mk_changes(spark, [("k", 0, "v1", 1, False)]), batch_id=0)
        table.merge(_mk_changes(spark, [("k", 0, "v2", 2, False)]), batch_id=1)
        table.merge(_mk_changes(spark, [("k", 0, "v3", 3, False)]), batch_id=2)
        rows = table.read().collect()
        assert [(r.conv_id, r.text) for r in rows] == [("k", "v3")]

    def test_tombstone_across_files(self, spark, table):
        table.merge(_mk_changes(spark, [("k", 0, "v1", 1, False)]), batch_id=0)
        table.merge(_mk_changes(spark, [("k", 0, None, 2, True)]), batch_id=1)
        assert table.read().count() == 0
        # redelivered older insert cannot resurrect (tombstone outranks)
        table.merge(_mk_changes(spark, [("k", 0, "v1", 1, False)]), batch_id=2)
        assert table.read().count() == 0

    def test_fold_bounds_file_count(self, spark, table):
        for g in range(1, 7):
            table.merge(
                _mk_changes(spark, [("k", 0, f"v{g}", g, False)]), batch_id=g
            )
        m = table.snapshot_manifest()
        for fl in m["files"].values():
            assert len(fl) <= table.max_files_per_bucket
        rows = table.read().collect()
        assert [(r.conv_id, r.text) for r in rows] == [("k", "v6")]
        # at least one fold happened along the way
        assert any(r.get("buckets_folded") for r in m["lineage"])

    def test_fold_leaves_a_big_base_in_place(self, spark, tmp_path):
        """Over the cap, a bucket with a base folds only its deltas: the
        base keeps its path and its place, the fold file holds the deltas'
        LWW rows alone, and the commit counts the files it wrote, not the
        base it carried."""
        t, b = _tiered(spark, tmp_path)
        base = t.snapshot_manifest()["files"][b]
        for g in range(2, 5):  # three deltas: the cap, not over it
            rec = t.merge(_mk_changes(spark, [("k", g, f"v{g}", g, False)]), batch_id=g)
            assert rec["buckets_folded"] == []
        rec = t.merge(_mk_changes(spark, [("k", 2, None, 5, True)]), batch_id=5)
        assert rec["buckets_folded"] == [int(b)]
        assert rec["buckets_rebased"] == []
        files = t.snapshot_manifest()["files"][b]
        assert files[:1] == base and len(files) == 2
        fold = _file_rows(files[1])
        assert sorted((r["turn_idx"], r["text"], r["_deleted"]) for r in fold) == [
            (2, None, True), (3, "v3", False), (4, "v4", False),
        ]
        assert rec["files_written"] == len(rec["delta_files"]) + 1
        assert rec["bytes_written"] == sum(
            os.path.getsize(p) for p in rec["delta_files"] + files[1:]
        )
        got = {(r.turn_idx, r.text) for r in t.read().collect()}
        assert len(got) == 299 and (2, "v2") not in got and (3, "v3") in got

    def test_tombstone_over_a_base_survives_a_delta_fold(self, spark, tmp_path):
        """A key whose live row sits in the base and whose tombstone sits
        in a delta stays deleted after the deltas fold (the fold keeps the
        tombstone), and a redelivered older insert does not revive it."""
        t, b = _tiered(spark, tmp_path)
        t.merge(_mk_changes(spark, [("k", 7, None, 2, True)]), batch_id=1)
        for g in range(3, 6):
            rec = t.merge(_mk_changes(spark, [("k", g, f"w{g}", g, False)]), batch_id=g)
        assert rec["buckets_folded"] == [int(b)] and rec["buckets_rebased"] == []
        files = t.snapshot_manifest()["files"][b]
        assert any(r["turn_idx"] == 7 and r["_deleted"] for r in _file_rows(files[1]))
        key = {"conv_id": "k", "turn_idx": 7}
        assert t.read(keys=key).count() == 0
        t.merge(_mk_changes(spark, [("k", 7, "old", 1, False)]), batch_id=9)
        assert t.read(keys=key).count() == 0
        assert 7 not in {r.turn_idx for r in t.read().collect()}

    def test_fold_rebases_once_deltas_reach_half_the_base(self, spark, tmp_path):
        """Deltas that outgrow half the base end the tiering: the next
        fold rewrites the bucket whole, into one file."""
        import hashlib

        from myzql_binlog_connector_spark.plans.lake import BASE_FRAC

        t, b = _tiered(spark, tmp_path)
        base = t.snapshot_manifest()["files"][b][0]
        g, rec, deltas = 1, {"buckets_folded": []}, 0
        while not rec["buckets_folded"]:
            g += 1
            rows = [
                ("k", i, hashlib.sha256(b"%d-%d" % (g, i)).hexdigest() * 2, g, False)
                for i in range(1000 * g, 1000 * g + 60)
            ]
            rec = t.merge(_mk_changes(spark, rows), batch_id=g)
            deltas += sum(os.path.getsize(p) for p in rec["delta_files"])
        assert deltas >= BASE_FRAC * os.path.getsize(base)
        assert rec["buckets_folded"] == rec["buckets_rebased"] == [int(b)]
        files = t.snapshot_manifest()["files"][b]
        assert len(files) == 1 and files[0] != base
        assert t.read().count() == 300 + 60 * (g - 1)


class TestIncrementalCompaction:
    def test_compaction_touches_only_listed_buckets(self, spark, table):
        table.merge(
            _mk_changes(spark, [(f"c{i}", 0, f"v{i}", 1, False) for i in range(60)]),
            batch_id=0,
        )
        table.merge(
            _mk_changes(spark, [(f"c{i}", 0, f"w{i}", 2, False) for i in range(60)]),
            batch_id=1,
        )
        m0 = table.snapshot_manifest()
        all_buckets = [int(b) for b, fl in m0["files"].items() if fl]
        target = all_buckets[0]
        others = {str(b): list(m0["files"][str(b)]) for b in all_buckets[1:]}

        rec = table.compact(buckets=[target])
        assert rec["compacted_buckets"] == [target]
        m1 = table.snapshot_manifest()
        assert len(m1["files"][str(target)]) == 1
        for b, fl in others.items():
            assert m1["files"][b] == fl  # untouched, carried by reference
        assert table.read().count() == 60

    def test_auto_selection_skips_folded_buckets(self, spark, table):
        table.merge(
            _mk_changes(spark, [(f"c{i}", 0, f"v{i}", 1, False) for i in range(60)]),
            batch_id=0,
        )
        table.compact()  # folds everything (single-file small buckets)
        m0 = table.snapshot_manifest()
        rec = table.compact(small_file_bytes=0)  # nothing multi-file or small
        assert rec["compacted_buckets"] == []
        assert table.snapshot_manifest()["version"] == m0["version"]

    def test_tombstone_gc(self, spark, table):
        table.merge(_mk_changes(spark, [("a", 0, "v", 1, False)]), batch_id=0)
        table.merge(_mk_changes(spark, [("a", 0, None, 2, True)]), batch_id=1)
        table.compact(drop_tombstones_below=(3,))
        assert table.read(include_tombstones=True).count() == 0

    def test_inline_fold_writes_what_compact_writes(self, spark, table, tmp_path):
        """The merge's inline fold and compact(buckets=[b]) are one
        rewrite: over the same files a bucket folds to the same LWW rows,
        tombstones included."""
        import shutil
        from collections import Counter

        import pyarrow.parquet as pq

        from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable

        for g in range(3):
            table.merge(
                _mk_changes(
                    spark,
                    [(f"c{i}", 0, f"v{g}-{i}", g + 1, i % 3 == g) for i in range(24)],
                ),
                batch_id=g,
            )
        copy = str(tmp_path / "copy")
        shutil.copytree(table.path, copy)  # the table before the fold
        last = [(f"c{i}", i % 2, f"v3-{i}", 4, i % 5 == 0) for i in range(24)]
        folded = table.merge(_mk_changes(spark, last), batch_id=3)["buckets_folded"]
        assert folded
        other = BucketedLakeTable(
            spark, copy, ["conv_id", "turn_idx"], n_buckets=8,
            max_files_per_bucket=3, auto_fold=False,
        )
        assert other.merge(_mk_changes(spark, last), batch_id=3)["buckets_folded"] == []

        def rows(t, b):
            files = t.snapshot_manifest()["files"][str(b)]
            return Counter(
                tuple(r.values()) for p in files for r in pq.read_table(p).to_pylist()
            )

        tombstones = 0
        for b in folded:
            other.compact(buckets=[b])
            mine = rows(table, b)
            assert mine == rows(other, b)
            tombstones += sum(n for r, n in mine.items() if r[3])  # _deleted
        assert tombstones


# ---------------------------------------------------------------------------
# round-1 maintenance coverage (tombstone GC, lineage, watermarks, metrics)
# ---------------------------------------------------------------------------

from pyspark.sql import functions as F  # noqa: E402


@pytest.fixture()
def table20(spark, tmp_path):
    from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable

    t = BucketedLakeTable(spark, str(tmp_path / "t20"), ["k"], n_buckets=4)
    df = spark.createDataFrame(
        [(i, f"v{i}", i % 2 == 0, i, 0, 1) for i in range(20)],
        "k bigint, val string, _deleted boolean, _gtid bigint, _event_seq bigint, _event_row_index bigint",
    )
    t.merge(df, batch_id=0)
    return t


def _chg(spark, rows):
    return spark.createDataFrame(
        rows,
        "k bigint, val string, _deleted boolean, _gtid bigint, _event_seq bigint, _event_row_index bigint",
    )


class TestMaintenance:
    def test_tombstones_retained_then_gced(self, spark, table20):
        assert table20.read().count() == 10  # odd keys only
        assert table20.read(include_tombstones=True, include_meta=True).count() == 20
        table20.compact(drop_tombstones_below=(100,))
        after = table20.read(include_tombstones=True, include_meta=True)
        assert after.filter(~F.col("_deleted")).count() == 10
        assert after.filter(F.col("_deleted")).count() == 0

    def test_compaction_preserves_state_and_bumps_version(self, spark, table20):
        before = {(r.k, r.val) for r in table20.read().collect()}
        v0 = table20.snapshot_manifest()["version"]
        table20.compact()
        assert table20.snapshot_manifest()["version"] == v0 + 1
        assert {(r.k, r.val) for r in table20.read().collect()} == before

    def test_lineage_records_commits(self, spark, table20):
        lin = table20.lineage()
        assert lin and lin[-1]["version"] == table20.snapshot_manifest()["version"]
        assert "bytes_written" in lin[-1] and lin[-1]["input_rows"] == 20

    def test_watermark_roundtrip(self, spark, table20):
        table20.set_watermarks({"1": {"log_pos": 500, "event_row_index": 3, "gtid": 42}})
        assert table20.watermarks()["1"]["log_pos"] == 500
        # a row at binlog position (file 2, log_pos 9) advances file 2's
        # watermark in its own commit and leaves file 1's as it was
        table20.merge(
            _chg(spark, [(100, "x", False, 50, 0, 1)])
            .withColumn("_file_seq", F.lit(2))
            .withColumn("_log_pos", F.lit(9).cast("bigint")),
            batch_id=1,
        )
        wms = table20.watermarks()
        assert wms["1"]["log_pos"] == 500 and wms["2"]["gtid"] == 50
        assert wms["2"] == {"log_pos": 9, "event_row_index": 1, "gtid": 50}

    def test_metrics_table(self, spark, table20):
        table20.merge(_chg(spark, [(50, "y", False, 200, 0, 1)]), batch_id=7)
        rows = {r["version"]: r for r in table20.metrics().collect()}
        assert len(rows) >= 2
        latest = rows[max(rows)]
        assert latest["batch_id"] == 7
        assert latest["input_rows"] == 1
        assert latest["wall_ms"] > 0

    def test_merge_only_touches_dirty_buckets(self, spark, table20):
        files_before = dict(table20.snapshot_manifest()["files"])
        rec = table20.merge(_chg(spark, [(1, "updated", False, 1000, 0, 1)]), batch_id=2)
        assert len(rec["dirty_buckets"]) == 1
        files_after = table20.snapshot_manifest()["files"]
        dirty = str(rec["dirty_buckets"][0])
        for b, paths in files_before.items():
            if b != dirty:
                assert files_after[b] == paths
        assert files_after[dirty] != files_before.get(dirty)
        got = {r.k: r.val for r in table20.read().collect()}
        assert got[1] == "updated"


class TestChangeFeed:
    def test_read_changes_versions(self, spark, table):
        table.merge(_mk_changes(spark, [("a", 0, "v1", 1, False),
                                        ("b", 0, "w1", 1, False)]), batch_id=0)
        table.merge(_mk_changes(spark, [("a", 0, "v2", 2, False)]), batch_id=1)
        table.merge(_mk_changes(spark, [("b", 0, None, 3, True)]), batch_id=2)

        feed = table.read_changes(2, 3).collect()
        got = {(r.conv_id, r._commit_version): (r.text, r._deleted) for r in feed}
        assert got == {("a", 2): ("v2", False), ("b", 3): (None, True)}

        all_feed = table.read_changes()
        assert all_feed.count() == 4  # 2 + 1 + 1 batch-reduced change rows

    def test_feed_survives_compaction(self, spark, table):
        table.merge(_mk_changes(spark, [("a", 0, "v1", 1, False)]), batch_id=0)
        table.merge(_mk_changes(spark, [("a", 0, "v2", 2, False)]), batch_id=1)
        table.compact()
        feed = table.read_changes(1, 2)
        assert {(r._commit_version, r.text) for r in feed.collect()} == {
            (1, "v1"), (2, "v2")
        }

    def test_batch_internal_reduction(self, spark, table):
        # two changes to one key in a single batch -> one feed row (the LWW)
        table.merge(_mk_changes(spark, [("a", 0, "v1", 1, False),
                                        ("a", 0, "v2", 2, False)]), batch_id=0)
        feed = table.read_changes().collect()
        assert [(r.text, r._commit_version) for r in feed] == [("v2", 1)]


class TestFoldWithEvolution:
    def test_fold_preserves_evolved_columns(self, spark, tmp_path):
        """Folding a bucket whose delta files have heterogeneous physical
        schemas (column added mid-stream) must keep the evolved values."""
        from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable

        t = BucketedLakeTable(spark, str(tmp_path / "ev"), ["k"],
                              n_buckets=2, max_files_per_bucket=2)
        base = "k bigint, val string, _deleted boolean, _gtid bigint, _event_seq bigint, _event_row_index bigint"
        wide = base + ", score double"
        t.merge(spark.createDataFrame([(1, "a", False, 1, 0, 1)], base), batch_id=0)
        t.merge(spark.createDataFrame([(1, "b", False, 2, 0, 1, 0.5)], wide), batch_id=1)
        # third merge pushes the bucket over max_files_per_bucket -> fold
        t.merge(spark.createDataFrame([(1, "c", False, 3, 0, 1, 0.9)], wide), batch_id=2)
        m = t.snapshot_manifest()
        assert any(r.get("buckets_folded") for r in m["lineage"])
        rows = t.read().collect()
        assert [(r.k, r.val, r.score) for r in rows] == [(1, "c", 0.9)]


class TestTimeTravel:
    def test_read_at_version_returns_past_snapshot(self, spark, tmp_path):
        from myzql_binlog_connector_spark.functions.decode import decode_changes
        from myzql_binlog_connector_spark.genlog import (
            encode_stream,
            generate_ops,
            replay_truth,
        )
        from myzql_binlog_connector_spark.genlog import write_segments_parquet
        from myzql_binlog_connector_spark.plans.apply import TranscriptsApplier
        from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable

        ops = generate_ops(seed=61, n_convs=30, update_frac=0.3, delete_frac=0.2)
        n_ins = sum(1 for o in ops if o.kind == "INSERT")
        s1 = encode_stream(ops[:n_ins], n_segments=1, seed=61)
        s2 = encode_stream(ops[n_ins:], n_segments=1, seed=61)
        seg1, seg2 = str(tmp_path / "s1"), str(tmp_path / "s2")
        write_segments_parquet(s1, seg1)
        write_segments_parquet(s2, seg2)

        table = BucketedLakeTable(spark, str(tmp_path / "t"), ["conv_id", "turn_idx"], n_buckets=4)
        app = TranscriptsApplier(spark, table)
        app.apply_batch(decode_changes(spark.read.parquet(seg1)), batch_id=0)
        v1 = table.snapshot_manifest()["version"]
        # second commit must not collide with the first batch's stamps
        env2 = decode_changes(spark.read.parquet(seg2))
        from pyspark.sql import functions as F

        # the second encode_stream restarts its stamps at 1 — shift them
        # past batch 1's so LWW ordering reflects true arrival order
        env2 = (
            env2.withColumn("file_seq", F.col("file_seq") + 1)
            .withColumn("gtid", F.col("gtid") + 1_000_000)
            .withColumn("event_seq", F.col("event_seq") + 1_000_000)
        )
        app.apply_batch(env2, batch_id=1)

        past = {(r.conv_id, r.turn_idx): r.text
                for r in table.read(at_version=v1).collect()}
        want_past = {k: v[3] for k, v in replay_truth(ops[:n_ins]).items()}
        assert past == want_past
        final = {(r.conv_id, r.turn_idx): r.text for r in table.read().collect()}
        assert final == {k: v[3] for k, v in replay_truth(ops).items()}
        assert v1 in table.versions()

    def test_unknown_version_raises_with_available_list(self, spark, tmp_path):
        import pytest as _pytest

        from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable
        from myzql_binlog_connector_spark.functions.decode import decode_changes
        from myzql_binlog_connector_spark.genlog import generate_stream, write_segments_parquet
        from myzql_binlog_connector_spark.plans.apply import TranscriptsApplier

        stream = generate_stream(seed=62, n_convs=5, n_segments=1)
        seg = str(tmp_path / "seg")
        write_segments_parquet(stream, seg)
        table = BucketedLakeTable(spark, str(tmp_path / "t"), ["conv_id", "turn_idx"], n_buckets=2)
        TranscriptsApplier(spark, table).apply_batch(
            decode_changes(spark.read.parquet(seg)), batch_id=0
        )
        with _pytest.raises(ValueError, match="available"):
            table.read(at_version=999)


class TestVacuum:
    def _three_commits(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from myzql_binlog_connector_spark.functions.decode import decode_changes
        from myzql_binlog_connector_spark.genlog import (
            encode_stream,
            generate_ops,
            replay_truth,
            write_segments_parquet,
        )
        from myzql_binlog_connector_spark.plans.apply import TranscriptsApplier
        from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable

        ops = generate_ops(seed=71, n_convs=30, update_frac=0.3, delete_frac=0.2)
        n_ins = sum(1 for o in ops if o.kind == "INSERT")
        cut = n_ins + (len(ops) - n_ins) // 2
        table = BucketedLakeTable(
            spark, str(tmp_path / "t"), ["conv_id", "turn_idx"], n_buckets=4
        )
        app = TranscriptsApplier(spark, table)
        for i, (lo, hi) in enumerate([(0, n_ins), (n_ins, cut), (cut, len(ops))]):
            seg = str(tmp_path / f"s{i}")
            write_segments_parquet(encode_stream(ops[lo:hi], n_segments=1, seed=71), seg)
            env = (
                decode_changes(spark.read.parquet(seg))
                .withColumn("file_seq", F.col("file_seq") + i)
                .withColumn("gtid", F.col("gtid") + i * 1_000_000)
                .withColumn("event_seq", F.col("event_seq") + i * 1_000_000)
            )
            app.apply_batch(env, batch_id=i)
        return table, {k: v[3] for k, v in replay_truth(ops).items()}

    def test_vacuum_reclaims_and_bounds_time_travel(self, spark, tmp_path):
        import glob
        import pytest as _pytest

        table, truth = self._three_commits(spark, tmp_path)
        # merge-on-read keeps every delta file live in the latest manifest
        # until a fold/compaction supersedes it — nothing to reclaim yet
        assert table.vacuum(retain_last=len(table.versions()), orphan_grace_s=0)["removed_files"] == 0
        table.compact()  # rewrites buckets; old delta files leave files{}
        versions = table.versions()
        assert len(versions) == 4
        n_files_before = len(
            glob.glob(str(tmp_path / "t" / "data" / "**" / "*.parquet"), recursive=True)
        )
        stats = table.vacuum(retain_last=1, orphan_grace_s=0)
        assert stats["removed_manifests"] == 3
        assert stats["removed_files"] >= 1
        n_files_after = len(
            glob.glob(str(tmp_path / "t" / "data" / "**" / "*.parquet"), recursive=True)
        )
        assert n_files_after < n_files_before
        # the live snapshot is intact
        got = {(r.conv_id, r.turn_idx): r.text for r in table.read().collect()}
        assert got == truth
        # vacuumed versions are gone, retained one still reads
        with _pytest.raises(ValueError, match="available"):
            table.read(at_version=versions[0])
        assert table.read(at_version=versions[-1]).count() == len(truth)

    def test_vacuum_keeps_retained_change_feed(self, spark, tmp_path):
        table, _ = self._three_commits(spark, tmp_path)
        stats = table.vacuum(retain_last=2, orphan_grace_s=0)
        keep = stats["retained_versions"]
        feed = table.read_changes(from_version=keep[0])
        versions_in_feed = {r._commit_version for r in feed.select("_commit_version").collect()}
        assert versions_in_feed == set(keep)
        assert feed.count() > 0

    def test_read_changes_below_retention_raises(self, spark, tmp_path):
        """ADVICE r4: resuming a change feed from a version vacuum has
        expired must FAIL LOUD (RetentionOverrunError) — a silently-gapped
        feed corrupts every downstream incremental consumer, which is why
        Delta CDF / Iceberg changelog raise here too."""
        import pytest as _pytest

        from myzql_binlog_connector_spark.plans.lake import RetentionOverrunError

        table, truth = self._three_commits(spark, tmp_path)
        table.compact()  # supersedes the delta files in files{}
        table.vacuum(retain_last=1, orphan_grace_s=0)  # deletes commits 1-3's delta files
        floor = min(table.versions())
        with _pytest.raises(RetentionOverrunError, match="precedes the oldest"):
            table.read_changes()  # default from_version=1 < floor

    def test_read_changes_below_retention_allow_gaps_floors(self, spark, tmp_path):
        """The explicit escape hatch: allow_gaps=True floors at the oldest
        retained version instead of planning deleted paths (ADVICE r3) —
        and never raises missing-file errors mid-read."""
        table, truth = self._three_commits(spark, tmp_path)
        table.compact()
        table.vacuum(retain_last=1, orphan_grace_s=0)
        floor = min(table.versions())
        rows = table.read_changes(allow_gaps=True).collect()
        assert all(r._commit_version >= floor for r in rows)
        # the live snapshot is unaffected
        got = {(r.conv_id, r.turn_idx): r.text for r in table.read().collect()}
        assert got == truth


class TestConcurrentWriterGuard:
    """Round-5 directive: the single-writer contract is ENFORCED, not just
    documented — two racing commits to the same version must resolve as one
    winner and one clean ConcurrentWriteError, never silently interleaved
    LATEST swaps."""

    def test_interleaved_merges_one_wins_one_raises(self, spark, tmp_path):
        import pytest as _pytest

        from myzql_binlog_connector_spark.plans.lake import (
            BucketedLakeTable,
            ConcurrentWriteError,
        )

        path = str(tmp_path / "t")
        t1 = BucketedLakeTable(spark, path, ["conv_id", "turn_idx"], n_buckets=4)
        t1.merge(_mk_changes(spark, [("c1", 0, "base", 1, False)]), batch_id=0)

        t2 = BucketedLakeTable(spark, path, ["conv_id", "turn_idx"], n_buckets=4)

        # interleave: while t2's merge is between data-write and commit,
        # t1 lands a full merge for the same next version
        orig_commit = BucketedLakeTable._commit
        fired = {}

        def hijacked(self_t, manifest):
            if self_t is t2 and not fired:
                fired["x"] = True
                t1.merge(
                    _mk_changes(spark, [("c1", 0, "winner", 5, False)]),
                    batch_id=1,
                )
            orig_commit(self_t, manifest)

        t2._commit = hijacked.__get__(t2)
        with _pytest.raises(ConcurrentWriteError, match="already committed"):
            t2.merge(_mk_changes(spark, [("c1", 0, "loser", 4, False)]), batch_id=1)

        # state is exactly the winner's commit, LATEST is consistent
        t3 = BucketedLakeTable(spark, path, ["conv_id", "turn_idx"], n_buckets=4)
        rows = {(r.conv_id, r.turn_idx): r.text for r in t3.read().collect()}
        assert rows == {("c1", 0): "winner"}
        assert max(t3.versions()) == int(
            open(f"{path}/_manifests/LATEST").read().strip()
        )

    def test_loser_data_write_after_winner_commit(self, spark, tmp_path):
        """The hostile ordering (round-6 ADVICE): the loser reads a stale
        manifest, the winner fully merges AND commits version N, and only
        then does the loser write its data for the same version N.  With a
        shared data/vN dir the loser's mode("overwrite") would delete the
        winner's committed parquet files before the CAS even fires; with
        writer-unique dirs the winner's files must survive intact."""
        import pytest as _pytest

        from myzql_binlog_connector_spark.plans.lake import (
            BucketedLakeTable,
            ConcurrentWriteError,
        )

        path = str(tmp_path / "t")
        t1 = BucketedLakeTable(spark, path, ["conv_id", "turn_idx"], n_buckets=4)
        t1.merge(_mk_changes(spark, [("c1", 0, "base", 1, False)]), batch_id=0)

        t2 = BucketedLakeTable(spark, path, ["conv_id", "turn_idx"], n_buckets=4)
        orig_read = BucketedLakeTable._read_manifest
        fired = {}

        def stale_read(self_t, version=None):
            m = orig_read(self_t, version)
            if self_t is t2 and version is None and not fired:
                fired["x"] = True
                # winner lands its whole merge (data write + commit) while
                # the loser still holds the stale manifest
                t1.merge(
                    _mk_changes(spark, [("c1", 0, "winner", 5, False)]),
                    batch_id=1,
                )
            return m

        t2._read_manifest = stale_read.__get__(t2)
        with _pytest.raises(ConcurrentWriteError):
            t2.merge(_mk_changes(spark, [("c1", 0, "loser", 4, False)]), batch_id=1)

        # every file the winner's manifest references must still exist —
        # the loser's data write must not have clobbered them
        t3 = BucketedLakeTable(spark, path, ["conv_id", "turn_idx"], n_buckets=4)
        m = t3._read_manifest()
        for fl in m["files"].values():
            for p in fl:
                assert os.path.exists(p), f"winner's committed file deleted: {p}"
        rows = {(r.conv_id, r.turn_idx): r.text for r in t3.read().collect()}
        assert rows == {("c1", 0): "winner"}
        # and vacuum reclaims the loser's orphaned dir
        t3.merge(_mk_changes(spark, [("c2", 0, "y", 1, False)]), batch_id=2)
        res = t3.vacuum(retain_last=10, orphan_grace_s=0)
        assert res["removed_files"] > 0  # the loser's orphans
        rows = {(r.conv_id, r.turn_idx): r.text for r in t3.read().collect()}
        assert rows == {("c1", 0): "winner", ("c2", 0): "y"}

    def test_commit_same_version_direct(self, spark, tmp_path):
        import pytest as _pytest

        from myzql_binlog_connector_spark.plans.lake import (
            BucketedLakeTable,
            ConcurrentWriteError,
        )

        t = BucketedLakeTable(
            spark, str(tmp_path / "t"), ["conv_id", "turn_idx"], n_buckets=4
        )
        t.merge(_mk_changes(spark, [("a", 0, "x", 1, False)]), batch_id=0)
        m = t._read_manifest()
        with _pytest.raises(ConcurrentWriteError):
            t._commit(m)  # same version again


class TestHotBucketSkew:
    """Round-5 directive: value skew that concentrates a batch in one
    bucket must not serialize into one giant write task — the hot bucket's
    write is salt-split across tasks (files still under one _bucket=b
    directory) and the hot set is recorded in lineage."""

    def test_hot_bucket_salt_split_and_lineage(self, spark, tmp_path):
        import os as _os

        from pyspark.sql import functions as F

        from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable

        n_buckets = 8
        # find keys that hash into one bucket (computed with the engine's
        # own bucket function, so the test can't drift from it)
        keys = spark.createDataFrame(
            [(i,) for i in range(4000)], "k bigint"
        ).withColumn("b", F.pmod(F.hash("k"), F.lit(n_buckets)))
        by_bucket: dict[int, list[int]] = {}
        for r in keys.collect():
            by_bucket.setdefault(r.b, []).append(r.k)
        hot_b = max(by_bucket, key=lambda b: len(by_bucket[b]))
        hot_keys = by_bucket[hot_b][:400]
        cold_keys = [ks[0] for b, ks in by_bucket.items() if b != hot_b]
        assert len(hot_keys) == 400 and len(cold_keys) >= 5

        rows = [(k, f"v{k}", False, 1, 0, 1) for k in hot_keys + cold_keys]
        df = spark.createDataFrame(
            rows,
            "k bigint, val string, _deleted boolean, _gtid bigint, "
            "_event_seq bigint, _event_row_index bigint",
        )
        t = BucketedLakeTable(
            spark, str(tmp_path / "t"), ["k"], n_buckets=n_buckets,
            hot_bucket_split_rows=100,  # tiny floor so 400 rows count as hot
        )
        rec = t.merge(df, batch_id=0)

        # lineage records the hot set with its pre-reduce row count
        assert rec["hot_buckets"] == {str(hot_b): 400}
        # the hot bucket's write fanned out over one task per salt group:
        # ceil(400 / 100) part files under its single directory; cold
        # buckets stay single-file
        files = t.snapshot_manifest()["files"]
        assert len(files[str(hot_b)]) == -(-400 // 100) == 4, files[str(hot_b)]
        for b, ks in by_bucket.items():
            if b != hot_b:
                assert len(files[str(b)]) <= 1
        # correctness unchanged: all keys present, LWW intact
        assert t.read().count() == len(rows)
        got = {r.k for r in t.read().select("k").collect()}
        assert got == set(hot_keys) | set(cold_keys)

    def test_no_false_hot_on_uniform_batch(self, spark, tmp_path):
        from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable

        df = _mk_changes(
            spark, [(f"c{i}", 0, f"v{i}", 1, False) for i in range(200)]
        )
        t = BucketedLakeTable(
            spark, str(tmp_path / "t"), ["conv_id", "turn_idx"], n_buckets=8,
            hot_bucket_split_rows=100,
        )
        rec = t.merge(df, batch_id=0)
        assert rec["hot_buckets"] == {}
        for fl in t.snapshot_manifest()["files"].values():
            assert len(fl) <= 1


class TestChangeFeedConsumerChain:
    """Round-6 directive: drive the change feed's intended consumer loop
    END TO END — a replica table kept in sync by incremental
    read_changes(from_version=...) applied batch-by-batch, interleaved
    with primary merges, a vacuum mid-stream that expires versions the
    lagging replica still needs, the resulting RetentionOverrunError, and
    the documented re-bootstrap recovery.  The content-level oracle
    (cdc_change_feed) checks WHAT the feed returns; this pins that a
    consumer following the API contract actually converges."""

    @staticmethod
    def _state(t):
        return {(r.conv_id, r.turn_idx): r.text for r in t.read().collect()}

    @staticmethod
    def _sync(primary, replica, next_version):
        """One consumer cycle: pull commits [next_version..head], apply
        each commit as its own merge (incremental, not one big union),
        return the next resume point."""
        from pyspark.sql import functions as F

        head = max(primary.versions())
        if next_version > head:
            return next_version
        feed = primary.read_changes(from_version=next_version)
        versions = sorted(
            r._commit_version
            for r in feed.select("_commit_version").distinct().collect()
        )
        for v in versions:
            replica.merge(
                feed.filter(F.col("_commit_version") == v).drop("_commit_version")
            )
        return head + 1

    def test_replica_converges_through_vacuum_and_recovery(self, spark, tmp_path):
        import pytest as _pytest

        from myzql_binlog_connector_spark.plans.lake import (
            BucketedLakeTable,
            RetentionOverrunError,
        )

        primary = BucketedLakeTable(
            spark, str(tmp_path / "primary"), ["conv_id", "turn_idx"], n_buckets=4
        )
        replica = BucketedLakeTable(
            spark, str(tmp_path / "replica"), ["conv_id", "turn_idx"], n_buckets=4
        )

        # phase 1: two primary commits, replica tails them incrementally
        primary.merge(_mk_changes(spark, [
            ("c1", 0, "a", 1, False), ("c2", 0, "b", 1, False)]), batch_id=0)
        primary.merge(_mk_changes(spark, [
            ("c1", 0, "a2", 2, False), ("c3", 0, "c", 2, False)]), batch_id=1)
        nxt = self._sync(primary, replica, 1)
        assert self._state(replica) == self._state(primary)

        # phase 2: more commits — updates, a delete, new keys — sync again
        primary.merge(_mk_changes(spark, [("c2", 0, None, 3, True)]), batch_id=2)
        primary.merge(_mk_changes(spark, [("c4", 0, "d", 4, False)]), batch_id=3)
        nxt = self._sync(primary, replica, nxt)
        assert self._state(replica) == self._state(primary)
        assert ("c2", 0) not in self._state(replica)  # tombstone propagated

        # phase 3: replica lags while the primary advances AND vacuums —
        # the retained window moves past the replica's resume point
        for g in range(5, 9):
            primary.merge(
                _mk_changes(spark, [(f"k{g}", 0, f"v{g}", g, False),
                                    ("c1", 0, f"a{g}", g, False)]),
                batch_id=g - 1,
            )
        primary.vacuum(retain_last=2, orphan_grace_s=0)
        with _pytest.raises(RetentionOverrunError):
            self._sync(primary, replica, nxt)

        # phase 4: documented recovery — re-bootstrap the replica from a
        # primary snapshot (meta cols carry the LWW order keys), resume
        # the feed AFTER the snapshot version
        replica2 = BucketedLakeTable(
            spark, str(tmp_path / "replica2"), ["conv_id", "turn_idx"], n_buckets=4
        )
        snap_version = max(primary.versions())
        replica2.merge(primary.read(include_meta=True))
        assert self._state(replica2) == self._state(primary)

        # phase 5: the rebuilt replica tails subsequent commits normally
        primary.merge(_mk_changes(spark, [
            ("c1", 0, "final", 20, False), ("k5", 0, None, 20, True)]),
            batch_id=20)
        self._sync(primary, replica2, snap_version + 1)
        assert self._state(replica2) == self._state(primary)
        assert self._state(replica2)[("c1", 0)] == "final"
        assert ("k5", 0) not in self._state(replica2)


class TestViralStreamE2E:
    """Round-6 directive #4 companion: the viral-conversation generator
    mode (40% of events on one conv_id) must (a) trigger the hot-bucket
    salt-split with the hot set visible in lineage and (b) still converge
    to the pure-Python LWW oracle — correctness under exactly the skew
    the guard exists for."""

    def test_viral_stream_matches_truth_with_hot_split(self, spark, tmp_path):
        from myzql_binlog_connector_spark.functions.decode import decode_changes
        from myzql_binlog_connector_spark.genlog import (
            encode_stream,
            generate_ops,
            write_segments_parquet,
        )
        from myzql_binlog_connector_spark.plans.apply import TranscriptsApplier
        from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable

        ops = generate_ops(seed=11, n_convs=300, viral_frac=0.4, viral_turns=4)
        stream = encode_stream(ops, n_segments=4, seed=11)
        write_segments_parquet(stream, str(tmp_path / "seg"))

        table = BucketedLakeTable(
            spark, str(tmp_path / "lake"), ["conv_id", "turn_idx"],
            n_buckets=32, hot_bucket_split_rows=64,  # low floor: force the split at test scale
        )
        env = decode_changes(spark.read.parquet(str(tmp_path / "seg")))
        TranscriptsApplier(spark, table).apply_batch(env, batch_id=0)

        got = {(r.conv_id, r.turn_idx): r.text for r in table.read().collect()}
        want = {k: v[3] for k, v in stream.truth.items()}
        assert got == want
        # the viral keys' buckets were recognized as hot and recorded
        rec = table.lineage()[-1]
        assert rec["hot_buckets"], "viral skew must surface in lineage"
        hot_rows = sum(rec["hot_buckets"].values())
        assert hot_rows >= 0.3 * len(ops)  # the storm dominates the hot set


class TestDeferredFold:
    """auto_fold=False moves the one O(bucket-history) merge step to an
    out-of-band compact(needs_fold()) pass (the Delta OPTIMIZE pattern,
    measured at ~8x a normal batch in the round-6 endurance run when every
    bucket crossed the threshold at once).  Reads must stay correct while
    deltas accumulate past the threshold."""

    def test_accumulate_then_maintenance_compact(self, spark, tmp_path):
        from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable

        t = BucketedLakeTable(
            spark, str(tmp_path / "t"), ["conv_id", "turn_idx"],
            n_buckets=2, max_files_per_bucket=3, auto_fold=False,
        )
        # 6 commits on the same key → 6 delta files in one bucket (> max 3)
        for g in range(1, 7):
            t.merge(_mk_changes(spark, [("k", 0, f"v{g}", g, False)]), batch_id=g)
        m = t._read_manifest()
        assert max(len(fl) for fl in m["files"].values()) == 6  # no inline fold
        assert {(r.conv_id, r.turn_idx, r.text) for r in t.read().collect()} == {
            ("k", 0, "v6")
        }  # LWW across 6 files still correct
        hot = t.needs_fold()
        assert len(hot) == 1
        t.compact(buckets=hot)
        m = t._read_manifest()
        assert max(len(fl) for fl in m["files"].values()) == 1
        assert t.needs_fold() == []
        assert {(r.conv_id, r.turn_idx, r.text) for r in t.read().collect()} == {
            ("k", 0, "v6")
        }
        # subsequent merges keep working on the folded layout
        t.merge(_mk_changes(spark, [("k", 0, "v7", 7, False)]), batch_id=7)
        assert {r.text for r in t.read().collect()} == {"v7"}

    def test_auto_fold_default_still_bounds(self, spark, tmp_path):
        from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable

        t = BucketedLakeTable(
            spark, str(tmp_path / "t"), ["conv_id", "turn_idx"],
            n_buckets=2, max_files_per_bucket=3,
        )
        for g in range(1, 7):
            t.merge(_mk_changes(spark, [("k", 0, f"v{g}", g, False)]), batch_id=g)
        m = t._read_manifest()
        assert max(len(fl) for fl in m["files"].values()) <= 4  # folds inline
        assert t.needs_fold() == []

    def test_needs_fold_counts_files_on_top_of_the_base(self, spark, tmp_path):
        """needs_fold() is the inline fold's count: a base plus
        ``max_files_per_bucket`` deltas is within bound, one more is not."""
        t, b = _tiered(spark, tmp_path, auto_fold=False)
        for g in range(2, 5):
            t.merge(_mk_changes(spark, [("k", g, f"v{g}", g, False)]), batch_id=g)
        assert len(t.snapshot_manifest()["files"][b]) == 4
        assert t.needs_fold() == []
        t.merge(_mk_changes(spark, [("k", 5, "v5", 5, False)]), batch_id=5)
        assert t.needs_fold() == [int(b)]


class TestCrashRecovery:
    """Commit-protocol crash sweep.  The ``os.link`` of ``v{N}.json`` is
    the commit point; the metrics append and ``LATEST`` swap after it are
    finished by roll-forward recovery (``_latest_committed``) on the next
    open.  Inject a crash into each gap of the sequence and assert: no
    committed batch is lost, no uncommitted batch appears, the restarted
    writer is never wedged by its own orphan (the spurious
    ``ConcurrentWriteError`` a pointer-only resolution would produce), and
    ``metrics.jsonl`` holds exactly one line per producing commit."""

    @staticmethod
    def _state(t):
        return {(r.conv_id, r.turn_idx): r.text for r in t.read().collect()}

    @staticmethod
    def _fresh(spark, path):
        from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable

        return BucketedLakeTable(
            spark, path, ["conv_id", "turn_idx"], n_buckets=4
        )

    @staticmethod
    def _metric_versions(path):
        import json as _json

        mpath = os.path.join(path, "_manifests", "metrics.jsonl")
        with open(mpath) as f:
            return [_json.loads(ln)["version"] for ln in f if ln.strip()]

    def test_crash_before_link_batch_never_committed(self, spark, tmp_path):
        """Crash before the manifest link: the batch is NOT committed —
        restart sees the prior state, and re-merging the same batch at the
        same version succeeds (no wedge from the orphan data dir)."""
        path = str(tmp_path / "t")
        t = self._fresh(spark, path)
        t.merge(_mk_changes(spark, [("a", 0, "v1", 1, False)]), batch_id=0)

        def crash(_manifest):
            raise RuntimeError("injected crash before commit")

        t._commit = crash
        with pytest.raises(RuntimeError, match="before commit"):
            t.merge(_mk_changes(spark, [("a", 1, "v2", 2, False)]), batch_id=1)

        t2 = self._fresh(spark, path)
        assert self._state(t2) == {("a", 0): "v1"}
        assert t2.snapshot_manifest()["version"] == 1
        # redelivery of the crashed batch lands at the version the crash
        # abandoned — no spurious ConcurrentWriteError
        t2.merge(_mk_changes(spark, [("a", 1, "v2", 2, False)]), batch_id=1)
        t2.merge(_mk_changes(spark, [("a", 2, "v3", 3, False)]), batch_id=2)
        assert self._state(t2) == {("a", 0): "v1", ("a", 1): "v2", ("a", 2): "v3"}
        assert self._metric_versions(path) == [1, 2, 3]

    def test_crash_after_link_before_metrics(self, spark, tmp_path, monkeypatch):
        """Crash after the commit link but before the metrics append and
        LATEST swap: the batch IS committed — recovery must surface it
        (state, watermarks AND the lost metrics line), and the restarted
        writer continues at the next version instead of wedging."""
        import myzql_binlog_connector_spark.plans.lake as lake_mod

        path = str(tmp_path / "t")
        t = self._fresh(spark, path)
        t.merge(_mk_changes(spark, [("a", 0, "v1", 1, False)]), batch_id=0)

        real_link = os.link
        armed = {"on": True}

        def link_then_crash(src, dst, **kw):
            real_link(src, dst, **kw)
            if armed["on"]:
                armed["on"] = False
                raise RuntimeError("injected crash after link")

        monkeypatch.setattr(lake_mod.os, "link", link_then_crash)
        with pytest.raises(RuntimeError, match="after link"):
            t.merge(
                _mk_changes(spark, [("a", 1, "v2", 2, False)])
                .withColumn("_file_seq", F.lit(7))
                .withColumn("_log_pos", F.lit(42).cast("bigint")),
                batch_id=1,
            )
        # the crash left v2.json committed but LATEST still at 1 and no
        # metrics line for v2
        with open(os.path.join(path, "_manifests", "LATEST")) as f:
            assert int(f.read().strip()) == 1
        assert self._metric_versions(path) == [1]

        t2 = self._fresh(spark, path)
        assert self._state(t2) == {("a", 0): "v1", ("a", 1): "v2"}
        # the committed watermark is visible — an applier-level redelivery
        # of batch 1 would be watermark-filtered (exactly-once holds)
        assert t2.watermarks().get("7", {}).get("log_pos") == 42
        # recovery re-appended the lost metrics line, exactly once
        assert self._metric_versions(path) == [1, 2]
        t2.merge(_mk_changes(spark, [("a", 2, "v3", 3, False)]), batch_id=2)
        assert self._state(t2) == {("a", 0): "v1", ("a", 1): "v2", ("a", 2): "v3"}
        assert self._metric_versions(path) == [1, 2, 3]
        assert t2.snapshot_manifest()["version"] == 3

    def test_crash_after_metrics_before_latest_swap(self, spark, tmp_path, monkeypatch):
        """Crash between the metrics append and the LATEST swap: recovery
        finishes the swap and must NOT duplicate the already-appended
        metrics line."""
        import myzql_binlog_connector_spark.plans.lake as lake_mod

        path = str(tmp_path / "t")
        t = self._fresh(spark, path)
        t.merge(_mk_changes(spark, [("a", 0, "v1", 1, False)]), batch_id=0)

        real_replace = os.replace
        armed = {"on": True}

        def replace_crash(src, dst):
            if armed["on"] and os.path.basename(dst) == "LATEST":
                armed["on"] = False
                raise RuntimeError("injected crash before LATEST swap")
            real_replace(src, dst)

        monkeypatch.setattr(lake_mod.os, "replace", replace_crash)
        with pytest.raises(RuntimeError, match="LATEST swap"):
            t.merge(_mk_changes(spark, [("a", 1, "v2", 2, False)]), batch_id=1)
        assert self._metric_versions(path) == [1, 2]  # append landed

        t2 = self._fresh(spark, path)
        assert self._state(t2) == {("a", 0): "v1", ("a", 1): "v2"}
        assert self._metric_versions(path) == [1, 2]  # no duplicate
        t2.merge(_mk_changes(spark, [("a", 2, "v3", 3, False)]), batch_id=2)
        assert self._metric_versions(path) == [1, 2, 3]

    def test_crash_before_first_latest_write(self, spark, tmp_path, monkeypatch):
        """First-ever commit crashes between link and swap: no LATEST file
        exists at all, but v1.json is committed — exists() must report the
        table and recovery must finish the pointer."""
        import myzql_binlog_connector_spark.plans.lake as lake_mod

        path = str(tmp_path / "t")
        t = self._fresh(spark, path)
        real_replace = os.replace
        armed = {"on": True}

        def replace_crash(src, dst):
            if armed["on"] and os.path.basename(dst) == "LATEST":
                armed["on"] = False
                raise RuntimeError("injected crash")
            real_replace(src, dst)

        monkeypatch.setattr(lake_mod.os, "replace", replace_crash)
        with pytest.raises(RuntimeError, match="injected"):
            t.merge(_mk_changes(spark, [("a", 0, "v1", 1, False)]), batch_id=0)
        assert not os.path.exists(os.path.join(path, "_manifests", "LATEST"))

        t2 = self._fresh(spark, path)
        assert t2.exists()
        assert self._state(t2) == {("a", 0): "v1"}
        t2.merge(_mk_changes(spark, [("a", 1, "v2", 2, False)]), batch_id=1)
        assert self._state(t2) == {("a", 0): "v1", ("a", 1): "v2"}

    def test_watermark_only_commit_does_not_duplicate_metrics(self, spark, tmp_path):
        """set_watermarks commits with the previous lineage tail unchanged
        — the version-guarded append must not re-log the prior batch."""
        path = str(tmp_path / "t")
        t = self._fresh(spark, path)
        t.merge(_mk_changes(spark, [("a", 0, "v1", 1, False)]), batch_id=0)
        t.set_watermarks({"1": 10})
        t.set_watermarks({"1": 20})
        assert self._metric_versions(path) == [1]
        assert t.watermarks()["1"] == 20

    def test_concurrent_append_same_version_writes_once(self, spark, tmp_path):
        """A crash-recovery reader's _publish racing the committing
        writer (same version) must not double-log the lineage row — the
        tail-check + append is serialized under an advisory lock
        (round-6 ADVICE).  Threads hammer the append; exactly one line
        per version may survive."""
        import json as _json
        import os as _os
        import threading

        path = str(tmp_path / "t")
        t = self._fresh(spark, path)
        t.merge(_mk_changes(spark, [("a", 0, "v1", 1, False)]), batch_id=0)
        rec = {"version": 99, "rows": 1}
        barrier = threading.Barrier(8)

        def hammer():
            barrier.wait()
            for _ in range(50):
                t._append_metrics(rec)

        threads = [threading.Thread(target=hammer) for _ in range(8)]
        [th.start() for th in threads]
        [th.join() for th in threads]
        mpath = _os.path.join(path, "_manifests", "metrics.jsonl")
        with open(mpath) as f:
            versions = [_json.loads(ln)["version"] for ln in f if ln.strip()]
        assert versions.count(99) == 1, versions


class TestRebucket:
    """Bucket-count migration (the operation that keeps buckets at
    ~0.5-2 GB as a table grows toward 100 TB) plus the layout guard that
    makes handles safe around it: the committed manifest is authoritative
    for n_buckets, key_cols can never drift."""

    def _state(self, t):
        return {(r.conv_id, r.turn_idx): r.text for r in t.read().collect()}

    def test_rebucket_preserves_state_and_layout(self, spark, table):
        table.merge(
            _mk_changes(
                spark, [(f"c{i}", 0, f"v{i}", 1, False) for i in range(60)]
            ),
            batch_id=0,
        )
        table.merge(_mk_changes(spark, [("c3", 0, "v3b", 2, False)]), batch_id=1)
        table.merge(_mk_changes(spark, [("c4", 0, None, 3, True)]), batch_id=2)
        before = self._state(table)
        rec = table.rebucket(32)
        assert rec["rebucket"] == [8, 32]
        assert self._state(table) == before
        m = table.snapshot_manifest()
        assert m["n_buckets"] == 32 and table.n_buckets == 32
        # every bucket folded to one file, keys land where lookups expect
        assert all(len(fl) == 1 for fl in m["files"].values())
        assert self._state(table.__class__(  # fresh handle, stale count
            spark, table.path, ["conv_id", "turn_idx"], n_buckets=8
        )) == before

    def test_lookup_and_merge_after_rebucket(self, spark, table):
        table.merge(
            _mk_changes(
                spark, [(f"c{i}", 0, f"v{i}", 1, False) for i in range(40)]
            ),
            batch_id=0,
        )
        table.rebucket(32)
        got = table.read(keys={"conv_id": "c7", "turn_idx": 0}).collect()
        assert [(r.conv_id, r.text) for r in got] == [("c7", "v7")]
        table.merge(_mk_changes(spark, [("c7", 0, "post", 5, False)]), batch_id=1)
        got = table.read(keys={"conv_id": "c7", "turn_idx": 0}).collect()
        assert [(r.conv_id, r.text) for r in got] == [("c7", "post")]

    def test_time_travel_across_rebucket_boundary(self, spark, table):
        """A key lookup against a pre-rebucket snapshot must hash with THAT
        manifest's bucket count, not the handle's."""
        table.merge(
            _mk_changes(
                spark, [(f"c{i}", 0, "old", 1, False) for i in range(40)]
            ),
            batch_id=0,
        )
        v1 = table.snapshot_manifest()["version"]
        table.rebucket(32)
        table.merge(_mk_changes(spark, [("c9", 0, "new", 9, False)]), batch_id=1)
        got = table.read(keys={"conv_id": "c9", "turn_idx": 0}, at_version=v1)
        assert [r.text for r in got.collect()] == ["old"]
        got = table.read(keys={"conv_id": "c9", "turn_idx": 0})
        assert [r.text for r in got.collect()] == ["new"]

    def test_stale_handle_merge_adopts_committed_layout(self, spark, table):
        from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable

        table.merge(
            _mk_changes(
                spark, [(f"c{i}", 0, f"v{i}", 1, False) for i in range(30)]
            ),
            batch_id=0,
        )
        table.rebucket(16)
        stale = BucketedLakeTable(
            spark, table.path, ["conv_id", "turn_idx"], n_buckets=8
        )
        stale.merge(_mk_changes(spark, [("c2", 0, "via-stale", 4, False)]), batch_id=1)
        assert stale.n_buckets == 16  # adopted before bucketing the batch
        got = table.read(keys={"conv_id": "c2", "turn_idx": 0}).collect()
        assert [r.text for r in got] == ["via-stale"]

    def test_key_cols_mismatch_raises(self, spark, table):
        from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable

        table.merge(_mk_changes(spark, [("a", 0, "x", 1, False)]), batch_id=0)
        wrong = BucketedLakeTable(spark, table.path, ["conv_id"], n_buckets=8)
        with pytest.raises(ValueError, match="keyed by"):
            wrong.merge(
                spark.createDataFrame(
                    [("a", "y", False, 2, 2, 1)],
                    "conv_id string, text string, _deleted boolean, "
                    "_gtid bigint, _event_seq bigint, _event_row_index bigint",
                ),
                batch_id=1,
            )

    def test_rebucket_noop_and_validation(self, spark, table):
        table.merge(_mk_changes(spark, [("a", 0, "x", 1, False)]), batch_id=0)
        v = table.snapshot_manifest()["version"]
        assert table.rebucket(8) == {"version": v, "rebucket": None}
        with pytest.raises(ValueError, match="n_buckets"):
            table.rebucket(0)


class TestLineageWindowOverrun:
    """A consumer further behind than the manifest's lineage window (but
    not vacuumed) must still get EVERY commit — older versions are served
    from their own manifests, never silently dropped (the lineage cap
    bounds manifest size, not feed retention)."""

    def test_read_changes_beyond_lineage_window(self, spark, tmp_path):
        from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable

        t = BucketedLakeTable(
            spark, str(tmp_path / "t"), ["conv_id", "turn_idx"],
            n_buckets=4, lineage_keep=3,
        )
        for g in range(6):
            t.merge(
                _mk_changes(spark, [(f"c{g}", 0, f"v{g}", g + 1, False)]),
                batch_id=g,
            )
        assert len(t.lineage()) == 3  # the window really is trimmed
        feed = t.read_changes(from_version=1)
        got = {(r.conv_id, r._commit_version) for r in feed.collect()}
        assert got == {(f"c{g}", g + 1) for g in range(6)}

    def test_compaction_below_window_not_resurfaced(self, spark, tmp_path):
        """A compaction commit older than the window must stay invisible
        to the feed (its manifest's lineage tail is a compaction record)."""
        from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable

        t = BucketedLakeTable(
            spark, str(tmp_path / "t"), ["conv_id", "turn_idx"],
            n_buckets=4, lineage_keep=2,
        )
        t.merge(_mk_changes(spark, [("a", 0, "x", 1, False)]), batch_id=0)
        t.merge(_mk_changes(spark, [("a", 0, "x2", 2, False)]), batch_id=1)
        t.compact()  # v3, below the window after the next two merges
        t.merge(_mk_changes(spark, [("b", 0, "y", 4, False)]), batch_id=2)
        t.merge(_mk_changes(spark, [("c", 0, "z", 5, False)]), batch_id=3)
        feed = t.read_changes(from_version=1)
        got = {(r.conv_id, r._commit_version) for r in feed.collect()}
        assert got == {("a", 1), ("a", 2), ("b", 4), ("c", 5)}

    def test_rebucket_keeps_the_lineage_window(self, spark, tmp_path):
        """rebucket commits through the same manifest step as merge and
        compact, so its lineage stays trimmed to lineage_keep."""
        from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable

        t = BucketedLakeTable(
            spark, str(tmp_path / "t"), ["conv_id", "turn_idx"],
            n_buckets=4, lineage_keep=2,
        )
        for g in range(3):
            t.merge(
                _mk_changes(spark, [(f"c{g}", 0, f"v{g}", g + 1, False)]),
                batch_id=g,
            )
        t.rebucket(8)
        assert len(t.lineage()) == 2
        assert t.lineage()[-1]["rebucket"] == [4, 8]


class TestOptimisticCompaction:
    """Maintenance must not serialize with ingest: a compaction that loses
    the version CAS to a concurrent merge re-bases and re-commits its
    already-written fold files — UNLESS the merge touched a compacted
    bucket, which must fail loud (committing would drop that delta's
    newest versions)."""

    def _setup(self, spark, tmp_path):
        from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable

        path = str(tmp_path / "t")
        t = BucketedLakeTable(
            spark, path, ["conv_id", "turn_idx"], n_buckets=8, auto_fold=False
        )
        # find two keys in different buckets via each commit's dirty set
        t.merge(_mk_changes(spark, [("a", 0, "a1", 1, False)]), batch_id=0)
        b_a = t.lineage()[-1]["dirty_buckets"][0]
        other = next(
            k for k in ("b", "c", "d", "e", "f")
            if (t.merge(_mk_changes(spark, [(k, 0, "x", 2, False)]), batch_id=k)
                or t.lineage()[-1]["dirty_buckets"][0]) != b_a
        )
        b_other = t.lineage()[-1]["dirty_buckets"][0]
        # second version for "a" so bucket b_a is multi-file (worth folding)
        t.merge(_mk_changes(spark, [("a", 0, "a2", 3, False)]), batch_id=9)
        return path, t, b_a, other, b_other

    def test_unrelated_merge_rebases_and_commits(self, spark, tmp_path):
        from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable

        path, t1, b_a, other, _ = self._setup(spark, tmp_path)
        t2 = BucketedLakeTable(
            spark, path, ["conv_id", "turn_idx"], n_buckets=8
        )
        orig_commit = BucketedLakeTable._commit
        fired = {}

        def hijacked(self_t, manifest):
            if self_t is t2 and not fired:
                fired["x"] = True
                # concurrent merge to an UNRELATED bucket wins the version
                t1.merge(
                    _mk_changes(spark, [(other, 0, "updated", 7, False)]),
                    batch_id=10,
                )
            orig_commit(self_t, manifest)

        t2._commit = hijacked.__get__(t2)
        rec = t2.compact(buckets=[b_a])
        assert rec["compacted_buckets"] == [b_a]
        t3 = BucketedLakeTable(spark, path, ["conv_id", "turn_idx"], n_buckets=8)
        m = t3.snapshot_manifest()
        assert len(m["files"][str(b_a)]) == 1  # folded
        rows = {(r.conv_id): r.text for r in t3.read().collect()}
        assert rows == {"a": "a2", other: "updated"}  # BOTH effects landed

    def test_conflicting_merge_on_target_bucket_fails_loud(
        self, spark, tmp_path
    ):
        import pytest as _pytest

        from myzql_binlog_connector_spark.plans.lake import (
            BucketedLakeTable,
            ConcurrentWriteError,
        )

        path, t1, b_a, _other, _ = self._setup(spark, tmp_path)
        t2 = BucketedLakeTable(
            spark, path, ["conv_id", "turn_idx"], n_buckets=8
        )
        orig_commit = BucketedLakeTable._commit
        fired = {}

        def hijacked(self_t, manifest):
            if self_t is t2 and not fired:
                fired["x"] = True
                # concurrent merge INTO the bucket being compacted
                t1.merge(
                    _mk_changes(spark, [("a", 0, "newer", 9, False)]),
                    batch_id=11,
                )
            orig_commit(self_t, manifest)

        t2._commit = hijacked.__get__(t2)
        with _pytest.raises(ConcurrentWriteError, match="compaction conflict"):
            t2.compact(buckets=[b_a])
        # the merge's newer version survives; rerunning compact folds it
        t3 = BucketedLakeTable(spark, path, ["conv_id", "turn_idx"], n_buckets=8)
        assert {r.text for r in t3.read(keys={"conv_id": "a", "turn_idx": 0}).collect()} == {"newer"}
        t3.compact(buckets=[b_a])
        assert {r.text for r in t3.read(keys={"conv_id": "a", "turn_idx": 0}).collect()} == {"newer"}


class TestVacuumOrphanGrace:
    def test_young_orphans_survive_the_grace_window(self, spark, tmp_path):
        """'Unreferenced' has two causes: superseded files (reclaimable)
        and an IN-FLIGHT writer's not-yet-committed data.  vacuum must not
        delete young orphans — deleting a racing merge's files would make
        its manifest point at nothing (Delta's uncommitted-file retention
        guard)."""
        from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable

        t = BucketedLakeTable(
            spark, str(tmp_path / "t"), ["conv_id", "turn_idx"], n_buckets=4
        )
        t.merge(_mk_changes(spark, [("a", 0, "x", 1, False)]), batch_id=0)
        t.merge(_mk_changes(spark, [("a", 0, "x2", 2, False)]), batch_id=1)
        # v1's superseded delta + simulate an in-flight writer's fresh file
        inflight = os.path.join(t.path, "data", "v3-deadbeef", "_bucket=0")
        os.makedirs(inflight)
        with open(os.path.join(inflight, "part-0.parquet"), "wb") as f:
            f.write(b"pending")
        res = t.vacuum(retain_last=1)  # default grace: everything is young
        assert res["removed_files"] == 0 and res["skipped_in_grace"] >= 1
        assert os.path.exists(os.path.join(inflight, "part-0.parquet"))
        # past the grace window the same files ARE reclaimed
        res = t.vacuum(retain_last=1, orphan_grace_s=0)
        assert res["removed_files"] >= 1
        assert not os.path.exists(os.path.join(inflight, "part-0.parquet"))
        assert {r.text for r in t.read().collect()} == {"x2"}
