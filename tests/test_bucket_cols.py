"""bucket_cols: bucketing on a key-column subset (group co-location).

A table keyed by (conv_id, turn_idx) but bucketed by conv_id keeps every
turn of a conversation in ONE bucket, so group fetches
(read(keys={"conv_id": ...})) prune to that bucket exactly like point
lookups do.  The invariants under test:

- LWW identity is still the FULL key — updates/deletes of one turn never
  clobber siblings, with the whole conversation co-located.
- Group and point lookups return exactly the filtered-full-read rows and
  scan only the group's bucket.
- The committed manifest is layout-authoritative: a handle opened without
  bucket_cols adopts them (like n_buckets after rebucket).
- rebucket(n, bucket_cols=...) migrates a full-key table; time travel
  across the boundary hashes against the manifest being read.
- Key-dict validation: partial keys must cover bucket_cols, name only key
  columns, and be uniform across the probe list.
"""

from __future__ import annotations

import pytest

from tests.test_lake_pruning import _mk_changes, _rows


@pytest.fixture()
def conv_table(spark, tmp_path):
    from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable

    return BucketedLakeTable(
        spark, str(tmp_path / "t"), ["conv_id", "turn_idx"], n_buckets=16,
        max_files_per_bucket=4, bucket_cols=["conv_id"],
    )


def _seed(spark, table, n_convs=24, n_turns=3):
    table.merge(
        _mk_changes(
            spark,
            [(f"c{i}", j, f"v{i}.{j}", 100 + i, 1, False)
             for i in range(n_convs) for j in range(n_turns)],
        ),
        batch_id=0,
    )


class TestGroupColocation:
    def test_group_lookup_scans_one_bucket_returns_all_turns(
        self, spark, conv_table
    ):
        _seed(spark, conv_table)
        full = conv_table.read()
        grp = conv_table.read(keys={"conv_id": "c7"})
        assert _rows(grp) == {("c7", j, f"v7.{j}", 107) for j in range(3)}
        m = conv_table.snapshot_manifest()
        assert m["bucket_cols"] == ["conv_id"]
        # every turn of a conversation hashes to ONE bucket — the pruned
        # plan reads exactly that bucket's files
        one_bucket = max(len(fl) for fl in m["files"].values())
        assert 0 < len(grp.inputFiles()) <= one_bucket < len(full.inputFiles())

    def test_point_lookup_still_exact(self, spark, conv_table):
        _seed(spark, conv_table)
        hit = conv_table.read(keys={"conv_id": "c5", "turn_idx": 2})
        assert _rows(hit) == {("c5", 2, "v5.2", 105)}

    def test_lww_identity_is_full_key(self, spark, conv_table):
        """Updating / deleting one turn must not disturb co-located
        siblings in the same bucket."""
        _seed(spark, conv_table, n_convs=6)
        conv_table.merge(
            _mk_changes(spark, [("c2", 1, "edited", 200, 2, False)]), batch_id=1
        )
        conv_table.merge(
            _mk_changes(spark, [("c2", 0, None, 201, 3, True)]), batch_id=2
        )
        grp = conv_table.read(keys={"conv_id": "c2"})
        assert _rows(grp) == {("c2", 1, "edited", 200), ("c2", 2, "v2.2", 102)}

    def test_group_lookup_equals_filtered_full_read(self, spark, conv_table):
        _seed(spark, conv_table)
        conv_table.merge(
            _mk_changes(spark, [(f"c{i}", 0, "upd", 300, 2, False)
                                for i in range(0, 24, 5)]),
            batch_id=1,
        )
        keys = [{"conv_id": f"c{i}"} for i in (1, 5, 12)]
        got = conv_table.read(keys=keys)
        want = conv_table.read().filter("conv_id in ('c1','c5','c12')")
        assert _rows(got) == _rows(want)

    def test_many_groups_broadcast_semijoin_path(self, spark, conv_table):
        """> KEY_PREDICATE_MAX probe dicts switch to the broadcast
        semi-join — same rows either way."""
        _seed(spark, conv_table, n_convs=80, n_turns=2)
        keys = [{"conv_id": f"c{i}"} for i in range(70)]
        assert len(keys) > conv_table.KEY_PREDICATE_MAX
        got = conv_table.read(keys=keys)
        assert got.count() == 70 * 2
        assert _rows(got) == {
            (f"c{i}", j, f"v{i}.{j}", 100 + i) for i in range(70) for j in range(2)
        }


class TestLayoutAuthority:
    def test_second_handle_adopts_bucket_cols(self, spark, conv_table):
        from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable

        _seed(spark, conv_table, n_convs=8)
        other = BucketedLakeTable(
            spark, conv_table.path, ["conv_id", "turn_idx"], n_buckets=16
        )
        other.merge(
            _mk_changes(spark, [("c3", 0, "from-other", 400, 5, False)]),
            batch_id=1,
        )
        assert other.bucket_cols == ["conv_id"]
        # the new delta landed in c3's conv bucket: the group fetch sees it
        grp = conv_table.read(keys={"conv_id": "c3"})
        assert ("c3", 0, "from-other", 400) in _rows(grp)
        assert len(grp.inputFiles()) <= max(
            len(fl) for fl in conv_table.snapshot_manifest()["files"].values()
        )

    def test_full_key_table_rejects_partial_keys(self, spark, tmp_path):
        from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable

        t = BucketedLakeTable(
            spark, str(tmp_path / "fk"), ["conv_id", "turn_idx"], n_buckets=8
        )
        _seed(spark, t, n_convs=4)
        with pytest.raises(ValueError, match="bucket columns"):
            t.read(keys={"conv_id": "c1"}).collect()

    def test_key_dict_validation(self, spark, conv_table):
        _seed(spark, conv_table, n_convs=4)
        with pytest.raises(ValueError, match="key columns"):
            conv_table.read(keys={"conv_id": "c1", "text": "x"})
        with pytest.raises(ValueError, match="same columns"):
            conv_table.read(
                keys=[{"conv_id": "c1"}, {"conv_id": "c2", "turn_idx": 0}]
            )

    def test_bad_bucket_cols_raise(self, spark, tmp_path):
        from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable

        with pytest.raises(ValueError, match="subset"):
            BucketedLakeTable(
                spark, str(tmp_path / "x"), ["conv_id", "turn_idx"],
                bucket_cols=["ts"],
            )
        with pytest.raises(ValueError, match="subset"):
            BucketedLakeTable(
                spark, str(tmp_path / "y"), ["conv_id", "turn_idx"],
                bucket_cols=[],
            )


class TestRebucketMigration:
    def test_migrate_full_key_to_conv_buckets(self, spark, tmp_path):
        from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable

        t = BucketedLakeTable(
            spark, str(tmp_path / "mig"), ["conv_id", "turn_idx"], n_buckets=8
        )
        _seed(spark, t, n_convs=12)
        t.merge(_mk_changes(spark, [("c1", 0, None, 50, 2, True)]), batch_id=1)
        before = _rows(t.read())
        v_before = t.snapshot_manifest()["version"]

        rec = t.rebucket(8, bucket_cols=["conv_id"])
        assert rec["rebucket_cols"] == [["conv_id", "turn_idx"], ["conv_id"]]
        assert t.bucket_cols == ["conv_id"]
        assert _rows(t.read()) == before
        # group fetch now prunes to one bucket
        grp = t.read(keys={"conv_id": "c4"})
        assert _rows(grp) == {("c4", j, f"v4.{j}", 104) for j in range(3)}
        m = t.snapshot_manifest()
        assert len(grp.inputFiles()) <= max(len(fl) for fl in m["files"].values())
        # time travel across the boundary: the OLD manifest hashes lookups
        # against the full-key layout (and rejects partial keys)
        old = t.read(at_version=v_before, keys={"conv_id": "c4", "turn_idx": 1})
        assert _rows(old) == {("c4", 1, "v4.1", 104)}
        with pytest.raises(ValueError, match="bucket columns"):
            t.read(at_version=v_before, keys={"conv_id": "c4"}).collect()
        # deletes survived the migration as tombstones
        assert ("c1", 0) not in {(c, x) for (c, x, *_r) in _rows(t.read())}

    def test_merge_after_migration_lands_in_conv_bucket(self, spark, tmp_path):
        from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable

        t = BucketedLakeTable(
            spark, str(tmp_path / "mig2"), ["conv_id", "turn_idx"], n_buckets=8
        )
        _seed(spark, t, n_convs=6)
        t.rebucket(8, bucket_cols=["conv_id"])
        t.merge(
            _mk_changes(spark, [("c2", 9, "new-turn", 999, 7, False)]),
            batch_id=1,
        )
        grp = t.read(keys={"conv_id": "c2"})
        assert ("c2", 9, "new-turn", 999) in _rows(grp)
        m = t.snapshot_manifest()
        assert len(grp.inputFiles()) <= max(len(fl) for fl in m["files"].values())


class TestStaleStatsInvalidation:
    def test_precomputed_stats_from_stale_layout_are_recomputed(
        self, spark, tmp_path
    ):
        """A long-lived applier's table handle keeps its ENTRY-TIME layout
        while a maintenance job rebuckets (and migrates bucket_cols) from
        another handle.  The next apply must hash its dirty-bucket stats
        with the committed layout — stats from the stale one would
        register the batch's files under the wrong buckets and silently
        lose rows."""
        import json

        from myzql_binlog_connector_spark.functions.decode import ENVELOPE_SCHEMA
        from myzql_binlog_connector_spark.plans.apply import TranscriptsApplier
        from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable

        path = str(tmp_path / "t")
        writer = BucketedLakeTable(spark, path, ["conv_id", "turn_idx"], n_buckets=4)
        _seed(spark, writer, n_convs=6)
        # maintenance migrates layout from another handle
        maint = BucketedLakeTable(spark, path, ["conv_id", "turn_idx"], n_buckets=4)
        maint.rebucket(8, bucket_cols=["conv_id"])
        # the stale writer's applier lands one UPDATE per conversation
        # (VARCHAR, LONGLONG, VARCHAR, LONGLONG: conv_id, turn_idx, text, ts)
        desc = json.dumps([[15, 255, 1], [8, 0, 0], [15, 255, 1], [8, 0, 1]])

        def image(i, text, ts):
            return json.dumps({"c0": f"c{i}", "c1": 1, "c2": text, "c3": ts})

        envelope = spark.createDataFrame(
            [
                (0, 1, 100 + i, 0, "chat", "t", "UPDATE", image(i, f"v{i}.1", 100 + i),
                 image(i, f"upd{i}", 500), 500, 9, 1, desc)
                for i in range(6)
            ],
            ENVELOPE_SCHEMA,
        )
        TranscriptsApplier(
            spark, writer, column_names=("conv_id", "turn_idx", "text", "ts"),
            extra_names=(),
        ).apply_batch(envelope, batch_id=1)
        got = _rows(writer.read())
        for i in range(6):
            assert (f"c{i}", 1, f"upd{i}", 500) in got, f"c{i} row lost"
        # layout adopted and group fetch sees the merged rows
        assert writer.bucket_cols == ["conv_id"] and writer.n_buckets == 8
        grp = writer.read(keys={"conv_id": "c3"})
        assert ("c3", 1, "upd3", 500) in _rows(grp)


class TestMaintenanceOnConvBuckets:
    def test_fold_and_compact_preserve_layout(self, spark, conv_table):
        _seed(spark, conv_table, n_convs=10)
        for b in range(1, 6):  # force folds (max_files_per_bucket=4)
            conv_table.merge(
                _mk_changes(
                    spark,
                    [(f"c{i}", 0, f"u{b}.{i}", 100 + b, b + 1, False)
                     for i in range(10)],
                ),
                batch_id=b,
            )
        conv_table.compact()
        grp = conv_table.read(keys={"conv_id": "c3"})
        assert _rows(grp) == {
            ("c3", 0, "u5.3", 105), ("c3", 1, "v3.1", 103), ("c3", 2, "v3.2", 103)
        }
        m = conv_table.snapshot_manifest()
        assert m["bucket_cols"] == ["conv_id"]
        assert len(grp.inputFiles()) <= max(len(fl) for fl in m["files"].values())
