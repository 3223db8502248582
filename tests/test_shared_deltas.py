"""Shared delta files: a small merge into a committed table writes its
reduced rows as one file listed under every bucket it dirtied, so bucket
b's rows are the rows of its files with ``_bucket = b``.  These tests pin
that layout and check every reader of it against a replay of the changes:
reads after a fold or a tombstone GC, compaction, rebucket, vacuum and the
maintenance CLI."""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
import pytest

SCHEMA = (
    "conv_id string, turn_idx bigint, text string, _deleted boolean, "
    "_gtid bigint, _event_seq bigint, _event_row_index bigint"
)


def _table(spark, path, n_buckets=4, **kw):
    from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable

    return BucketedLakeTable(
        spark, path, ["conv_id", "turn_idx"], n_buckets=n_buckets,
        max_files_per_bucket=3, **kw,
    )


def _state(df):
    return {(r.conv_id, r.turn_idx): r.text for r in df.collect()}


def _is_shared(path):
    return not os.path.basename(os.path.dirname(path)).startswith("_bucket=")


class Lake:
    """A 4-bucket table whose first commit gives every bucket a base, two
    fresh probe keys per bucket (``by[b]``), and the state a replay of
    every merge expects (LWW by gtid)."""

    def __init__(self, spark, path):
        self.spark = spark
        self.t = _table(spark, path, stats_cols=["turn_idx"])
        cands = spark.createDataFrame(
            [(f"c{i}", i) for i in range(64)], "conv_id string, turn_idx bigint"
        )
        by = {}
        for r in sorted(cands.select("*", self.t.bucket_expr()).collect()):
            by.setdefault(r[2], []).append((r[0], r[1]))
        assert all(len(by.get(b, [])) >= 3 for b in range(4))
        self.by = {b: ks[:2] for b, ks in by.items()}
        self.rows = {}
        self.gtid = 0
        rec = self.merge([(ks[2], "base") for ks in by.values()])
        assert not any(_is_shared(p) for p in rec["delta_files"])

    def merge(self, changes) -> dict:
        """changes: [(key, text or None for a delete)], one gtid."""
        self.gtid += 1
        g = self.gtid
        for k, x in changes:
            self.rows[k] = x
        df = self.spark.createDataFrame(
            [(c, n, x, x is None, g, g, 1) for (c, n), x in changes], SCHEMA
        )
        return self.t.merge(df, batch_id=g)

    def live(self) -> dict:
        return {k: x for k, x in self.rows.items() if x is not None}

    def files(self) -> dict:
        return self.t.snapshot_manifest()["files"]


@pytest.fixture()
def lake(spark, tmp_path):
    return Lake(spark, str(tmp_path / "t"))


def _probes(lake):
    return [k for ks in lake.by.values() for k in ks]


class TestSmallCommitLayout:
    def test_small_merge_writes_one_shared_file(self, lake):
        rec = lake.merge([(k, f"v{k[0]}") for k in _probes(lake)])
        (path,) = rec["delta_files"]
        assert _is_shared(path)
        assert rec["files_written"] == 1
        assert rec["bytes_written"] == os.path.getsize(path)
        m = lake.t.snapshot_manifest()
        assert all(fl[-1] == path and len(fl) == 2 for fl in m["files"].values())
        # per bucket: the footer plus a share of the rest by rows
        footer = pq.ParquetFile(path).metadata.serialized_size
        shares = m["bucket_bytes"][path]
        assert set(shares) == {str(b) for b in range(4)}
        assert all(footer < v < os.path.getsize(path) for v in shares.values())
        assert _state(lake.t.read()) == lake.live()

    def test_big_merge_keeps_per_bucket_files(self, spark, lake):
        df = spark.range(2100).selectExpr(
            "concat('x', id) AS conv_id", "id AS turn_idx", "'x' AS text",
            "false AS _deleted", "9L AS _gtid", "9L AS _event_seq",
            "id AS _event_row_index",
        )
        rec = lake.t.merge(df, batch_id=9)
        assert rec["files_written"] == 4
        assert not any(_is_shared(p) for p in rec["delta_files"])
        assert "bucket_bytes" not in lake.t.snapshot_manifest()


class TestFoldedKeyStaysDeleted:
    def test_tombstone_gc_does_not_resurrect_through_shared_file(self, lake):
        """Key K (bucket a) is upserted in a shared delta that bucket b
        also lists.  K is deleted, bucket a folds and GC drops K's
        tombstone, and the shared delta stays listed under b: its K row
        must not come back through b."""
        a, b = 0, 1
        k, j = lake.by[a][0], lake.by[b][0]
        lake.merge([(k, "old"), (j, "jv")])
        s1 = lake.files()[str(b)][-1]
        assert _is_shared(s1) and s1 in lake.files()[str(a)]
        lake.merge([(k, None)])
        lake.t.compact(buckets=[a], drop_tombstones_below=(lake.gtid + 1,))
        files = lake.files()
        assert files[str(b)][-1] == s1 and s1 not in files[str(a)]
        assert k not in lake.live()
        assert _state(lake.t.read()) == lake.live()
        keys = [{"conv_id": c, "turn_idx": n} for c, n in (k, j)]
        assert _state(lake.t.read(keys=keys)) == {j: "jv"}
        lo, hi = sorted((k[1], j[1]))
        want = {key: x for key, x in lake.live().items() if lo <= key[1] <= hi}
        assert j in want
        assert _state(lake.t.read(ranges={"turn_idx": (lo, hi)})) == want


class TestPartialFold:
    def test_full_read_counts_each_row_once(self, lake):
        lake.merge([(k, "v1") for k in _probes(lake)])
        lake.merge([(ks[0], "v2") for ks in lake.by.values()])
        lake.t.compact(buckets=[0])
        files = lake.files()
        assert len(files["0"]) == 1 and not _is_shared(files["0"][0])
        assert all(len(files[str(b)]) == 3 for b in (1, 2, 3))
        df = lake.t.read()
        assert df.count() == len(lake.live()) == 12
        assert _state(df) == lake.live()


class TestRewritesOverSharedFiles:
    def _history(self, lake):
        keys = _probes(lake)
        lake.merge([(k, f"a{k[0]}") for k in keys])
        lake.merge([(k, f"b{k[0]}") for k in keys[::2]])
        lake.merge([(k, None) for k in keys[1::3]])

    def test_compact_one_bucket_equals_replay(self, lake):
        self._history(lake)
        before = lake.files()
        lake.t.compact(buckets=[2])
        after = lake.files()
        assert len(after["2"]) == 1
        assert {b: fl for b, fl in after.items() if b != "2"} == {
            b: fl for b, fl in before.items() if b != "2"
        }
        assert _state(lake.t.read()) == lake.live()

    def test_rebucket_equals_replay(self, lake):
        self._history(lake)
        lake.t.rebucket(3)
        assert _state(lake.t.read()) == lake.live()
        keys = [{"conv_id": c, "turn_idx": n} for c, n in lake.rows]
        assert _state(lake.t.read(keys=keys)) == lake.live()


class TestVacuumKeepsSharedFile:
    def test_file_one_bucket_still_lists_survives(self, lake):
        lake.merge([(k, "v") for k in _probes(lake)])
        s1 = lake.files()["3"][-1]
        lake.t.compact(buckets=[0, 1, 2])
        lake.merge([(lake.by[0][0], "w")])
        lake.t.compact(buckets=[0])
        assert [b for b, fl in lake.files().items() if s1 in fl] == ["3"]
        out = lake.t.vacuum(retain_last=1, orphan_grace_s=0)
        assert out["removed_files"] > 0  # bucket 0's first fold and delta
        assert os.path.exists(s1)
        assert _state(lake.t.read()) == lake.live()


class TestTailShapedTable:
    def test_small_commits_write_one_file_and_fold_keeps_bases(self, spark, tmp_path):
        """16 buckets, a big aligned first commit (per-bucket bases), then
        small commits that dirty every bucket: each writes one shared
        file, and the fold on the 4th keeps every base."""
        t = _table(spark, str(tmp_path / "t"), n_buckets=16)

        def batch(n, lo, gtid):
            return spark.range(lo, lo + n).selectExpr(
                "concat('c', id % 3000) AS conv_id", "id div 3000 AS turn_idx",
                f"sha2(concat(cast(id AS string), '{gtid}'), 256) AS text",
                "false AS _deleted", f"{gtid}L AS _gtid", f"{gtid}L AS _event_seq",
                "id AS _event_row_index",
            )

        first = t.merge(batch(9000, 0, 1), batch_id=0)
        assert first["files_written"] == 16
        for i in range(1, 5):
            rec = t.merge(batch(320, 331 * i, i + 1), batch_id=i)
            (path,) = rec["delta_files"]
            assert _is_shared(path) and len(rec["dirty_buckets"]) == 16
            if i < 4:
                assert rec["files_written"] == 1 and rec["buckets_folded"] == []
                assert rec["bytes_written"] == os.path.getsize(path)
        assert rec["buckets_folded"] == list(range(16))
        assert rec["buckets_rebased"] == []
        assert rec["files_written"] == 17
        m = t.snapshot_manifest()
        assert all(
            len(fl) == 2 and fl[0] in first["delta_files"] for fl in m["files"].values()
        )
        assert m["bucket_bytes"] == {}  # the folded-away shared files
        assert t.read().count() == 9000


class TestMaintainStatus:
    def test_status_counts_distinct_files(self, lake, capsys):
        from scripts.lake_maintain import main

        lake.merge([(k, "v") for k in _probes(lake)])
        assert main([lake.t.path, "--keys", "conv_id,turn_idx", "--status"]) == 0
        status = json.loads(capsys.readouterr().out.splitlines()[-1])
        assert status["live_files"] == 5  # four bases and one shared delta
