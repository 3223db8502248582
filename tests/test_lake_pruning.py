"""Scan pruning on BucketedLakeTable: key-lookup bucket pruning and
stats-based range skipping (Delta/Iceberg data-skipping analogues).

The invariant under test everywhere: pruning changes which files are
SCANNED, never which rows are RETURNED — a pruned read equals the
equivalent filter over the full read, including under merge-on-read
multi-file buckets, tombstones, folds, and compaction.  Pruning is
bucket-granular by design (file-granular pruning could drop the newest
version of a key while an older file survives, and LWW would resurrect
stale data)."""

from __future__ import annotations

from urllib.parse import unquote, urlparse

import pytest


def _mk_changes(spark, rows):
    """rows: list of (conv_id, turn_idx, text, ts, gtid, deleted)."""
    data = [(c, t, x, ts, bool(d), g, g, 1) for (c, t, x, ts, g, d) in rows]
    return spark.createDataFrame(
        data,
        "conv_id string, turn_idx bigint, text string, ts bigint, "
        "_deleted boolean, _gtid bigint, _event_seq bigint, "
        "_event_row_index bigint",
    )


@pytest.fixture()
def table(spark, tmp_path):
    from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable

    return BucketedLakeTable(
        spark, str(tmp_path / "t"), ["conv_id", "turn_idx"], n_buckets=16,
        max_files_per_bucket=4, stats_cols=["ts"],
    )


def _rows(df):
    return {(r.conv_id, r.turn_idx, r.text, r.ts) for r in df.collect()}


def _assert_pruned_matches(t, live, ranges, probe, case):
    """A pruned read equals the same filter over the full read: the full
    read equals the python model ``live`` ({key: (text, ts)}), each
    ``(lo, hi)`` of ``ranges`` over ``ts`` (None = open) equals the
    filtered full read, and the key set ``probe`` reads its live rows."""
    full = _rows(t.read())
    assert full == {(c, ti, v, ts) for (c, ti), (v, ts) in live.items()}
    for lo, hi in ranges:
        pruned = _rows(t.read(ranges={"ts": (lo, hi)}))
        want = {
            r for r in full
            if (lo is None or r[3] >= lo) and (hi is None or r[3] <= hi)
        }
        assert pruned == want, (case, lo, hi)
    got = _rows(t.read(keys=probe))
    want = {
        (c, ti, v, ts) for (c, ti), (v, ts) in live.items()
        if any(p["conv_id"] == c and p["turn_idx"] == ti for p in probe)
    }
    assert got == want, (case, probe)


class TestKeyLookupPruning:
    def test_point_lookup_scans_one_bucket(self, spark, table):
        table.merge(
            _mk_changes(
                spark,
                [(f"c{i}", j, f"v{i}.{j}", 100 + i, 1, False)
                 for i in range(40) for j in range(2)],
            ),
            batch_id=0,
        )
        full = table.read()
        hit = table.read(keys={"conv_id": "c7", "turn_idx": 1})
        assert _rows(hit) == {("c7", 1, "v7.1", 107)}
        # the pruned plan scans a strict subset of the snapshot's files
        assert 0 < len(hit.inputFiles()) < len(full.inputFiles())
        m = table.snapshot_manifest()
        one_bucket = max(len(fl) for fl in m["files"].values())
        assert len(hit.inputFiles()) <= one_bucket

    def test_lookup_correct_across_multifile_lww(self, spark, table):
        """The looked-up key's newest version and its tombstones live in
        later delta files of the same bucket — the pruned read must see
        them all."""
        table.merge(
            _mk_changes(spark, [(f"c{i}", 0, "v1", 10, 1, False) for i in range(20)]),
            batch_id=0,
        )
        table.merge(_mk_changes(spark, [("c3", 0, "v2", 20, 2, False)]), batch_id=1)
        table.merge(_mk_changes(spark, [("c4", 0, None, 30, 3, True)]), batch_id=2)
        assert _rows(table.read(keys={"conv_id": "c3", "turn_idx": 0})) == {
            ("c3", 0, "v2", 20)
        }
        assert table.read(keys={"conv_id": "c4", "turn_idx": 0}).count() == 0

    def test_multi_key_lookup(self, spark, table):
        table.merge(
            _mk_changes(
                spark, [(f"c{i}", 0, f"v{i}", i, 1, False) for i in range(30)]
            ),
            batch_id=0,
        )
        got = table.read(
            keys=[
                {"conv_id": "c2", "turn_idx": 0},
                {"conv_id": "c17", "turn_idx": 0},
                {"conv_id": "missing", "turn_idx": 9},
            ]
        )
        assert _rows(got) == {("c2", 0, "v2", 2), ("c17", 0, "v17", 17)}


class TestRangeSkipping:
    def test_manifest_carries_footer_stats(self, spark, table):
        table.merge(
            _mk_changes(
                spark, [(f"c{i}", 0, "x", 1000 + i, 1, False) for i in range(10)]
            ),
            batch_id=0,
        )
        m = table.snapshot_manifest()
        stats = m.get("file_stats", {})
        live = [p for fl in m["files"].values() for p in fl]
        assert live and set(stats) == set(live)
        los = [s["ts"][0] for s in stats.values()]
        his = [s["ts"][1] for s in stats.values()]
        assert min(los) == 1000 and max(his) == 1009

    def test_range_read_prunes_and_stays_exact(self, spark, table):
        # two well-separated ts epochs land in every bucket; stats split
        # per FILE, so pruning only wins after fold keeps epochs apart —
        # here each merge writes its own files, which is exactly that
        table.merge(
            _mk_changes(
                spark, [(f"a{i}", 0, "old", 100 + i, 1, False) for i in range(40)]
            ),
            batch_id=0,
        )
        table.merge(
            _mk_changes(
                spark, [(f"b{i}", 0, "new", 100000 + i, 2, False) for i in range(3)]
            ),
            batch_id=1,
        )
        full = table.read()
        pruned = table.read(ranges={"ts": (100000, None)})
        want = {r for r in _rows(full) if r[3] >= 100000}
        assert _rows(pruned) == want
        # buckets holding only the old epoch are skipped entirely
        assert len(pruned.inputFiles()) < len(full.inputFiles())

    def test_range_pruning_never_drops_lww_state(self, spark, table):
        """A key UPDATED into the queried range: its old out-of-range file
        shares a bucket with the new in-range delta.  Bucket granularity
        keeps both, LWW resolves, and the updated row is returned."""
        table.merge(
            _mk_changes(spark, [("k", 0, "old", 10, 1, False)]), batch_id=0
        )
        table.merge(
            _mk_changes(spark, [("k", 0, "new", 9999, 2, False)]), batch_id=1
        )
        got = table.read(ranges={"ts": (9000, None)})
        assert _rows(got) == {("k", 0, "new", 9999)}
        # and the inverse: the key left the range; stale version must not
        # reappear just because its file's stats match
        assert table.read(ranges={"ts": (None, 100)}).count() == 0

    def test_stats_survive_fold_and_compaction(self, spark, table):
        for g in range(6):  # crosses max_files_per_bucket=4 → inline fold
            table.merge(
                _mk_changes(
                    spark, [("hotkey", 0, f"v{g}", 50 + g, g + 1, False)]
                ),
                batch_id=g,
            )
        table.compact()
        m = table.snapshot_manifest()
        live = {p for fl in m["files"].values() for p in fl}
        assert set(m["file_stats"]) == live  # no dead entries, none missing
        got = table.read(ranges={"ts": (55, 55)})
        assert _rows(got) == {("hotkey", 0, "v5", 55)}

    def test_file_without_stats_is_unprunable_not_dropped(self, spark, tmp_path):
        """Turning stats on mid-life: files committed before stats_cols was
        set have no entries and must survive every range read."""
        from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable

        path = str(tmp_path / "t2")
        t_nostats = BucketedLakeTable(
            spark, path, ["conv_id", "turn_idx"], n_buckets=4
        )
        t_nostats.merge(
            _mk_changes(spark, [("early", 0, "e", 5, 1, False)]), batch_id=0
        )
        t_stats = BucketedLakeTable(
            spark, path, ["conv_id", "turn_idx"], n_buckets=4,
            stats_cols=["ts"],
        )
        t_stats.merge(
            _mk_changes(spark, [("late", 0, "l", 500, 2, False)]), batch_id=1
        )
        got = t_stats.read(ranges={"ts": (0, 10)})
        assert _rows(got) == {("early", 0, "e", 5)}

    def test_predicates_push_into_parquet_scan(self, spark, table):
        """Key equality commutes with per-key LWW, so read() applies it
        below the aggregate on BOTH scan legs and Catalyst pushes it into
        the parquet readers; range predicates push only on the folded
        (single-file) leg.  At 100 TB this is what turns a surviving
        bucket's scan into a row-group-skipping scan."""
        table.merge(
            _mk_changes(
                spark, [(f"c{i}", 0, "x", i, 1, False) for i in range(40)]
            ),
            batch_id=0,
        )
        hit = table.read(keys={"conv_id": "c5", "turn_idx": 0})
        plan = hit._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters: [" in plan and "conv_id" in plan.split(
            "PushedFilters: ["
        )[1].split("]")[0]
        rng = table.read(ranges={"ts": (10, 20)})
        plan = rng._jdf.queryExecution().executedPlan().toString()
        pushed = plan.split("PushedFilters: [")[1].split("]")[0]
        assert "GreaterThanOrEqual(ts" in pushed and "LessThanOrEqual(ts" in pushed

    def test_compact_sort_by_clusters_and_stays_exact(self, spark, table):
        """compact() defaults sort_by to stats_cols: folded files come out
        ts-clustered (tight row-group stats for the pushed range filters)
        and the read results are unchanged."""
        import pyarrow.parquet as pq

        for g in range(3):
            table.merge(
                _mk_changes(
                    spark,
                    [(f"c{i}", g, "x", (i * 7 + g * 13) % 200, g + 1, False)
                     for i in range(50)],
                ),
                batch_id=g,
            )
        before = _rows(table.read())
        table.compact()
        assert _rows(table.read()) == before
        m = table.snapshot_manifest()
        for fl in m["files"].values():
            for p in fl:
                ts = pq.read_table(p, columns=["ts"])["ts"].to_pylist()
                assert ts == sorted(ts), f"{p} not ts-clustered"
        got = table.read(ranges={"ts": (50, 60)})
        assert _rows(got) == {r for r in before if 50 <= r[3] <= 60}

    def test_inline_fold_clusters_by_stats_cols(self, spark, table):
        """The inline fold is the same rewrite as compact(): its files come
        out ts-clustered too, with the read results unchanged."""
        import pyarrow.parquet as pq

        for g in range(5):  # crosses max_files_per_bucket=4 → inline fold
            table.merge(
                _mk_changes(
                    spark,
                    [(f"c{i}", g, "x", (i * 7 + g * 13) % 200, g + 1, False)
                     for i in range(50)],
                ),
                batch_id=g,
            )
        m = table.snapshot_manifest()
        folded = m["lineage"][-1]["buckets_folded"]
        assert folded
        for b in folded:
            (p,) = m["files"][str(b)]
            ts = pq.read_table(p, columns=["ts"])["ts"].to_pylist()
            assert ts == sorted(ts), f"{p} not ts-clustered"
        assert len(table.read().collect()) == 250

    def test_big_key_set_uses_semi_join_and_stays_exact(self, spark, table):
        """Past KEY_PREDICATE_MAX tuples, the lookup switches from an
        inlined OR predicate (would blow up codegen at 10k keys) to a
        broadcast semi-join — same rows, including across multi-file LWW
        buckets."""
        table.merge(
            _mk_changes(
                spark, [(f"c{i}", 0, f"v{i}", i, 1, False) for i in range(300)]
            ),
            batch_id=0,
        )
        table.merge(_mk_changes(spark, [("c5", 0, "v5b", 999, 2, False)]), batch_id=1)
        keys = [{"conv_id": f"c{i}", "turn_idx": 0} for i in range(0, 200, 2)]
        assert len(keys) > table.KEY_PREDICATE_MAX
        got = table.read(keys=keys)
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "LeftSemi" in plan and "Broadcast" in plan
        want = {
            (f"c{i}", 0, "v5b" if i == 5 else f"v{i}", 999 if i == 5 else i)
            for i in range(0, 200, 2)
        }
        assert _rows(got) == want

    def test_distributed_footer_stats_past_64_files(self, spark, tmp_path):
        """>64 files per commit takes the executor-parallel stats path —
        the manifest must still carry complete, correct min/max."""
        from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable

        t = BucketedLakeTable(
            spark, str(tmp_path / "big"), ["conv_id", "turn_idx"],
            n_buckets=128, stats_cols=["ts"],
        )
        t.merge(
            _mk_changes(
                spark, [(f"k{i}", 0, "x", 1000 + i, 1, False) for i in range(600)]
            ),
            batch_id=0,
        )
        m = t.snapshot_manifest()
        live = [p for fl in m["files"].values() for p in fl]
        assert len(live) > 64  # actually exercised the parallelize path
        stats = m["file_stats"]
        assert set(stats) == set(live)
        assert min(s["ts"][0] for s in stats.values()) == 1000
        assert max(s["ts"][1] for s in stats.values()) == 1599

    def test_keys_and_ranges_compose(self, spark, table):
        table.merge(
            _mk_changes(
                spark, [(f"c{i}", 0, "x", i, 1, False) for i in range(20)]
            ),
            batch_id=0,
        )
        hit = table.read(keys={"conv_id": "c5", "turn_idx": 0}, ranges={"ts": (0, 10)})
        assert _rows(hit) == {("c5", 0, "x", 5)}
        miss = table.read(
            keys={"conv_id": "c15", "turn_idx": 0}, ranges={"ts": (0, 10)}
        )
        assert miss.count() == 0


class TestZOrderCompaction:
    """compact(zorder_by=[x, y]) clusters along a space-filling curve:
    row-groups stay tight for BOTH columns (a linear sort tightens only
    its leading column), results are unchanged, and non-numeric columns
    fail loud."""

    def _mk(self, spark, tmp_path, name):
        from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable

        t = BucketedLakeTable(
            spark, str(tmp_path / name), ["conv_id", "turn_idx"], n_buckets=1,
        )
        # x sweeps rows, y deliberately anti-correlated with x so a linear
        # sort by x leaves y's spread at full range everywhere
        rows = [
            (f"k{i}", 0, f"v{i}", i, (997 * i) % 256, 1, False)
            for i in range(256)
        ]
        df = spark.createDataFrame(
            [(c, t_, x, xv, yv, bool(d) and False, g, g, 1)
             for (c, t_, x, xv, yv, g, d) in rows],
            "conv_id string, turn_idx bigint, text string, x bigint, "
            "y bigint, _deleted boolean, _gtid bigint, _event_seq bigint, "
            "_event_row_index bigint",
        )
        t.merge(df, batch_id=0)
        return t

    @staticmethod
    def _z(x, y, bits=8):
        z = 0
        for b in range(bits):
            z |= ((x >> b) & 1) << (2 * b) | ((y >> b) & 1) << (2 * b + 1)
        return z

    def test_zorder_clusters_and_stays_exact(self, spark, tmp_path):
        import pyarrow.parquet as pq

        t = self._mk(spark, tmp_path, "z")
        before = {(r.conv_id, r.x, r.y) for r in t.read().collect()}
        t.compact(zorder_by=["x", "y"], buckets=[0])
        assert {(r.conv_id, r.x, r.y) for r in t.read().collect()} == before
        m = t.snapshot_manifest()
        [path] = [p for fl in m["files"].values() for p in fl]
        tb = pq.read_table(path, columns=["x", "y"])
        xs, ys = tb["x"].to_pylist(), tb["y"].to_pylist()
        assert "_z" not in pq.read_schema(path).names  # helper col dropped
        # rows follow the z-curve: x,y bounds normalize to 8 bits here
        # (0..255 ranges), so the file order must be z-nondecreasing
        zs = [self._z(x, y) for x, y in zip(xs, ys)]
        assert zs == sorted(zs)
        # tightness for BOTH columns: split the file's row order into 16
        # equal chunks (stand-ins for row groups) — mean per-chunk spread
        # must be far below the global range on x AND y; a linear sort by
        # x only achieves that for x
        def mean_spread(vals):
            n = len(vals) // 16
            return sum(
                max(vals[i:i + n]) - min(vals[i:i + n])
                for i in range(0, n * 16, n)
            ) / 16
        assert mean_spread(xs) < 256 * 0.5 and mean_spread(ys) < 256 * 0.5
        t2 = self._mk(spark, tmp_path, "lin")
        t2.compact(sort_by=["x"], buckets=[0])
        m2 = t2.snapshot_manifest()
        [p2] = [p for fl in m2["files"].values() for p in fl]
        tb2 = pq.read_table(p2, columns=["y"])
        assert mean_spread(tb2["y"].to_pylist()) > 256 * 0.7  # the contrast

    def test_zorder_rejects_strings_and_sortby_combo(self, spark, tmp_path):
        t = self._mk(spark, tmp_path, "zbad")
        with pytest.raises(ValueError, match="numeric"):
            t.compact(zorder_by=["text"], buckets=[0])
        with pytest.raises(ValueError, match="not both"):
            t.compact(zorder_by=["x"], sort_by=["y"], buckets=[0])


class TestPruningInvariantSweep:
    """The module's header invariant, made executable: over randomized
    (seed-fixed) op sequences — inserts, updates, deletes, folds,
    compactions — a pruned read equals the same filter over the full
    read, for random key sets and random ranges."""

    def test_random_histories_pruned_equals_filtered(self, spark, tmp_path):
        import random

        from pyspark.sql import functions as F

        from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable

        rng = random.Random(20260817)
        for case in range(4):
            t = BucketedLakeTable(
                spark, str(tmp_path / f"t{case}"), ["conv_id", "turn_idx"],
                n_buckets=rng.choice([4, 8]),
                max_files_per_bucket=rng.choice([2, 4]),
                stats_cols=["ts"],
            )
            live: dict = {}
            gtid = 0
            for batch in range(rng.randint(2, 4)):
                rows = []
                for _ in range(rng.randint(5, 25)):
                    gtid += 1
                    k = (f"c{rng.randint(0, 15)}", rng.randint(0, 1))
                    if live and rng.random() < 0.2:  # delete something live
                        k = rng.choice(list(live))
                        rows.append((k[0], k[1], None, 0, gtid, True))
                        live.pop(k, None)
                    else:
                        ts = rng.choice([rng.randint(0, 99),
                                         rng.randint(10_000, 10_099)])
                        rows.append((k[0], k[1], f"v{gtid}", ts, gtid, False))
                        live[k] = (f"v{gtid}", ts)
                t.merge(_mk_changes(spark, rows), batch_id=batch)
                if rng.random() < 0.4:
                    t.compact()
            # random ranges
            ranges = []
            for _ in range(3):
                lo = rng.choice([None, rng.randint(0, 120)])
                hi = rng.choice([None, rng.randint(50, 11_000)])
                if lo is not None and hi is not None and lo > hi:
                    lo, hi = hi, lo
                ranges.append((lo, hi))
            # random key sets (mix of live, deleted, absent)
            probe = [
                {"conv_id": f"c{rng.randint(0, 18)}", "turn_idx": rng.randint(0, 2)}
                for _ in range(rng.randint(1, 6))
            ]
            _assert_pruned_matches(t, live, ranges, probe, case)

    def test_tiered_histories_pruned_equals_filtered(self, spark, tmp_path):
        """The same sweep over histories whose folds leave a base in
        place: a ~200-row first batch of long rows, then more small
        batches than the fold cap, so over-cap buckets fold their deltas
        alone."""
        import random

        from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable

        rng = random.Random(20261019)
        delta_folds = 0
        for case in range(2):
            cap = rng.choice([2, 3])
            t = BucketedLakeTable(
                spark, str(tmp_path / f"t{case}"), ["conv_id", "turn_idx"],
                n_buckets=4, max_files_per_bucket=cap, stats_cols=["ts"],
            )
            live: dict = {}
            gtid = 0
            for batch in range(cap + 2 + rng.randint(0, 2)):
                rows = []
                for _ in range(200 if batch == 0 else rng.randint(5, 12)):
                    gtid += 1
                    k = (f"c{rng.randint(0, 99)}", rng.randint(0, 1))
                    if batch and rng.random() < 0.3:  # delete something
                        k = rng.choice(list(live))
                        rows.append((k[0], k[1], None, 0, gtid, True))
                        live.pop(k, None)
                    else:
                        ts = rng.randint(0, 999)
                        # ~1 KB of incompressible text per base row
                        pad = random.Random(gtid).randbytes(1024).hex()
                        x = f"v{gtid}" + (pad if batch == 0 else "")
                        rows.append((k[0], k[1], x, ts, gtid, False))
                        live[k] = (x, ts)
                rec = t.merge(_mk_changes(spark, rows), batch_id=batch)
                delta_folds += len(set(rec["buckets_folded"]) - set(rec["buckets_rebased"]))
            ranges = [sorted(rng.sample(range(1000), 2)) for _ in range(3)]
            probe = [
                {"conv_id": f"c{rng.randint(0, 102)}", "turn_idx": rng.randint(0, 2)}
                for _ in range(rng.randint(1, 6))
            ]
            _assert_pruned_matches(t, live, ranges, probe, case)
        assert delta_folds


class TestZOrderBitWidthCap:
    """4+ z-order columns must never touch bit 63 (long sign) or shift
    past 64 (JVM shift wraps mod 64) — the per-column width shrinks to
    keep every interleave position in [0, 62] (round-6 ADVICE)."""

    @staticmethod
    def _py_z(vals, bounds, bits):
        z = 0
        n = len(vals)
        for i, v in enumerate(vals):
            lo, hi = bounds[i]
            rng = float(hi - lo) or 1.0
            norm = int((v - lo) / rng * ((1 << bits) - 1))  # trunc = cast long
            norm = min((1 << bits) - 1, max(0, norm))
            for b in range(bits):
                z |= ((norm >> b) & 1) << (b * n + i)
        return z

    def test_four_columns_nonnegative_and_matches_model(self, spark):
        from myzql_binlog_connector_spark.plans.lake import _zorder_expr

        rows = [
            (i, (997 * i) % 256, (13 * i + 7) % 256, (57 * i + 3) % 256)
            for i in range(256)
        ]
        df = spark.createDataFrame(rows, "a bigint, b bigint, c bigint, d bigint")
        bounds = {c: (0, 255) for c in ("a", "b", "c", "d")}
        got = df.select(
            "a", "b", "c", "d",
            _zorder_expr(["a", "b", "c", "d"], bounds).alias("z"),
        ).collect()
        capped_bits = 63 // 4  # 15: max position 15*4-1 = 59 < 63
        for r in got:
            assert r.z >= 0, (r, "sign bit set")
            want = self._py_z(
                (r.a, r.b, r.c, r.d), [bounds[c] for c in "abcd"], capped_bits
            )
            assert r.z == want, (r, want)

    def test_five_columns_no_shift_wrap(self, spark):
        from myzql_binlog_connector_spark.plans.lake import _zorder_expr

        rows = [
            (i, 255 - i, (31 * i) % 256, (7 * i) % 256, (127 * i) % 256)
            for i in range(256)
        ]
        df = spark.createDataFrame(
            rows, "a bigint, b bigint, c bigint, d bigint, e bigint"
        )
        cols = ["a", "b", "c", "d", "e"]
        bounds = {c: (0, 255) for c in cols}
        got = df.select(
            *cols, _zorder_expr(cols, bounds).alias("z")
        ).collect()
        capped_bits = 63 // 5  # 12: max position 12*5-1 = 59
        for r in got:
            assert r.z >= 0
            want = self._py_z(
                tuple(r[c] for c in cols), [bounds[c] for c in cols], capped_bits
            )
            assert r.z == want

    def test_four_column_compaction_curve_not_scrambled(self, spark, tmp_path):
        """End-to-end: a 4-column z-order compaction writes rows in
        nondecreasing capped-width z order (pre-fix, the sign bit made
        half the file sort 'negative-first', scrambling the curve)."""
        import pyarrow.parquet as pq

        from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable

        t = BucketedLakeTable(
            spark, str(tmp_path / "z4"), ["conv_id", "turn_idx"], n_buckets=1
        )
        df = spark.createDataFrame(
            [
                (f"k{i}", 0, i, (997 * i) % 256, (13 * i + 7) % 256,
                 (57 * i + 3) % 256, False, 1, 1, 1)
                for i in range(256)
            ],
            "conv_id string, turn_idx bigint, w bigint, x bigint, y bigint, "
            "z bigint, _deleted boolean, _gtid bigint, _event_seq bigint, "
            "_event_row_index bigint",
        )
        t.merge(df, batch_id=0)
        t.compact(zorder_by=["w", "x", "y", "z"], buckets=[0])
        m = t.snapshot_manifest()
        [path] = [p for fl in m["files"].values() for p in fl]
        tb = pq.read_table(path, columns=["w", "x", "y", "z"])
        bounds = [(0, 255)] * 4
        zs = [
            self._py_z(vals, bounds, 63 // 4)
            for vals in zip(
                tb["w"].to_pylist(), tb["x"].to_pylist(),
                tb["y"].to_pylist(), tb["z"].to_pylist(),
            )
        ]
        assert zs == sorted(zs)


class TestRangeReadTombstones:
    def test_ranges_with_include_tombstones_keeps_tombstones(
        self, spark, table
    ):
        """Tombstones null-pad payload columns; the row-level range
        predicate must not silently drop them when the caller explicitly
        asked for them (round-6 ADVICE)."""
        table.merge(
            _mk_changes(
                spark,
                [(f"c{i}", 0, f"v{i}", 100 + i, 1, False) for i in range(10)],
            ),
            batch_id=0,
        )
        table.merge(
            _mk_changes(spark, [("c3", 0, None, None, 2, True)]), batch_id=1
        )
        got = table.read(
            ranges={"ts": (100, 104)},
            include_tombstones=True,
            include_meta=True,
        )
        keys = {(r.conv_id, r.turn_idx, bool(r._deleted))
                for r in got.select(
                    "conv_id", "turn_idx", "_deleted").collect()}
        # live rows in range (c3 was tombstoned, so c0,c1,c2,c4) + the
        # tombstone itself, exempt from the range predicate
        assert keys == {
            ("c0", 0, False), ("c1", 0, False), ("c2", 0, False),
            ("c4", 0, False), ("c3", 0, True),
        }
        # without the flag, semantics are unchanged: live in-range rows only
        live = table.read(ranges={"ts": (100, 104)})
        assert {r.conv_id for r in live.collect()} == {"c0", "c1", "c2", "c4"}


def _jobs_of(spark, fn):
    """(fn(), ids of the Spark jobs fn launched on this thread)."""
    sc = spark.sparkContext
    group = f"probe-{id(fn)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _stored_bucket_ids(spark, m, cols):
    """{key tuple of ``cols``: (bucket dir it is stored in,
    pmod(hash(cols), n_buckets) computed by Spark over the stored row)}
    for every row of manifest ``m``."""
    from pyspark.sql import functions as F

    n = int(m["n_buckets"])
    dir_of = {p: int(b) for b, fl in m["files"].items() for p in fl}
    files = [p for fl in m["files"].values() for p in fl]
    rows = (
        spark.read.parquet(*files)
        .select(
            *cols,
            F.pmod(F.hash(*cols), F.lit(n)).alias("_h"),
            F.input_file_name().alias("_f"),
        )
        .collect()
    )
    return {
        tuple(r[c] for c in cols): (dir_of[unquote(urlparse(r["_f"]).path)], r["_h"])
        for r in rows
    }


class TestDriverSideBucketIds:
    """Up to KEY_PREDICATE_MAX probe tuples, a keyed read's bucket ids are
    Spark's own pmod(hash(...)) evaluated over a driver-local relation:
    no Spark job, and the same ids the merge wrote the rows under."""

    TYPED = (
        "s string, i int, l bigint, d decimal(12,3), dt date, ts timestamp, "
        "v string, _deleted boolean, _gtid bigint, _event_seq bigint, "
        "_event_row_index bigint"
    )
    KEYS = ["s", "i", "l", "d", "dt", "ts"]

    def _typed_rows(self):
        import datetime as dtm
        from decimal import Decimal

        rows = [
            (
                f"k{j}", j - 3, (j - 3) * 2**40, Decimal(f"{j * 7 - 20}.{j:03d}"),
                dtm.date(2020, 1, 1) + dtm.timedelta(days=37 * j),
                dtm.datetime(2021, 3, 14, 1, 59, 26, 5000 * j)
                + dtm.timedelta(hours=11 * j),
            )
            for j in range(8)
        ]
        # a NULL in every key part, one part at a time
        rows += [
            tuple(None if c == n else v for c, v in enumerate(rows[n]))
            for n in range(len(self.KEYS))
        ]
        return rows

    def test_small_probe_runs_no_job_and_plans_local_scan(self, spark, table):
        from pyspark.sql import DataFrame

        table.merge(
            _mk_changes(
                spark, [(f"c{i}", 0, f"v{i}", i, 1, False) for i in range(30)]
            ),
            batch_id=0,
        )
        m = table.snapshot_manifest()
        schema = table.read(include_meta=True).schema
        keys = [{"conv_id": f"c{i}", "turn_idx": 0} for i in (3, 11, 27)]
        plans = []
        cls = type(spark.range(1))
        real_collect = cls.collect

        def spy(df: DataFrame):
            plans.append(df._jdf.queryExecution().executedPlan().toString())
            return real_collect(df)

        cls.collect = spy
        try:
            ids, jobs = _jobs_of(
                spark,
                lambda: table._buckets_for_keys(
                    keys, schema, 16, ["conv_id", "turn_idx"]
                ),
            )
        finally:
            cls.collect = real_collect
        assert jobs == []
        assert len(plans) == 1 and plans[0].startswith("LocalTableScan")
        stored = _stored_bucket_ids(spark, m, ["conv_id", "turn_idx"])
        assert ids == {stored[(k["conv_id"], 0)][0] for k in keys}
        # the job counter does see the read itself
        rows, jobs = _jobs_of(spark, lambda: table.read(keys=keys).collect())
        assert len(rows) == 3 and jobs

    def test_ids_match_stored_rows_per_key_type(self, spark, tmp_path):
        """Every key type, NULL key parts and a non-UTC session zone: the
        driver-side id of each stored row's key is the bucket the merge
        wrote it to, and Spark's pmod(hash) over the stored row."""
        from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable

        zone = spark.conf.get("spark.sql.session.timeZone")
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        try:
            t = BucketedLakeTable(spark, str(tmp_path / "typed"), self.KEYS, n_buckets=16)
            rows = self._typed_rows()
            t.merge(
                spark.createDataFrame(
                    [r + (f"v{n}", False, 1, 1, n) for n, r in enumerate(rows)],
                    self.TYPED,
                ),
                batch_id=0,
            )
            m = t.snapshot_manifest()
            schema = t.read(include_meta=True).schema
            stored = _stored_bucket_ids(spark, m, self.KEYS)
            assert len(stored) == len(rows)
            keys = [dict(zip(self.KEYS, r)) for r in rows]
            for key, r in zip(keys, rows):
                want = stored[r]
                assert want[0] == want[1]
                assert t._buckets_for_keys([key], schema, 16, self.KEYS) == {want[0]}
            got = t.read(keys=keys).select(*self.KEYS).collect()
            assert sorted(map(tuple, got), key=repr) == sorted(rows, key=repr)
            # one key type at a time, hashed against the stored rows
            for c in self.KEYS:
                by_c = _stored_bucket_ids(spark, m, [c])
                got = t._buckets_for_keys(
                    [{c: v} for (v,) in by_c], schema, 16, [c]
                )
                assert got == {h for _, h in by_c.values()}, c
        finally:
            spark.conf.set("spark.sql.session.timeZone", zone)

    def test_group_lookup_and_time_travel_across_rebucket(self, spark, table):
        """A bucket_cols=["conv_id"] group lookup hashes the group column;
        an at_version read from before a rebucket hashes that snapshot's
        full-key, 16-bucket layout."""
        table.merge(
            _mk_changes(
                spark,
                [(f"c{i}", j, f"v{i}.{j}", i, 1, False)
                 for i in range(12) for j in range(2)],
            ),
            batch_id=0,
        )
        m_old = table.snapshot_manifest()
        schema = table.read(include_meta=True).schema
        table.rebucket(8, bucket_cols=["conv_id"])
        m_new = table.snapshot_manifest()

        full = _stored_bucket_ids(spark, m_old, ["conv_id", "turn_idx"])
        keys = [{"conv_id": "c4", "turn_idx": 1}, {"conv_id": "c9", "turn_idx": 0}]
        hit = table._select_buckets(m_old, schema, keys=keys)
        assert set(map(int, hit)) == {
            full[(k["conv_id"], k["turn_idx"])][0] for k in keys
        }
        old = table.read(at_version=m_old["version"], keys=keys)
        assert _rows(old) == {("c4", 1, "v4.1", 4), ("c9", 0, "v9.0", 9)}

        grp = _stored_bucket_ids(spark, m_new, ["conv_id"])
        hit = table._select_buckets(m_new, schema, keys=[{"conv_id": "c4"}])
        assert set(map(int, hit)) == {grp[("c4",)][0]} == {grp[("c4",)][1]}
        assert _rows(table.read(keys={"conv_id": "c4"})) == {
            ("c4", 0, "v4.0", 4), ("c4", 1, "v4.1", 4)
        }


class TestSqlLiteral:
    """``_sql_literal(v)`` is the SQL text of ``F.lit(v)``: cast to a key
    type, it evaluates to the value ``F.lit(v).cast(type)`` does, in a
    non-UTC session and for a naive datetime read as that zone's local
    time by both sides."""

    AWKWARD = ["", "it's", "back\\slash", "back`tick", "new\nline", "é漢😀"]

    def _cases(self):
        import datetime as dtm
        from decimal import Decimal

        edge = dtm.datetime(2021, 3, 14, 2, 30, 0, 123456)  # LA spring-forward gap
        return [
            (None, "int"), (None, "string"), (None, "timestamp"),
            (True, "boolean"), (False, "boolean"),
            (2**31 - 1, "int"), (-(2**31), "int"),
            (2**63 - 1, "bigint"), (-(2**63), "bigint"), (7, "bigint"),
            (7, "double"), (7, "string"),
            (-0.0, "double"), (float("nan"), "double"), (float("inf"), "double"),
            (float("-inf"), "double"), (1.5, "double"), (0.1, "double"),
            (1.5, "decimal(12,3)"), (1e300, "double"),
            *[(s, "string") for s in self.AWKWARD],
            ("2021-03-14", "date"), ("42", "bigint"),
            (b"", "binary"), (b"\x00'\\\xff", "binary"),
            (Decimal("-12.345"), "decimal(12,3)"), (Decimal("1E+3"), "decimal(12,3)"),
            (Decimal("0.5"), "double"),
            (dtm.date(2021, 3, 14), "date"), (dtm.date(2021, 3, 14), "timestamp"),
            (edge, "timestamp"), (edge, "date"), (edge, "timestamp_ntz"),
            (dtm.datetime(2021, 11, 7, 1, 30), "timestamp"),  # LA fall-back overlap
            (dtm.datetime(2021, 11, 7, 1, 30, tzinfo=dtm.timezone.utc), "timestamp"),
        ]

    def test_cast_literal_equals_cast_lit(self, spark):
        import math
        import os
        import time

        from pyspark.sql import functions as F

        from myzql_binlog_connector_spark.plans.lake import _sql_literal

        def same(a, b):
            if isinstance(a, float) and isinstance(b, float):
                return repr(a) == repr(b)  # NaN and -0.0 compare by spelling
            return type(a) is type(b) and a == b

        cases = self._cases()
        zone = spark.conf.get("spark.sql.session.timeZone")
        tz = os.environ.get("TZ")
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        os.environ["TZ"] = "America/Los_Angeles"
        time.tzset()
        try:
            text = spark.sql(
                "SELECT " + ", ".join(
                    f"CAST({_sql_literal(v)} AS {t}) AS c{i}"
                    for i, (v, t) in enumerate(cases)
                )
            )
            lit = spark.range(1).select(
                *[F.lit(v).cast(t).alias(f"c{i}") for i, (v, t) in enumerate(cases)]
            )
            assert [f.dataType for f in text.schema] == [f.dataType for f in lit.schema]
            got, want = text.collect()[0], lit.collect()[0]
        finally:
            spark.conf.set("spark.sql.session.timeZone", zone)
            if tz is None:
                del os.environ["TZ"]
            else:
                os.environ["TZ"] = tz
            time.tzset()
        for (v, t), g, w in zip(cases, got, want):
            assert same(g, w), (v, t, g, w)
            assert (g is None) == (v is None), (v, t, g)
        assert any(isinstance(g, float) and math.isnan(g) for g in got)

    def test_other_types_raise(self):
        from myzql_binlog_connector_spark.plans.lake import _sql_literal

        for v in (object(), [1], {"a": 1}):
            with pytest.raises(TypeError):
                _sql_literal(v)

    def test_awkward_string_keys_read_exactly(self, spark, table):
        """A keyed read over string keys holding quotes, backslashes,
        backticks, newlines and non-ASCII returns exactly the stored rows,
        across single- and multi-file buckets."""
        keys = self.AWKWARD + ["plain"]
        table.merge(
            _mk_changes(spark, [(k, 0, f"v1:{k}", 1, 1, False) for k in keys]),
            batch_id=0,
        )
        table.merge(
            _mk_changes(spark, [(k, 0, f"v2:{k}", 2, 2, False) for k in keys[::2]]),
            batch_id=1,
        )
        live = {k: ("v2:" if n % 2 == 0 else "v1:") + k for n, k in enumerate(keys)}
        probe = self.AWKWARD + ["missing"]
        got = table.read(keys=[{"conv_id": k, "turn_idx": 0} for k in probe]).collect()
        assert sorted((r.conv_id, r.text) for r in got) == sorted(
            (k, live[k]) for k in self.AWKWARD
        )
        for k in self.AWKWARD:
            (r,) = table.read(keys={"conv_id": k, "turn_idx": 0}).collect()
            assert (r.conv_id, r.turn_idx, r.text) == (k, 0, live[k])
