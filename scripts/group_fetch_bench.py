"""Group co-location economics (round-7 `bucket_cols`) + incremental
matview refresh economics, at bench scale.

Two questions, answered with the Appendix-H methodology (files planned is
the scale-invariant number; wall time at sf0.1 is job-overhead-dominated):

1. On a conv-bucketed table (`bucket_cols=["conv_id"]`), what does "fetch
   one conversation" cost vs the full-key-bucketed layout it replaces?
   The full-key layout CANNOT prune a conv fetch (turns hash everywhere),
   so its cost is a full scan; the conv layout plans one bucket.

2. What does an incremental matview refresh cost vs recomputing the view
   from scratch, when a commit touches a handful of conversations?

Prints one JSON line; results go to BENCH/BASELINE.md Appendix M.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402


def main():
    from pyspark.sql import functions as F

    from myzql_binlog_connector_spark.plans.apply import TranscriptsApplier
    from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable
    from myzql_binlog_connector_spark.streaming.matview import materialize

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = bench.build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    sf_tag = os.environ.get("SPARK_GRAFT_SF_TAG", "sf0.1")
    seg_dir, n_ops = bench.ensure_cdc_fixture(sf_tag)
    paths = sorted(glob.glob(os.path.join(seg_dir, "*.parquet")))
    conv_dir = bench.scratch_dir("bench_grpfetch_conv_")
    key_dir = bench.scratch_dir("bench_grpfetch_key_")
    view_dir = bench.scratch_dir("bench_grpfetch_view_")
    ckpt = bench.scratch_dir("bench_grpfetch_ck_")
    out: dict = {"sf": sf_tag, "n_ops": n_ops, "cpus": cpus, "n_buckets": 256}
    try:
        conv_t = BucketedLakeTable(
            spark, conv_dir, ["conv_id", "turn_idx"], n_buckets=256,
            bucket_cols=["conv_id"],
        )
        key_t = BucketedLakeTable(
            spark, key_dir, ["conv_id", "turn_idx"], n_buckets=256
        )
        TranscriptsApplier(spark, conv_t).apply_files(paths, batch_id=0)
        TranscriptsApplier(spark, key_t).apply_files(paths, batch_id=0)

        # 8 conversations from 8 distinct conv-buckets
        probe = [
            {"conv_id": r.conv_id}
            for r in conv_t.read()
            .withColumn("_b", conv_t.bucket_expr())
            .dropDuplicates(["_b"])
            .limit(8)
            .collect()
        ]
        convs = [k["conv_id"] for k in probe]

        def filter_df(t):
            return t.read().filter(F.col("conv_id").isin(convs))

        grp = conv_t.read(keys=probe)
        n_rows = grp.count()
        assert n_rows == filter_df(conv_t).count() == filter_df(key_t).count()
        out["fetched_rows"] = n_rows
        out["files_planned"] = {
            "conv_bucketed_pruned": len(grp.inputFiles()),
            "conv_bucketed_full_filter": len(filter_df(conv_t).inputFiles()),
            "full_key_layout_filter": len(filter_df(key_t).inputFiles()),
        }
        pruned_trials, scan_trials = [], []
        for _ in range(2):
            t0 = time.monotonic()
            conv_t.read(keys=probe).count()
            pruned_trials.append(round(time.monotonic() - t0, 3))
            t0 = time.monotonic()
            filter_df(key_t).count()
            scan_trials.append(round(time.monotonic() - t0, 3))
        out["group_fetch"] = {
            "pruned_sec": min(pruned_trials), "pruned_trials": pruned_trials,
            "full_key_scan_sec": min(scan_trials), "scan_trials": scan_trials,
        }

        # ---- matview refresh economics --------------------------------
        aggs = {
            "n_turns": F.count(F.lit(1)),
            "last_ts": F.max("ts"),
            "total_chars": F.sum(F.length("text")),
        }
        view = BucketedLakeTable(spark, view_dir, ["conv_id"], n_buckets=64)
        t0 = time.monotonic()
        q = materialize(
            spark, conv_t.path, view, ckpt, group_cols=["conv_id"],
            aggs=aggs, bootstrap_from=conv_t,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        out["bootstrap_sec"] = round(time.monotonic() - t0, 3)
        out["view_groups"] = view.read().count()

        # one small commit touching the 8 probed conversations
        delta = (
            conv_t.read(keys=probe, include_meta=True)
            .withColumn("text", F.concat(F.col("text"), F.lit(" (edited)")))
            .withColumn("_gtid", F.col("_gtid") + F.lit(10_000_000))
            .drop("_bucket")
        )
        conv_t.merge(delta, batch_id="touch-8-convs")

        refresh_trials = []
        for _ in range(2):
            t0 = time.monotonic()
            q = materialize(
                spark, conv_t.path, view, ckpt,
                group_cols=["conv_id"], aggs=aggs,
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
            refresh_trials.append(round(time.monotonic() - t0, 3))
        refreshes = [r for r in view.lineage() if "refreshed_groups" in r]
        out["incremental_refresh"] = {
            # trial 2 drains an empty feed: the pure stream fixed cost
            "catchup_sec": refresh_trials[0],
            "empty_drain_sec": refresh_trials[1],
            "marginal_refresh_sec": round(
                refresh_trials[0] - refresh_trials[1], 3
            ),
            "refreshed_groups": refreshes[-1]["refreshed_groups"],
            "pruned_refresh": refreshes[-1]["pruned_refresh"],
        }
        # the alternative: recompute the whole view
        full_trials = []
        for _ in range(2):
            t0 = time.monotonic()
            conv_t.read().groupBy("conv_id").agg(
                *[e.alias(n) for n, e in aggs.items()]
            ).count()
            full_trials.append(round(time.monotonic() - t0, 3))
        out["full_recompute_sec"] = min(full_trials)
        out["full_recompute_trials"] = full_trials

        # correctness: view == full recompute after the incremental pass
        got = {
            r.conv_id: (r.n_turns, r.total_chars)
            for r in view.read().collect()
        }
        want = {
            r.conv_id: (r.n_turns, r.total_chars)
            for r in conv_t.read().groupBy("conv_id")
            .agg(*[e.alias(n) for n, e in aggs.items()]).collect()
        }
        assert got == want, "matview diverged from full recompute"
        out["state_match"] = True
        print("RESULT:" + json.dumps(out))
    finally:
        for d in (conv_dir, key_dir, view_dir, ckpt):
            shutil.rmtree(d, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
