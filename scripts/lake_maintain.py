"""Lake maintenance CLI — the out-of-band half of the merge-on-read
design (Delta OPTIMIZE / VACUUM / Iceberg rewrite analogues).

At 100 TB the ingest path stays O(batch) precisely because folding,
tombstone GC, storage reclamation, and bucket-count migration are
somebody's scheduled job, not part of a merge.  This is that job:

    python scripts/lake_maintain.py <table_path> --keys conv_id,turn_idx \
        [--status]                 # needs_fold + manifest summary, no writes
        [--compact]                # fold needs_fold() buckets (or --all-buckets)
        [--sort-by ts]             # cluster rewritten buckets (row-group skipping)
        [--zorder-by x,y]          # or Z-curve cluster for multi-column skipping
        [--vacuum N]               # retain last N versions, reclaim the rest
        [--rebucket N]             # migrate bucket count (one full rewrite)
        [--bucket-cols conv_id]    # with --rebucket: migrate bucket columns too
        [--master local[*]]

Prints one JSON summary line per action (scriptable; same convention as
the main CLI and bench).  Single-writer contract: run from the maintenance
writer only — concurrent merges will lose the CAS race cleanly
(ConcurrentWriteError), never corrupt."""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="lake_maintain")
    ap.add_argument("table", help="table root path")
    ap.add_argument("--keys", required=True,
                    help="comma-separated key columns (must match the table)")
    ap.add_argument("--status", action="store_true",
                    help="report needs_fold + manifest summary, write nothing")
    ap.add_argument("--compact", action="store_true")
    ap.add_argument("--all-buckets", action="store_true",
                    help="compact every bucket, not just needs_fold()")
    ap.add_argument("--sort-by", default=None,
                    help="comma-separated cluster columns for --compact")
    ap.add_argument("--zorder-by", default=None,
                    help="comma-separated NUMERIC columns: cluster --compact "
                    "rewrites along a Z-curve (multi-column data skipping)")
    ap.add_argument("--vacuum", type=int, default=None, metavar="N",
                    help="retain the last N versions")
    ap.add_argument("--orphan-grace-s", type=float, default=3600,
                    help="skip unreferenced files younger than this "
                    "(in-flight-commit guard; 0 only when no writer runs)")
    ap.add_argument("--rebucket", type=int, default=None, metavar="N")
    ap.add_argument("--bucket-cols", default=None,
                    help="with --rebucket: migrate the bucket-column "
                    "layout too (comma-separated subset of --keys; e.g. "
                    "conv_id to make conversation fetches one-bucket reads)")
    ap.add_argument("--max-files-per-bucket", type=int, default=8,
                    help="fold threshold for needs_fold()/--compact: files "
                    "a bucket may hold on top of its base (an operator "
                    "policy, not table state)")
    ap.add_argument("--master", default="local[*]")
    args = ap.parse_args(argv)
    if not (args.status or args.compact or args.vacuum or args.rebucket):
        ap.error("nothing to do: pass --status, --compact, --vacuum or --rebucket")

    from pyspark.sql import SparkSession

    from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable

    spark = (
        SparkSession.builder.master(args.master)
        .appName("lake-maintain")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    t = BucketedLakeTable(
        spark, args.table, args.keys.split(","),
        max_files_per_bucket=args.max_files_per_bucket,
    )
    m = t.snapshot_manifest()
    if m is None:
        print(json.dumps({"error": "no committed manifest", "table": args.table}))
        return 2
    t._sync_layout(m)  # adopt committed n_buckets; raise on key mismatch
    out = []
    if args.status:
        # distinct paths: a shared delta file is listed under every
        # bucket it holds rows of
        files = {p for fl in m["files"].values() for p in fl}
        out.append({
            "action": "status",
            "version": m["version"],
            "n_buckets": int(m["n_buckets"]),
            "bucket_cols": t.bucket_cols,
            "live_files": len(files),
            "needs_fold": t.needs_fold(),
            "retained_versions": len(t.versions()),
        })
    if args.compact:
        buckets = None if args.all_buckets else (t.needs_fold() or None)
        if not args.all_buckets and buckets is None:
            out.append({"action": "compact", "skipped": "nothing over bound"})
        else:
            rec = t.compact(
                buckets=buckets,
                sort_by=args.sort_by.split(",") if args.sort_by else None,
                zorder_by=args.zorder_by.split(",") if args.zorder_by else None,
            )
            out.append({"action": "compact", **rec})
    if args.rebucket:
        out.append({"action": "rebucket", **t.rebucket(
            args.rebucket,
            bucket_cols=args.bucket_cols.split(",") if args.bucket_cols else None,
        )})
    if args.vacuum:
        out.append({"action": "vacuum", **t.vacuum(
            retain_last=args.vacuum, orphan_grace_s=args.orphan_grace_s
        )})
    for rec in out:
        print(json.dumps(rec))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
