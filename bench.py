"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The flagship measurement is the north metric's sandbox form: change-events/
sec applied end-to-end (synthetic binlog replay → decode → LWW → merged
lake-table state).  The synthetic stream is generated once per (sf, seed)
and cached under /tmp — generation is fixture cost, not engine time.

Scaling evidence across parallelism levels is produced by
scripts/scaling_bench.py (writes BENCH/BASELINE.md).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

CDC_OPS_TARGET = int(os.environ.get("SPARK_GRAFT_CDC_OPS", "3200000"))
SEED = 42


def cdc_cache_dir(sf_tag: str) -> str:
    return os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_bench_cache/{sf_tag}-seed{SEED}-ops{CDC_OPS_TARGET}-v2",
    )


def ensure_cdc_fixture(sf_tag: str) -> tuple[str, int]:
    """Generate (once) and cache the synthetic binlog segment store.
    Returns (segments_dir, n_change_rows).

    ``SPARK_GRAFT_CDC_FIXTURE_DIR`` points at an alternate pre-built
    fixture root (segments/ + meta.json), so the standard measurements
    can run over another stream."""
    from myzql_binlog_connector_spark.genlog import (
        generate_ops,
        encode_stream,
        write_segments_parquet,
    )

    override = os.environ.get("SPARK_GRAFT_CDC_FIXTURE_DIR")
    root = override or cdc_cache_dir(sf_tag)
    seg_dir = os.path.join(root, "segments")
    meta_path = os.path.join(root, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return seg_dir, json.load(f)["n_ops"]
    if override:
        raise FileNotFoundError(
            f"SPARK_GRAFT_CDC_FIXTURE_DIR={override} has no meta.json — "
            "build the fixture first (never silently regenerate it here)"
        )
    # ~4.5 turns/conv average → n_convs sized to hit the ops target
    n_convs = max(100, int(CDC_OPS_TARGET / 6.3))
    ops = generate_ops(seed=SEED, n_convs=n_convs, max_turns=8,
                       update_frac=0.3, delete_frac=0.1)
    stream = encode_stream(ops, n_segments=64, seed=SEED)
    os.makedirs(root, exist_ok=True)
    write_segments_parquet(stream, seg_dir)
    with open(meta_path, "w") as f:
        json.dump({"n_ops": len(ops)}, f)
    return seg_dir, len(ops)


def scratch_dir(prefix: str) -> str:
    """Bench scratch (lake tables) on tmpfs when available — the same
    policy scripts/scaling_bench.py documents in BENCH/BASELINE.md: this
    sandbox's single shared SSD serializes every level at ~300 MB/s
    regardless of engine speed, which a real cluster (per-executor disks /
    object store) does not do, so SSD scratch measures the disk, not the
    engine.  Override with SPARK_GRAFT_BENCH_SCRATCH=/some/dir; falls back
    to the system tempdir when /dev/shm is absent."""
    base = os.environ.get("SPARK_GRAFT_BENCH_SCRATCH")
    if base is None and os.path.isdir("/dev/shm"):
        base = "/dev/shm"
    if base is not None:
        os.makedirs(base, exist_ok=True)
    return tempfile.mkdtemp(prefix=prefix, dir=base)


def build_spark(cpus: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("bench")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", ""),
        )
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", "/tmp"))
        .getOrCreate()
    )


def bench_cdc_replay(spark, sf_tag: str, n_buckets: int = 32) -> dict:
    """North-metric measurement: decode + LWW + merge, end to end (typed
    zero-shuffle fast path via apply_files)."""
    from myzql_binlog_connector_spark.plans.apply import TranscriptsApplier
    from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable

    import glob

    seg_dir, n_ops = ensure_cdc_fixture(sf_tag)
    table_dir = scratch_dir("bench_lake_")
    try:
        paths = sorted(glob.glob(os.path.join(seg_dir, "*.parquet")))
        # JIT/codegen warmup on a 2-segment slice (not timed): the flagship
        # number measures engine throughput, not JVM cold start
        warm_dir = scratch_dir("bench_warm_")
        try:
            wt = BucketedLakeTable(spark, warm_dir, ["conv_id", "turn_idx"], n_buckets=4)
            TranscriptsApplier(spark, wt).apply_files(paths[:2], batch_id=0)
        finally:
            shutil.rmtree(warm_dir, ignore_errors=True)
        # best-of-2 with BOTH trials published — the same policy
        # scripts/scaling_bench.py documents in BENCH/BASELINE.md: the
        # sandbox is a shared VM with ±15-50% hour-to-hour host noise, so a
        # single timed pass measures the window as much as the engine.
        trials = []
        rec = n_final = None
        for _ in range(2):
            run_dir = scratch_dir("bench_lake_run_")
            try:
                t0 = time.monotonic()
                table = BucketedLakeTable(
                    spark, run_dir, ["conv_id", "turn_idx"], n_buckets=n_buckets
                )
                applier = TranscriptsApplier(spark, table)
                rec = applier.apply_files(paths, batch_id=0)
                n_final = table.read().count()
                trials.append(round(time.monotonic() - t0, 3))
            finally:
                shutil.rmtree(run_dir, ignore_errors=True)
        wall = min(trials)
        return {
            "sec": wall,
            "trials": trials,
            "change_rows": n_ops,
            "rows_per_sec": round(n_ops / wall, 1),
            "final_rows": n_final,
            "merge_input_rows": rec.get("input_rows"),
        }
    finally:
        shutil.rmtree(table_dir, ignore_errors=True)


def bench_decode_only(spark, sf_tag: str) -> dict:
    """Isolates the decode stage — the zero-shuffle bounded-replay path
    (size-binned segment files, task-per-bin, code-generated parsers).
    Reference comparison point: 594k rows/sec single-node, README.md:427."""
    import glob

    from myzql_binlog_connector_spark.functions.decode import decode_segment_files

    seg_dir, n_ops = ensure_cdc_fixture(sf_tag)
    paths = sorted(glob.glob(os.path.join(seg_dir, "*.parquet")))
    # python-worker warmup (fork + imports across all cores) is JVM/process
    # cold start, not engine throughput — same policy as bench_cdc_replay
    decode_segment_files(spark, paths[:2]).count()
    trials, n = [], 0
    for _ in range(2):
        t0 = time.monotonic()
        n = decode_segment_files(spark, paths).count()
        trials.append(round(time.monotonic() - t0, 3))
    wall = min(trials)
    return {"sec": wall, "trials": trials, "rows": n,
            "rows_per_sec": round(n / wall, 1)}


def bench_decode_shuffle(spark, sf_tag: str) -> dict:
    """Decode when events arrive as a DataFrame (streaming/foreachBatch
    shape): blobs shuffle to co-locate segments, then mapInArrow."""
    from myzql_binlog_connector_spark.functions.decode import decode_changes

    seg_dir, n_ops = ensure_cdc_fixture(sf_tag)
    events = spark.read.parquet(seg_dir)
    decode_changes(events.limit(4000)).count()  # worker warmup
    trials, n = [], 0
    for _ in range(2):
        t0 = time.monotonic()
        n = decode_changes(events).count()
        trials.append(round(time.monotonic() - t0, 3))
    wall = min(trials)
    return {"sec": wall, "trials": trials, "rows": n,
            "rows_per_sec": round(n / wall, 1)}


def ensure_multitable_fixture(n_rows_per_table: int = 200_000) -> str:
    """3-table interleaved binlog segment store (cached): transcripts +
    app.users + shop.orders round-robin per statement group — the worst
    case for a fan-out applier that re-decoded per table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from myzql_binlog_connector_spark.binlog.constants import ColumnType
    from myzql_binlog_connector_spark.binlog.encoder import (
        ColumnSpec,
        EventWriter,
        TableSchema,
        TRANSCRIPTS_SCHEMA,
    )

    root = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_bench_cache/multitable-{n_rows_per_table}-v1",
    )
    if os.path.exists(os.path.join(root, "_done")):
        return root
    users = TableSchema(
        "app", "users",
        (ColumnSpec(ColumnType.LONGLONG, 0, False), ColumnSpec(ColumnType.VARCHAR, 64)),
        ("user_id", "name"),
    )
    orders = TableSchema(
        "shop", "orders",
        (ColumnSpec(ColumnType.LONGLONG, 0, False), ColumnSpec(ColumnType.LONG, 0),
         ColumnSpec(ColumnType.VARCHAR, 128), ColumnSpec(ColumnType.TIMESTAMP2, 6)),
        ("order_id", "qty", "sku", "created"),
    )
    ts0 = 1_700_000_000_000_000
    os.makedirs(root, exist_ok=True)
    n_segments, per_event = 8, 100
    per_seg = n_rows_per_table // n_segments
    gtid = 0
    for fs in range(1, n_segments + 1):
        w = EventWriter(server_id=1)
        w.format_description()
        w.table_map(5, TRANSCRIPTS_SCHEMA)
        w.table_map(6, users)
        w.table_map(7, orders)
        base = (fs - 1) * per_seg
        for i in range(0, per_seg, per_event):
            ids = range(base + i, base + min(i + per_event, per_seg))
            w.write_rows(5, TRANSCRIPTS_SCHEMA, [
                (f"conv-{j % 5000}", j, "user", f"turn text {j} " * 3, None, ts0 + j)
                for j in ids
            ])
            w.write_rows(6, users, [(j, f"user-{j}") for j in ids])
            w.write_rows(7, orders, [
                (j, j % 7, f"sku-{j % 997}", ts0 + j * 2) for j in ids
            ])
        rows = []
        for _off, pkt in w.events:
            gtid += 1
            rows.append((fs, _off, gtid, gtid, pkt))
        t = pa.table({
            "file_seq": pa.array([r[0] for r in rows], pa.int32()),
            "offset": pa.array([r[1] for r in rows], pa.int64()),
            "gtid": pa.array([r[2] for r in rows], pa.int64()),
            "event_seq": pa.array([r[3] for r in rows], pa.int64()),
            "event_blob": pa.array([r[4] for r in rows], pa.binary()),
        })
        pq.write_table(t, os.path.join(root, f"segment-{fs:06d}.parquet"))
    with open(os.path.join(root, "_done"), "w") as f:
        f.write("ok")
    return root


def bench_multitable(spark) -> dict:
    """Pin the O(batch) fan-out property: a 3-table interleaved stream must
    apply in ~the same wall time per row as a single-table stream — the
    envelope decodes ONCE and routing is a cheap filter, so the ratio
    (multi rows/s ÷ single rows/s) should sit near 1.0, not 1/3."""
    from myzql_binlog_connector_spark.functions.decode import decode_changes
    from myzql_binlog_connector_spark.plans.apply import (
        MultiTableApplier,
        TranscriptsApplier,
    )
    from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable

    seg_dir = ensure_multitable_fixture()
    specs = {
        ("chat", "transcripts"): {
            "column_names": ["conv_id", "turn_idx", "role", "text", "tool", "ts"],
            "key_positions": (0, 1), "n_buckets": 8,
        },
        ("app", "users"): {
            "column_names": ["user_id", "name"], "key_positions": (0,), "n_buckets": 8,
        },
        ("shop", "orders"): {
            "column_names": ["order_id", "qty", "sku", "created"],
            "key_positions": (0,), "n_buckets": 8,
        },
    }
    events = spark.read.parquet(seg_dir)
    n_rows = 3 * 200_000

    def run_multi():
        root = scratch_dir("bench_mt_")
        try:
            mt = MultiTableApplier(spark, root, table_specs=specs)
            mt.apply_batch(decode_changes(events), batch_id=0)
        finally:
            shutil.rmtree(root, ignore_errors=True)

    def run_single():
        root = scratch_dir("bench_st_")
        try:
            table = BucketedLakeTable(spark, root, ["conv_id", "turn_idx"], n_buckets=8)
            TranscriptsApplier(spark, table).apply_batch(
                decode_changes(events).filter("table_name = 'transcripts'"),
                batch_id=0,
            )
        finally:
            shutil.rmtree(root, ignore_errors=True)

    run_multi()  # warm (worker spin-up, codegen)
    multi_trials, single_trials = [], []
    for _ in range(2):
        t0 = time.monotonic()
        run_multi()
        multi_trials.append(round(time.monotonic() - t0, 3))
    run_single()  # warm
    for _ in range(2):
        t0 = time.monotonic()
        run_single()
        single_trials.append(round(time.monotonic() - t0, 3))
    multi_sec, single_sec = min(multi_trials), min(single_trials)
    single_rows = n_rows // 3
    return {
        "multi_sec": multi_sec,
        "multi_trials": multi_trials,
        "multi_rows_per_sec": round(n_rows / multi_sec, 1),
        "single_sec": single_sec,
        "single_trials": single_trials,
        "single_rows_per_sec": round(single_rows / single_sec, 1),
        # ≥ ~0.7 ⇒ O(batch); an O(tables×batch) applier would sit near 1/3
        "fanout_efficiency": round((n_rows / multi_sec) / (single_rows / single_sec), 3),
    }


def bench_point_lookup(spark, sf_tag: str, n_buckets: int = 256) -> dict:
    """Key-lookup bucket pruning vs full-scan filter on the merged table.
    At 100 TB a point lookup must plan a handful of buckets out of tens of
    thousands, not scan the table.  n_buckets=256 so the pruning RATIO
    resembles a real table's (8 probe keys -> <=8/256 of files planned);
    the scale-invariant number is files_scanned (wall time at sf0.1 is
    dominated by fixed job overhead, which 100 TB amortizes away).  One
    multi-key pruned read vs one OR-filter full scan — same job shape,
    both verified to return exactly the probe rows."""
    import glob

    from pyspark.sql.functions import col as F_col

    from myzql_binlog_connector_spark.plans.apply import TranscriptsApplier
    from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable

    seg_dir, _n_ops = ensure_cdc_fixture(sf_tag)
    run_dir = scratch_dir("bench_lookup_")
    try:
        paths = sorted(glob.glob(os.path.join(seg_dir, "*.parquet")))
        table = BucketedLakeTable(
            spark, run_dir, ["conv_id", "turn_idx"], n_buckets=n_buckets
        )
        TranscriptsApplier(spark, table).apply_files(paths, batch_id=0)
        # 8 probe keys from 8 DISTINCT buckets (a bare limit(8) reads one
        # partition = one bucket, which would overstate the pruning ratio)
        probe = [
            {"conv_id": r.conv_id, "turn_idx": r.turn_idx}
            for r in table.read()
            .withColumn("_b", table.bucket_expr())
            .dropDuplicates(["_b"])
            .limit(8)
            .collect()
        ]

        def full_df():
            cond = None
            for k in probe:
                c = (F_col("conv_id") == k["conv_id"]) & (
                    F_col("turn_idx") == k["turn_idx"]
                )
                cond = c if cond is None else (cond | c)
            return table.read().filter(cond)

        assert table.read(keys=probe).count() == full_df().count() == len(probe)
        files_pruned = len(table.read(keys=probe).inputFiles())
        files_full = len(full_df().inputFiles())
        pruned_trials, full_trials = [], []
        for _ in range(2):
            t0 = time.monotonic()
            table.read(keys=probe).count()
            pruned_trials.append(round(time.monotonic() - t0, 3))
            t0 = time.monotonic()
            full_df().count()
            full_trials.append(round(time.monotonic() - t0, 3))
        pruned, full = min(pruned_trials), min(full_trials)
        return {
            "pruned_sec": pruned,
            "pruned_trials": pruned_trials,
            "full_sec": full,
            "full_trials": full_trials,
            "lookups": len(probe),
            "n_buckets": n_buckets,
            # files_scanned is the number that survives a 100x scale-up:
            # pruned plans <= lookups buckets regardless of table size,
            # full scans every file.  Wall-time speedup at sf0.1 is mostly
            # job overhead (the pruned read pays one extra tiny probe job
            # to hash the keys Spark-side).
            "files_scanned": {"pruned": files_pruned, "full": files_full},
            "files_ratio": round(files_full / max(1, files_pruned), 1),
            "speedup": round(full / pruned, 2),
        }
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def bench_replication(spark, sf_tag: str, n_buckets: int = 32) -> dict:
    """Replica follow throughput (round-6 directive #6): the flagship
    consumer story — ``replicate()`` following a primary's change feed.

    Primary ingests the CDC fixture as 4 commits (timed: the same merge
    path the flagship e2e bench measures); a replica then starts and
    catches up the whole backlog through the 'lake_changes' feed +
    foreachBatch merge (timed: feed delivery + re-merge).  State equality
    is asserted via count + an order-independent row checksum.  The
    catch-up number charges the stream's ~2s query fixed cost (measured
    in bench_feed_stream as stream_fixed_sec) to the single drain; a
    steady-state follower amortizes it."""
    import glob

    from pyspark.sql import functions as F

    from myzql_binlog_connector_spark.plans.apply import TranscriptsApplier
    from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable
    from myzql_binlog_connector_spark.streaming.replica import replicate

    seg_dir, n_ops = ensure_cdc_fixture(sf_tag)
    src_dir = scratch_dir("bench_repl_src_")
    dst_dir = scratch_dir("bench_repl_dst_")
    ckpt = scratch_dir("bench_repl_ck_")
    try:
        paths = sorted(glob.glob(os.path.join(seg_dir, "*.parquet")))
        src = BucketedLakeTable(
            spark, src_dir, ["conv_id", "turn_idx"], n_buckets=n_buckets
        )
        applier = TranscriptsApplier(spark, src)
        step = max(1, len(paths) // 4)
        t0 = time.monotonic()
        for b, i in enumerate(range(0, len(paths), step)):
            applier.apply_files(paths[i : i + step], batch_id=b)
        primary_sec = round(time.monotonic() - t0, 3)

        dst = BucketedLakeTable(
            spark, dst_dir, ["conv_id", "turn_idx"], n_buckets=n_buckets
        )
        t0 = time.monotonic()
        q = replicate(spark, src_dir, dst, ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        replica_sec = round(time.monotonic() - t0, 3)

        def checksum(t):
            # bit_xor: order-independent, no ANSI long-sum overflow
            r = (
                t.read()
                .select(
                    F.count(F.lit(1)).alias("n"),
                    F.bit_xor(
                        F.xxhash64("conv_id", "turn_idx", "text")
                    ).alias("h"),
                )
                .collect()[0]
            )
            return (r.n, r.h)

        assert checksum(src) == checksum(dst), "replica diverged from primary"
        n_commits = src.snapshot_manifest()["version"]
        return {
            "change_rows": n_ops,
            "commits": n_commits,
            "primary_ingest_sec": primary_sec,
            "primary_rows_per_sec": round(n_ops / primary_sec, 1),
            "replica_catchup_sec": replica_sec,
            "replica_rows_per_sec": round(n_ops / replica_sec, 1),
            "replica_over_primary": round(primary_sec / replica_sec, 2),
            "state_match": True,
        }
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
        shutil.rmtree(dst_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def bench_feed_stream(
    spark, sf_tag: str, n_buckets: int = 32, chunk_bytes: int | None = None
) -> dict:
    """Change-feed consumer throughput: the 'lake_changes' source (stream
    and batch forms) draining a multi-commit table.  The number that
    matters at 100 TB is rows/sec of feed DELIVERY — the source only ever
    plans KB-sized manifest reads on the driver and fans one Arrow task
    per commit, so delivery should track raw parquet scan speed."""
    import glob

    from myzql_binlog_connector_spark.plans.apply import TranscriptsApplier
    from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable
    from myzql_binlog_connector_spark.streaming.feed import (
        LakeChangesDataSource,
    )

    seg_dir, _n_ops = ensure_cdc_fixture(sf_tag)
    run_dir = scratch_dir("bench_feed_")
    ckpt_root = scratch_dir("bench_feed_ck_")
    try:
        paths = sorted(glob.glob(os.path.join(seg_dir, "*.parquet")))
        table = BucketedLakeTable(
            spark, run_dir, ["conv_id", "turn_idx"], n_buckets=n_buckets
        )
        applier = TranscriptsApplier(spark, table)
        # 4 commits -> 4 feed partitions per full drain
        step = max(1, len(paths) // 4)
        for b, i in enumerate(range(0, len(paths), step)):
            applier.apply_files(paths[i : i + step], batch_id=b)
        spark.dataSource.register(LakeChangesDataSource)

        def _opts(reader):
            reader = reader.option("path", run_dir)
            if chunk_bytes:
                reader = reader.option("chunkBytes", str(chunk_bytes))
            return reader

        def drain_batch():
            return _opts(spark.read.format("lake_changes")).load().count()

        def drain_stream(tag):
            q = (
                _opts(spark.readStream.format("lake_changes"))
                .load()
                .writeStream.format("noop")
                .option(
                    "checkpointLocation", os.path.join(ckpt_root, tag)
                )
                .start()
            )
            try:
                q.processAllAvailable()
                return sum(
                    p["numInputRows"] for p in (q.recentProgress or [])
                )
            finally:
                q.stop()

        n_rows = drain_batch()  # warm
        batch_trials, stream_trials = [], []
        for i in range(2):
            t0 = time.monotonic()
            drain_batch()
            batch_trials.append(round(time.monotonic() - t0, 3))
            t0 = time.monotonic()
            got = drain_stream(f"t{i}")
            stream_trials.append(round(time.monotonic() - t0, 3))
            assert got == n_rows, (got, n_rows)
        # stream fixed cost: re-run a drain on an ALREADY-CAUGHT-UP
        # checkpoint — full query start/plan/WAL/stop machinery, zero data.
        # The bench's one-shot stream form charges this constant to every
        # drain; a production follower (replicate()) starts once and
        # amortizes it, so the honest scaling number for stream DELIVERY
        # is rows / (stream_sec - fixed_sec) — published both ways.
        fixed_trials = []
        for i in range(2):
            t0 = time.monotonic()
            got = drain_stream("t1")  # t1's checkpoint is fully drained
            fixed_trials.append(round(time.monotonic() - t0, 3))
            assert got == 0, got
        b, s = min(batch_trials), min(stream_trials)
        fx = min(fixed_trials)
        return {
            "rows": n_rows,
            "batch_sec": b,
            "batch_trials": batch_trials,
            "batch_rows_per_sec": round(n_rows / b, 1),
            "stream_sec": s,
            "stream_trials": stream_trials,
            "stream_rows_per_sec": round(n_rows / s, 1),
            "stream_fixed_sec": fx,
            "stream_fixed_trials": fixed_trials,
            "stream_marginal_rows_per_sec": round(
                n_rows / max(1e-9, s - fx), 1
            ),
        }
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        shutil.rmtree(ckpt_root, ignore_errors=True)


def window_probe(spark, sf_dir: str) -> list[float]:
    """Engine-independent window-quality probe (round-6 directive #2).

    A fixed pure-Spark parquet scan + hash aggregate over the frozen
    driver-provided lineitem fixture — none of this repo's code runs, so
    the time measures the HOST (cpu contention, page cache, JVM health),
    not the engine.  The suite runs it first and last; round-over-round
    comparisons divide the host's hour-scale drift out of apparent
    regressions (round 6 measured +40-48% on untouched queries inside one
    suite window).  Published as ``probe_sec`` in every BENCH_r*.json."""
    from pyspark.sql import functions as F

    path = os.path.join(sf_dir, "lineitem.parquet")

    def once() -> float:
        t0 = time.monotonic()
        (
            spark.read.parquet(path)
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.sum("l_quantity"),
                F.avg("l_extendedprice"),
                F.count("*"),
            )
            .collect()
        )
        return round(time.monotonic() - t0, 3)

    once()  # warm: page cache + codegen, same policy as every bench query
    return [once(), once()]


HEADLINE = [
    "lww_dedup_events",
    "lww_dedup_salted_events",
    "asof_join_events",
    "pricing_summary",
    "revenue_top_orders",
    "broadcast_region_rollup",
    "exact_dedup_docs",
    "minhash_signatures",
    "minhash_dup_pairs",
    "simhash_docs",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "lsh_buckets",
    "embedding_near_dup",
    "text_metrics",
    "multimodal_meta",
    "decontaminate_docs",
]


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    sf = float(sf_tag.replace("sf", "")) if sf_tag.startswith("sf") else None

    spark = build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry

    qfns = entry.queries()
    queries: dict[str, float] = {}

    probe_start = window_probe(spark, sf_dir)

    # flagship: CDC replay end-to-end
    cdc = bench_cdc_replay(spark, sf_tag)
    queries["cdc_replay_e2e"] = cdc["sec"]
    dec = bench_decode_only(spark, sf_tag)
    queries["cdc_decode_only"] = dec["sec"]
    dec_sh = bench_decode_shuffle(spark, sf_tag)
    queries["cdc_decode_shuffle"] = dec_sh["sec"]
    mt = bench_multitable(spark)
    queries["cdc_multitable_fanout"] = mt["multi_sec"]
    lk = bench_point_lookup(spark, sf_tag)
    queries["lake_point_lookup"] = lk["pruned_sec"]
    fd = bench_feed_stream(spark, sf_tag)
    queries["lake_feed_stream"] = fd["stream_sec"]
    rp = bench_replication(spark, sf_tag)
    queries["lake_replication"] = rp["replica_catchup_sec"]

    from myzql_binlog_connector_spark.operators.fuzzy import release_cached

    # round-6 directive: EVERY headline query is best-of-2 with both trials
    # published — single trials on this ±15-50% shared host cannot separate
    # a real regression from window noise (r5's cdc_decode_shuffle +25% and
    # minhash_dup_pairs +31% were unjudgeable for exactly that reason)
    trials_out: dict[str, list[float]] = {}
    for name in HEADLINE:
        fn = qfns[name]
        # one untimed warm-up pass per query (same policy as the CDC
        # benches): python-worker spin-up, Arrow serializer init, and plan
        # compile are JVM/process cold start, not engine throughput —
        # round-3 numbers charged them to whichever query ran first with
        # a pandas_udf and made round-over-round deltas lie
        fn(spark, sf_dir).count()
        release_cached()  # warm pass must not hand its caches to the timed one
        trials = []
        for _ in range(2):
            t0 = time.monotonic()
            # count() forces full execution without collecting rows to driver
            fn(spark, sf_dir).count()
            trials.append(round(time.monotonic() - t0, 3))
            release_cached()  # drop operator-persisted blocks between trials
        queries[name] = min(trials)
        trials_out[name] = trials

    # IVF cell balance (round-5 directive: sampled k-means replaced strided
    # centroids — log the histogram so skewed cells are visible, not silent)
    from myzql_binlog_connector_spark.operators.similarity import ivf_cell_stats

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    ivf_cells = ivf_cell_stats(emb, stride=100)

    # IVF recall at the bench geometry (round-6: same contract as the
    # pinned minhash recall — visible per-round, so cell/nprobe tuning
    # can't silently trade recall for speed; floor asserted in pytest)
    from myzql_binlog_connector_spark.operators.similarity import (
        ann_topk_bruteforce,
        ann_topk_ivf,
    )

    probes = emb.filter(emb.vec_id < 50)
    _truth = {
        (r.probe_id, r.neighbor_id)
        for r in ann_topk_bruteforce(emb, probes, k=3)
        .select("probe_id", "neighbor_id").collect()
    }

    def _ivf_pairs(nprobe):
        return {
            (r.probe_id, r.neighbor_id)
            for r in ann_topk_ivf(emb, probes, k=3, stride=100, nprobe=nprobe)
            .select("probe_id", "neighbor_id").collect()
        }

    n_cells = ivf_cells["n_cells"]
    _got = _ivf_pairs(3)
    _got_full = _ivf_pairs(n_cells)
    # The synthetic embeddings are near-uniform on the sphere, so partial-
    # probe recall is governed by searched-cell coverage (real clustered
    # embeddings approach 1.0 — see tests/test_operators.py TestIvfRecall).
    # The two honest pins: full probe must reproduce brute force EXACTLY
    # (nothing lost in assignment/join), and partial probes must beat
    # their raw coverage fraction by a wide margin.
    coverage = 3 / max(1, n_cells)
    recall = round(len(_truth & _got) / max(1, len(_truth)), 4)
    ivf_recall = {
        "nprobe": 3,
        "n_cells": n_cells,
        "coverage": round(coverage, 4),
        "recall": recall,
        "recall_over_coverage": round(recall / coverage, 2),
        "full_probe_exact": _got_full == _truth,
    }

    # clustered-fixture recall (round-6 directive #4): the near-uniform
    # driver embeddings cap partial-probe recall near coverage; on the
    # deterministic mixture-of-Gaussians fixture — production embedding
    # geometry — recall at ~30% coverage must clear 0.9 (pytest-pinned)
    from myzql_binlog_connector_spark.operators.similarity import (
        clustered_embeddings,
    )

    cemb = clustered_embeddings(spark).persist()
    cprobes = cemb.filter(cemb.vec_id < 50)
    _ctruth = {
        (r.probe_id, r.neighbor_id)
        for r in ann_topk_bruteforce(cemb, cprobes, k=3)
        .select("probe_id", "neighbor_id").collect()
    }
    _cgot = {
        (r.probe_id, r.neighbor_id)
        for r in ann_topk_ivf(cemb, cprobes, k=3, stride=100, nprobe=6)
        .select("probe_id", "neighbor_id").collect()
    }
    cemb.unpersist()
    ivf_recall_clustered = {
        "fixture": "mixture-of-gaussians n=2000 k=20 noise=0.08 seed=7",
        "nprobe": 6,
        "n_cells": 20,
        "coverage": 0.3,
        "recall": round(len(_ctruth & _cgot) / max(1, len(_ctruth)), 4),
    }

    probe_end = window_probe(spark, sf_dir)
    total = round(sum(queries.values()), 3)
    out = {
        "metric": "headline_suite_sec",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "trials": {
            "cdc_replay_e2e": cdc["trials"],
            "cdc_decode_only": dec["trials"],
            "cdc_decode_shuffle": dec_sh["trials"],
            "cdc_multitable_fanout": mt["multi_trials"],
            "lake_point_lookup": lk["pruned_trials"],
            "lake_feed_stream": fd["stream_trials"],
            **trials_out,
        },
        "sf": sf,
        "cpus": cpus,
        "cdc_replay": cdc,
        "cdc_decode": dec,
        "cdc_decode_shuffle": dec_sh,
        "cdc_multitable": mt,
        "lake_point_lookup": lk,
        "lake_feed_stream": fd,
        "lake_replication": rp,
        "ivf_cells": ivf_cells,
        "ivf_recall": ivf_recall,
        "ivf_recall_clustered": ivf_recall_clustered,
        # window-quality normalizer: same fixed pure-Spark probe first and
        # last — divide round-over-round deltas by the probe drift before
        # calling anything a regression (see window_probe docstring)
        "probe_sec": {
            "start": probe_start,
            "end": probe_end,
            "drift": round(min(probe_end) / max(1e-9, min(probe_start)), 3),
        },
        "scratch": "tmpfs" if os.path.isdir("/dev/shm")
                   and not os.environ.get("SPARK_GRAFT_BENCH_SCRATCH")
                   else "tempdir",
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
