"""Memory-boundedness endurance run (round-6 directive #5).

One sf1.0-scale replay — ~32M change events, 10× the driver bench — at
local[32], applied as 10 sequential batches into ONE lake table, publishing
per-batch throughput, peak process-tree RSS, and manifest/lineage growth.

The 100 TB argument rests on per-batch bounded state: decode buffers flush
at ``_vec_flush_rows``, the merge writes O(batch) deltas, and the manifest
grows O(commits) — so peak RSS must stay FLAT across batches while the
table grows 10×.  A leak in any of those (decode buffers accumulating,
merge re-reading table state, manifest bloat) shows up as a monotone RSS
ramp here.

Fixture: 10 independently-generated 3.2M-op streams with disjoint conv
namespaces (``conv_prefix``) and disjoint file_seq/gtid ranges, so the
final row count equals the sum of the per-chunk LWW-truth sizes — a cheap
full-scale sanity check on top of the oracle-checked correctness suite.

Usage: python scripts/endurance_bench.py   (env: SPARK_GRAFT_ENDURANCE_CHUNKS,
SPARK_GRAFT_CDC_OPS per chunk).  Prints one JSON line; paste into
BENCH_r{N} via the round notes.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402

N_CHUNKS = int(os.environ.get("SPARK_GRAFT_ENDURANCE_CHUNKS", "10"))
OPS_PER_CHUNK = int(os.environ.get("SPARK_GRAFT_CDC_OPS", "3200000"))
SEED = 2200


def fixture_root() -> str:
    import tempfile

    return os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_bench_cache/endurance-seed{SEED}"
        f"-ops{OPS_PER_CHUNK}x{N_CHUNKS}-v1",
    )


def ensure_chunk(chunk: int) -> tuple[str, int]:
    """Build (once) chunk ``chunk``'s segment store with disjoint conv
    namespace, file_seq range, and gtid/event_seq range.  Returns
    (seg_dir, truth_rows)."""
    from myzql_binlog_connector_spark.genlog import (
        encode_stream,
        generate_ops,
        write_segments_parquet,
    )

    root = fixture_root()
    seg_dir = os.path.join(root, f"chunk-{chunk:02d}")
    meta = os.path.join(seg_dir, "_meta.json")
    if os.path.exists(meta):
        with open(meta) as f:
            return seg_dir, json.load(f)["truth_rows"]
    t0 = time.monotonic()
    n_convs = max(100, int(OPS_PER_CHUNK / 6.3))
    ops = generate_ops(
        seed=SEED + chunk, n_convs=n_convs, conv_prefix=f"e{chunk:02d}-"
    )
    stream = encode_stream(ops, n_segments=64, seed=SEED + chunk)
    # disjoint file_seq + order-key ranges across chunks: the watermark
    # redelivery gate is per file_seq, and LWW order must respect chunk
    # order even though namespaces never collide
    fs_base = chunk * 64
    id_base = chunk * (1 << 32)
    stream.segments = [
        (fs + fs_base, [(off, g + id_base, es + id_base, pkt)
                        for off, g, es, pkt in rows])
        for fs, rows in stream.segments
    ]
    write_segments_parquet(stream, seg_dir)
    with open(meta, "w") as f:
        json.dump({"n_ops": len(ops), "truth_rows": len(stream.truth)}, f)
    print(f"chunk {chunk}: {len(ops):,} ops in {time.monotonic() - t0:.0f}s",
          file=sys.stderr)
    return seg_dir, len(stream.truth)


def _tree_rss_mb() -> float:
    """Resident set of this process + all descendants (JVM, python
    workers), via /proc — no psutil in the sandbox."""
    me = os.getpid()
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/status") as f:
                ppid = vmrss = 0
                for line in f:
                    if line.startswith("PPid:"):
                        ppid = int(line.split()[1])
                    elif line.startswith("VmRSS:"):
                        vmrss = int(line.split()[1])  # kB
        except OSError:
            continue
        pid = int(d)
        children.setdefault(ppid, []).append(pid)
        rss[pid] = vmrss
    total, stack = 0, [me]
    while stack:
        p = stack.pop()
        total += rss.get(p, 0)
        stack.extend(children.get(p, []))
    return total / 1024.0


class RssSampler(threading.Thread):
    """0.5s process-tree RSS sampler; ``window()`` returns the max since
    the last call — per-batch peaks without resetting kernel counters."""

    def __init__(self):
        super().__init__(daemon=True)
        self._peak = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()

    def run(self):
        while not self._stop.is_set():
            v = _tree_rss_mb()
            with self._lock:
                self._peak = max(self._peak, v)
            self._stop.wait(0.5)

    def window(self) -> float:
        with self._lock:
            p, self._peak = self._peak, _tree_rss_mb()
        return round(p, 1)

    def stop(self):
        self._stop.set()


def main() -> None:
    chunks = [ensure_chunk(c) for c in range(N_CHUNKS)]
    expected_rows = sum(t for _d, t in chunks)

    from myzql_binlog_connector_spark.plans.apply import TranscriptsApplier
    from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = bench.build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    table_dir = bench.scratch_dir("endurance_lake_")
    sampler = RssSampler()
    sampler.start()
    batches = []
    try:
        auto_fold = os.environ.get("SPARK_GRAFT_ENDURANCE_AUTO_FOLD", "1") != "0"
        table = BucketedLakeTable(
            spark, table_dir, ["conv_id", "turn_idx"], n_buckets=32,
            auto_fold=auto_fold,
        )
        applier = TranscriptsApplier(spark, table)
        # warmup on a 2-segment slice of chunk 0 (throwaway table):
        # JVM/codegen cold start is not what this run measures
        warm_dir = bench.scratch_dir("endurance_warm_")
        try:
            wt = BucketedLakeTable(spark, warm_dir, ["conv_id", "turn_idx"],
                                   n_buckets=4)
            TranscriptsApplier(spark, wt).apply_files(
                sorted(glob.glob(os.path.join(chunks[0][0], "*.parquet")))[:2],
                batch_id=0)
        finally:
            shutil.rmtree(warm_dir, ignore_errors=True)
        sampler.window()  # reset the peak window after warmup

        t_all = time.monotonic()
        total_rows = 0
        for chunk, (seg_dir, _truth) in enumerate(chunks):
            paths = sorted(glob.glob(os.path.join(seg_dir, "*.parquet")))
            t0 = time.monotonic()
            rec = applier.apply_files(paths, batch_id=chunk)
            wall = time.monotonic() - t0
            n = rec.get("input_rows") or 0
            total_rows += n
            manifest_kb = os.path.getsize(
                os.path.join(table_dir, "_manifests",
                             f"v{max(table.versions())}.json")) / 1024
            batches.append({
                "batch": chunk,
                "sec": round(wall, 2),
                "rows": n,
                "rows_per_sec": round(n / wall, 1),
                "peak_rss_mb": sampler.window(),
                "manifest_kb": round(manifest_kb, 1),
                "lineage_len": len(table.lineage()),
            })
            print(json.dumps(batches[-1]), file=sys.stderr)
        wall_all = time.monotonic() - t_all
        # deferred-fold mode: the maintenance pass runs AFTER the ingest
        # window (the Delta OPTIMIZE pattern) and is timed separately
        maintenance = None
        if not auto_fold:
            hot = table.needs_fold()
            t0 = time.monotonic()
            table.compact(buckets=hot)
            maintenance = {
                "folded_buckets": len(hot),
                "sec": round(time.monotonic() - t0, 2),
                "peak_rss_mb": sampler.window(),
            }
        final = table.read().count()
        out = {
            "bench": "endurance_sf1",
            "auto_fold": auto_fold,
            "maintenance": maintenance,
            "cpus": cpus,
            "chunks": N_CHUNKS,
            "total_change_rows": total_rows,
            "total_sec": round(wall_all, 1),
            "rows_per_sec": round(total_rows / wall_all, 1),
            "final_rows": final,
            "expected_rows": expected_rows,
            "rows_match": final == expected_rows,
            "peak_rss_mb_first_batch": batches[0]["peak_rss_mb"],
            "peak_rss_mb_last_batch": batches[-1]["peak_rss_mb"],
            "peak_rss_mb_max": max(b["peak_rss_mb"] for b in batches),
            "batches": batches,
        }
        print(json.dumps(out))
    finally:
        sampler.stop()
        shutil.rmtree(table_dir, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
