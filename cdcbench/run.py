"""CDC benchmark entry point.

    python3 cdcbench/run.py --workload {backfill,tail} --seed N --seconds S --trace {0,1}

Run from the root of a checkout.  Builds the workload's inputs with
``genlog`` from ``--seed``, sets up (Spark session, warm-up, pre-state),
measures one closed-loop window of ``--seconds`` and checks every output
against the generator's truth.  The last stdout line is the result object;
the line before it carries details (sample counts, percentiles, ``k``).

``--trace 1`` runs an untraced window, then a traced one with the Spark
event log on (each for half of ``--seconds``), and prints the per-layer
metrics of ``cdcbench/layers.py`` instead of the end-to-end ones.
Everything the run writes stays under ``.cdcbench/`` in the checkout; the
fixture cache there is kept between runs.  Exits 1 on any wrong output, 2 when the package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# in place of this script's own directory, whose trace.py would shadow the
# standard library's module of that name
sys.path[0] = ROOT

# these need neither Spark nor the package; the rest is imported in run()
from cdcbench.layers import LAYER_METRICS, compute  # noqa: E402
from cdcbench.stats import TreeRssSampler, descendants, median, tail_percentile  # noqa: E402
from cdcbench.trace import SpanRecorder, read_event_log  # noqa: E402

PACKAGE = "myzql_binlog_connector_spark"
FIXTURE_CACHE_KEEP = 64  # fixture directories kept between runs (~5 MB each)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["backfill", "tail"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def isolate(run_dir: str) -> None:
    """Keep Spark, its JVM and its Python workers inside ``run_dir`` and
    make the package importable in the workers wherever the run starts."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(run_dir, "local"))
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    env["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = tmp


def prune_fixture_cache(work: str, keep: str) -> None:
    root = os.path.join(work, "fixtures")
    dirs = sorted(
        (os.path.join(root, d) for d in os.listdir(root)),
        key=os.path.getmtime,
        reverse=True,
    )
    for d in dirs[FIXTURE_CACHE_KEEP:]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)


def stop_spark(spark) -> None:
    """Stop the session, the JVM and every process under this one."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 15
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 5
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def end_to_end(win, setup_s: float, rss_bytes: int) -> tuple[dict, dict]:
    lt = tail_percentile(win.lookup_s)
    ct = tail_percentile(win.commit_s)
    metrics = {
        "setup_s": (setup_s, "s"),
        "rows_per_s": (median([r / s for r, s in win.units]), "rows/s"),
        "commit_p50_s": (median(win.commit_s), "s"),
        "lookup_p50_s": (median(win.lookup_s), "s"),
        "bytes_per_row": (win.bytes_per_row, "B/row"),
        "peak_rss_mb": (rss_bytes / 2**20, "MB"),
    }
    detail = {
        "commits": len(win.commit_s),
        "lookups": len(win.lookup_s),
        # the highest percentile with ten samples beyond it (None: too few
        # samples); at these counts it sits below the median, so it is
        # reported here and not as a metric
        "lookup_tail": lt,
        "commit_tail": ct,
        "window_s": win.seconds,
        "commit_s": win.commit_s,
        "units": win.units,
        "rows": win.rows,
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}, detail


def run(args, work: str, run_dir: str) -> tuple[dict, dict]:
    from cdcbench.fixtures import load_fixture
    from cdcbench.workloads import WORKLOADS, Checks, build_spark

    W = WORKLOADS[args.workload]
    t_fx = time.perf_counter()
    fx = load_fixture(work, W.spec, args.seed)
    fixture_s = time.perf_counter() - t_fx
    prune_fixture_cache(work, os.path.dirname(fx.seg_dir))
    # two cores leave the rest of a 4-core host to the JVM's JIT and GC
    # threads and the Python driver; at local[4] they compete with the
    # tasks, and a pass is both slower and noisier
    k = min(2, os.cpu_count() or 1)
    checks = Checks()
    event_dir = os.path.join(run_dir, "eventlog") if args.trace else None
    detail = {"workload": args.workload, "seed": args.seed, "k": k,
              "ops": len(fx.ops), "segments": len(fx.paths), "fixture_s": fixture_s}
    with TreeRssSampler() as rss:
        t0 = time.perf_counter()
        spark = build_spark(run_dir, k, event_dir)
        detail["session_s"] = time.perf_counter() - t0
        try:
            wl = W(spark, fx, run_dir, args.seed, checks)
            detail["setup_parts"] = wl.setup()
            setup_s = time.perf_counter() - t0
            # a traced run splits its time between an untraced and a traced
            # window, so it costs about as much as an untraced run
            seconds = args.seconds / 2 if args.trace else args.seconds
            win = wl.window(seconds)
            if args.trace:
                traced, layer_in = trace_window(spark, wl, seconds, fx)
            t_fin = time.perf_counter()
            wl.finish()
            detail["finish_s"] = time.perf_counter() - t_fin
        finally:
            t_stop = time.perf_counter()
            stop_spark(spark)
            detail["stop_s"] = time.perf_counter() - t_stop
    metrics, d = end_to_end(win, setup_s, rss.peak_bytes)
    detail.update(d)
    if args.trace:
        (log_path,) = [os.path.join(event_dir, f) for f in os.listdir(event_dir)]
        rec, probe = layer_in
        rec.dump(os.path.join(work, f"spans-{args.workload}.jsonl"))
        layer, tchecks = compute(rec.spans, read_event_log(log_path), k, traced, win, probe)
        for msg in tchecks["reconcile_failures"]:
            checks.check(False, msg)
        detail["untraced"] = {n: v["value"] for n, v in metrics.items()}
        detail["traced"] = {"commit_p50_s": median(traced.commit_s),
                            "lookup_p50_s": median(traced.lookup_s),
                            "rows_per_s": median([r / s for r, s in traced.units])}
        detail["trace_checks"] = tchecks
        metrics = {n: {"value": v, "unit": LAYER_METRICS[n][0]} for n, v in layer.items()}
    detail["errors"] = checks.errors
    result = {
        "correct": checks.failed == 0,
        "attempted": checks.attempted,
        "failed": checks.failed,
        "metrics": metrics,
    }
    return result, detail


def trace_window(spark, wl, seconds: float, fx):
    """The traced window and the probes the per-layer metrics need."""
    import pyarrow.parquet as pq

    from cdcbench.workloads import manifest_bytes
    from myzql_binlog_connector_spark.functions.decode import decode_segment_files

    rec = SpanRecorder(spark.sparkContext, wl.name)
    wl.trace_with(rec)
    traced = wl.window(seconds)
    segs = sorted({s for sp in rec.spans if sp.name == "commit" for s in sp.attrs["segs"]})
    with rec.span("probe.decode") as dspan:
        rows = (
            decode_segment_files(spark, [fx.paths[s] for s in segs])
            .select("file_seq", "log_pos", "event_row_index")
            .collect()
        )
    positions = {s: [] for s in segs}
    for r in rows:
        positions[r[0] - 1].append((r[0], r[1], r[2]))  # file_seq is 1-based

    keys = sorted({tuple(k) for sp in rec.spans if sp.name == "read" for k in sp.attrs["keys"]})
    with rec.span("probe.buckets"):
        # hash() depends on the column types, so take them from the table
        kdf = spark.createDataFrame(keys, wl.tbl.read().select("conv_id", "turn_idx").schema)
        buckets = {
            (r[0], r[1]): r[2]
            for r in kdf.select("conv_id", "turn_idx", wl.tbl.bucket_expr()).collect()
        }
    probe = {
        "positions": positions,
        "events": {s: pq.ParquetFile(fx.paths[s]).metadata.num_rows for s in segs},
        "seg_rows": {s: fx.seg_rows(s) for s in segs},
        "decode_span": dspan.id,
        "buckets": buckets,
        "manifest_bytes": manifest_bytes(wl.tbl),
        "versions": len(wl.tbl.versions()),
    }
    if hasattr(wl, "follow_probe"):
        probe["follow"] = wl.follow_probe(rec)
    return traced, (rec, probe)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"cdcbench: no {PACKAGE} package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".cdcbench")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(work, "fixtures"), exist_ok=True)
    isolate(run_dir)
    try:
        result, detail = run(args, work, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
