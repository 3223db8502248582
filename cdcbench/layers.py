"""Per-layer metrics of the traced run, and what each should move.

``LAYER_METRICS`` is the table of record: for every per-layer metric its
unit, its better direction, the layer (package module) it measures and the
end-to-end metric it should move on which workload.  ``BENCHMARK.json``'s
``per_layer`` list is this table's (name, unit, better) columns; a test
keeps the two equal.
"""

from __future__ import annotations

import statistics

from .trace import EventLog, Span, clipped, self_time, union_length

DECODE = "functions.decode + binlog.*"
APPLY = "plans.apply"
MERGE = "plans.lake merge"
READ = "plans.lake read"
MANIFEST = "plans.lake manifest"
REPLAY = "streaming.replay"
FEED = "streaming.feed + streaming.replica"
SPARK = "Spark runtime"
BENCH = "benchmark"

_DEC = "rows_per_s on backfill (largest share); commit_p50_s on tail (smaller share); nothing on a follower"
_APP = "rows_per_s on backfill; commit_p50_s on tail (re-landed steps decode rows only to drop them)"
_MRG = "rows_per_s on backfill; commit_p50_s on tail (folds); bytes_per_row everywhere"
_RD = "lookup_p50_s on tail and backfill; moves opposite to any fold deferral"
_MAN = "commit_p50_s drift over a long tail"
_RPL = "commit_p50_s on tail"
_FD = "a follower's commit latency and rows/s only (follow workload not run; see README)"
_SP = "shows which phases are driver-bound (tail) and which core-bound (backfill)"

# name: (unit, better, layer, should move)
LAYER_METRICS = {
    "decode.rows": ("rows", "higher", DECODE, _DEC),
    "decode.events": ("events", "higher", DECODE, _DEC),
    "decode.rows_per_busy_s": ("rows/s", "higher", DECODE, _DEC),
    "apply.pre_merge_s": ("s", "lower", APPLY, _APP),
    "apply.jobs": ("jobs/commit", "lower", APPLY, _APP),
    "apply.gate_rows_in": ("rows", "higher", APPLY, _APP),
    "apply.gate_rows_dropped": ("rows", "lower", APPLY, _APP),
    "apply.gate_kept_frac": ("ratio", "higher", APPLY, _APP),
    "merge.self_s": ("s", "lower", MERGE, _MRG),
    "merge.driver_s": ("s", "lower", MERGE, _MRG),
    "merge.rows_in": ("rows", "higher", MERGE, _MRG),
    "merge.dirty_buckets": ("buckets/commit", "lower", MERGE, _MRG),
    "merge.files_written": ("files/commit", "lower", MERGE, _MRG),
    "merge.bytes_written": ("B/commit", "lower", MERGE, _MRG),
    "merge.buckets_folded": ("buckets/commit", "lower", MERGE, _MRG),
    "merge.fold_commit_s": ("s", "lower", MERGE, "commit latency of fold commits on tail"),
    "merge.plain_commit_s": ("s", "lower", MERGE, _MRG),
    "merge.shuffle_write_bytes": ("B/commit", "lower", MERGE, _MRG),
    "merge.task_skew": ("ratio", "lower", MERGE, _MRG),
    "merge.jobs": ("jobs/commit", "lower", MERGE, _MRG),
    "read.lookup_s": ("s", "lower", READ, _RD),
    "read.files_per_lookup": ("files", "lower", READ, _RD),
    "read.jobs": ("jobs/lookup", "lower", READ, _RD),
    "manifest.bytes": ("B", "lower", MANIFEST, _MAN),
    "manifest.versions": ("count", "higher", MANIFEST, _MAN),
    "replay.trigger_overhead_s": ("s", "lower", REPLAY, _RPL),
    "feed.rows": ("rows", "higher", FEED, _FD),
    "feed.versions_per_batch": ("versions", "higher", FEED, _FD),
    "replica.merge_s": ("s", "lower", FEED, _FD),
    "replica.trigger_overhead_s": ("s", "lower", FEED, _FD),
    "spark.core_busy_frac": ("ratio", "higher", SPARK, _SP),
    "spark.shuffle_bytes": ("B", "lower", SPARK, _SP),
    "spark.spill_bytes": ("B", "lower", SPARK, _SP),
    "spark.gc_s": ("s", "lower", SPARK, _SP),
    "trace.overhead_frac": ("ratio", "lower", BENCH,
                            "nothing; traced over untraced commit_p50_s, minus 1"),
    "trace.blocking_coverage": ("ratio", "higher", BENCH,
                                "nothing; share of commit latency its blocking-path spans cover"),
}

# streaming phases outside foreachBatch that block a tail commit
STREAM_PHASES = ("latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets")


def gate_dropped(watermarks: dict, positions: list[tuple[int, int, int]]) -> int:
    """Rows the exactly-once gate must drop: those at or below their file's
    stored (log_pos, event_row_index) watermark.  ``positions`` are
    (file_seq, log_pos, event_row_index) of the decoded rows."""
    n = 0
    for fs, pos, eri in positions:
        wm = watermarks.get(str(fs))
        if wm is not None and (pos, eri) <= (wm["log_pos"], wm["event_row_index"]):
            n += 1
    return n


def reconcile(decode_rows: int, gate_in: int, gate_dropped_rows: int, merge_rows_in: int) -> list[str]:
    """The traced run's row-count identities; returns the ones that fail."""
    bad = []
    if decode_rows != gate_in:
        bad.append(f"decode.rows {decode_rows} != apply.gate_rows_in {gate_in}")
    if gate_in - gate_dropped_rows != merge_rows_in:
        bad.append(
            f"apply.gate_rows_in {gate_in} - apply.gate_rows_dropped "
            f"{gate_dropped_rows} != merge.rows_in {merge_rows_in}"
        )
    return bad


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _children(spans: list[Span], parent: Span, name: str) -> list[Span]:
    return [s for s in spans if s.parent == parent.id and s.name == name]


def compute(spans: list[Span], log: EventLog, k: int, window, plain, probe: dict) -> tuple[dict, dict]:
    """Per-layer metrics over the traced window, plus the trace checks.

    ``probe``: ``positions`` {segment index: [(file_seq, log_pos, eri)]}
    and ``events`` {segment index: events} from the decode probe, its span
    ``decode_span``, ``seg_rows`` {segment index: generated rows},
    ``buckets`` {key: bucket}, ``manifest_bytes``, ``versions`` and, on
    ``tail``, the ``follow`` probe's progress reports."""
    by_id = {s.id: s for s in spans}
    commits = [s for s in spans if s.name == "commit"]
    applies = [s for s in spans if s.name == "apply"]
    merges = [s for s in spans if s.name == "merge"]
    reads = [s for s in spans if s.name == "read"]
    records = [m.attrs["result"] for m in merges]
    n_commits = max(len(records), 1)
    m: dict = {}

    # decode → gate → merge, row for row
    dec_rows = gate_in = dropped = events = 0
    for c in commits:
        for seg in c.attrs["segs"]:
            pos = probe["positions"][seg]
            dec_rows += len(pos)
            events += probe["events"][seg]
            gate_in += probe["seg_rows"][seg]
            dropped += gate_dropped(c.attrs["watermarks"], pos)
    merge_rows = sum(r["input_rows"] for r in records)
    dspan = by_id[probe["decode_span"]]
    busy = sum(t.run_s for t in log.tasks_of({dspan.id}))
    probe_rows = sum(len(p) for p in probe["positions"].values())
    m["decode.rows"] = dec_rows
    m["decode.events"] = events
    m["decode.rows_per_busy_s"] = probe_rows / busy if busy else 0.0
    m["apply.pre_merge_s"] = sum(self_time(a, spans) for a in applies)
    m["apply.jobs"] = len(log.jobs_of({a.id for a in applies})) / max(len(applies), 1)
    m["apply.gate_rows_in"] = gate_in
    m["apply.gate_rows_dropped"] = dropped
    m["apply.gate_kept_frac"] = (gate_in - dropped) / gate_in if gate_in else 0.0

    # merge
    driver = 0.0
    skews = []
    for s in merges:
        jobs = log.jobs_of({s.id})
        driver += s.duration - union_length(
            clipped([(j.start, j.end) for j in jobs if j.end], s.start, s.end)
        )
        reduce_stages = [
            st for st in log.stages_of({s.id})
            if len(log.tasks.get(st, [])) > 1 and any(t.shuffle_read for t in log.tasks[st])
        ]
        if reduce_stages:
            runs = [t.run_s for t in log.tasks[max(reduce_stages)]]
            if statistics.median(runs) > 0:
                skews.append(max(runs) / statistics.median(runs))
    m["merge.self_s"] = sum(self_time(s, spans) for s in merges)
    m["merge.driver_s"] = driver
    m["merge.rows_in"] = merge_rows
    m["merge.dirty_buckets"] = sum(len(r["dirty_buckets"]) for r in records) / n_commits
    m["merge.files_written"] = sum(r["files_written"] for r in records) / n_commits
    m["merge.bytes_written"] = sum(r["bytes_written"] for r in records) / n_commits
    m["merge.buckets_folded"] = sum(len(r["buckets_folded"]) for r in records) / n_commits
    m["merge.fold_commit_s"] = _med(s.duration for s in merges if s.attrs["result"]["buckets_folded"])
    m["merge.plain_commit_s"] = _med(s.duration for s in merges if not s.attrs["result"]["buckets_folded"])
    m["merge.shuffle_write_bytes"] = sum(
        t.shuffle_write for t in log.tasks_of({s.id for s in merges})
    ) / n_commits
    m["merge.task_skew"] = _med(skews)
    m["merge.jobs"] = len(log.jobs_of({s.id for s in merges})) / n_commits

    # read
    files = []
    for s in reads:
        bks = {probe["buckets"][tuple(key)] for key in s.attrs["keys"]}
        files.append(sum(s.attrs["bucket_files"].get(str(b), 0) for b in bks))
    m["read.lookup_s"] = _med(s.duration for s in reads)
    m["read.files_per_lookup"] = sum(files) / max(len(files), 1)
    m["read.jobs"] = len(log.jobs_of({s.id for s in reads})) / max(len(reads), 1)
    m["manifest.bytes"] = probe["manifest_bytes"]
    m["manifest.versions"] = probe["versions"]

    # the commit's blocking path: its apply span plus, on a stream, the
    # trigger phases Spark runs outside foreachBatch
    overhead, coverage = [], []
    for c in commits:
        lat = c.attrs["latency"]
        apply_s = sum(a.duration for a in _children(spans, c, "apply"))
        phases = c.attrs.get("progress") or {}
        overhead.append(lat - apply_s)
        coverage.append((apply_s + sum(phases.get(p, 0) for p in STREAM_PHASES) / 1000) / lat)
    m["replay.trigger_overhead_s"] = _med(overhead)

    follow = probe.get("follow")
    if follow:
        rmerges = [s for s in spans if s.name == "replica.merge"]
        trig = [p["durationMs"]["triggerExecution"] / 1000 for p in follow["progress"]]
        m["feed.rows"] = sum(s.attrs["result"]["input_rows"] for s in rmerges)
        m["feed.versions_per_batch"] = follow["versions"] / max(len(trig), 1)
        m["replica.merge_s"] = _med(s.duration for s in rmerges)
        m["replica.trigger_overhead_s"] = _med(
            t - s.duration for t, s in zip(trig, rmerges)
        )
    else:
        for name in ("feed.rows", "feed.versions_per_batch", "replica.merge_s",
                     "replica.trigger_overhead_s"):
            m[name] = 0

    # Spark runtime over every job the traced window launched
    jobs = [j for j in log.jobs.values() if window.start <= j.start <= window.end]
    stages = {st for j in jobs for st in j.stages}  # a skipped stage is listed again
    tasks = [t for st in stages for t in log.tasks.get(st, [])]
    wall = window.end - window.start
    m["spark.core_busy_frac"] = sum(t.run_s for t in tasks) / (wall * k)
    m["spark.shuffle_bytes"] = sum(t.shuffle_write for t in tasks)
    m["spark.spill_bytes"] = sum(t.spill for t in tasks)
    m["spark.gc_s"] = sum(t.gc_s for t in tasks)
    m["trace.overhead_frac"] = _med(window.commit_s) / _med(plain.commit_s) - 1
    m["trace.blocking_coverage"] = _med(coverage)

    checks = {
        "reconcile_failures": reconcile(dec_rows, gate_in, dropped, merge_rows),
        "coverage_min": min(coverage) if coverage else None,
        "coverage_at_least_0.9": all(c >= 0.9 for c in coverage),
        "coverage_median": m["trace.blocking_coverage"],
    }
    return m, checks
