"""The benchmark's workloads: ``backfill`` and ``tail``.

Both are closed loops with one client in one process, driving only public
entry points (``TranscriptsApplier.apply_files``, ``BinlogReplayStream``,
``BucketedLakeTable.read``, ``streaming.replica.replicate``) and checking
every commit and lookup against ``genlog``'s own truth.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

from myzql_binlog_connector_spark.plans.apply import TranscriptsApplier
from myzql_binlog_connector_spark.plans.lake import MANIFEST_DIR, BucketedLakeTable
from myzql_binlog_connector_spark.streaming.replay import BinlogReplayStream
from myzql_binlog_connector_spark.streaming.replica import replicate

from .fixtures import Fixture, FixtureSpec

KEY = ["conv_id", "turn_idx"]
PAYLOAD = ["conv_id", "turn_idx", "role", "text", "tool"]
N_BUCKETS = 16
KEYS_PER_LOOKUP = 3


def build_spark(run_dir: str, k: int, event_log_dir: str | None = None):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{k}]")
        .appName("cdcbench")
        .config("spark.sql.shuffle.partitions", str(max(k, 8)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # a fixed-size heap (-Xms = -Xmx) keeps the JVM's share of
        # peak_rss_mb from depending on when G1 chose to grow the heap
        .config("spark.driver.memory", "1g")
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms1g -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
        )
        .config("spark.local.dir", os.path.join(run_dir, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
        .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
    )
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + event_log_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Checks:
    """Operations attempted and failed; a failed check is a wrong output."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what)


@dataclass
class Window:
    """What one timed window measured."""

    seconds: float = 0.0  # closed-loop time: commits, landings and lookups
    rows: int = 0  # change rows committed
    # (rows, seconds) of each whole unit of work: a backfill pass, a tail cycle
    units: list = field(default_factory=list)
    bytes_written: int = 0
    bytes_per_row: float = 0.0
    commit_s: list = field(default_factory=list)
    lookup_s: list = field(default_factory=list)
    start: float = 0.0  # epoch bounds, for the traced run's event log
    end: float = 0.0


def units_for(seconds: float, unit_s: float) -> int:
    """Whole units of work in a window of about ``seconds``.

    A window is a fixed amount of work, not a deadline: with a deadline a
    run whose units happen to end just past it measures one unit more than
    a run whose units end just short of it, further down the warm-up curve,
    and the two disagree by more than the host's noise.  ``unit_s`` is a
    unit's nominal length (local[2] on a 4-core host), so the window lasts
    about ``seconds`` there."""
    return max(1, round(seconds / unit_s))


def span(rec, name: str, **attrs):
    return rec.span(name, **attrs) if rec is not None else nullcontext()


def sample_keys(rng: random.Random, pool: list, n: int) -> list:
    return rng.sample(pool, n) if len(pool) >= n else [rng.choice(pool) for _ in range(n)]


def lookup(tbl, keys: list, truth: dict, checks: Checks, rec) -> float:
    """One point-lookup ``read(keys=...)``, checked against ``truth``."""
    with span(rec, "read", keys=keys) as s:
        if s is not None:
            # head-manifest files per bucket, for read.files_per_lookup
            m = tbl.snapshot_manifest()
            s.attrs["bucket_files"] = {b: len(fl) for b, fl in m["files"].items()}
        t0 = time.perf_counter()
        rows = (
            tbl.read(keys=[{"conv_id": c, "turn_idx": t} for c, t in keys])
            .select(*PAYLOAD)
            .collect()
        )
        dt = time.perf_counter() - t0
    got = {(r[0], r[1]): (r[2], r[3], r[4]) for r in rows}
    want = {k: truth[k] for k in keys if k in truth}
    checks.check(got == want and len(rows) == len(got), f"lookup {keys}")
    return dt


def table_state(tbl) -> dict:
    return {(r[0], r[1]): (r[2], r[3], r[4]) for r in tbl.read().select(*PAYLOAD).collect()}


def manifest_bytes(tbl) -> int:
    m = tbl.snapshot_manifest()
    return os.path.getsize(os.path.join(tbl.path, MANIFEST_DIR, f"v{m['version']}.json"))


class Backfill:
    """Repeated bounded replays of one segment store, each into a fresh
    table with one ``apply_files`` commit, then point lookups on it."""

    name = "backfill"
    spec = FixtureSpec("backfill", n_convs=12000, n_segments=40)
    # untimed passes before timing: on a 4-core host at local[2] the first
    # is cold (~4x a warm pass: Python workers, codegen, JIT), the second
    # and third ~1.2x; passes then keep getting a few percent faster
    warm_passes = 3
    lookups = 2  # read(keys=...) calls after each commit
    pass_s = 3.0  # nominal pass: one commit and its lookups

    def __init__(self, spark, fx: Fixture, run_dir: str, seed: int, checks: Checks):
        self.spark, self.fx, self.run_dir, self.checks = spark, fx, run_dir, checks
        self.rng = random.Random(seed)
        self.truth = fx.truth_after(len(fx.paths) - 1)
        self.keys = sorted({op.key for op in fx.ops})
        self.n = 0
        self.tbl = None
        self.rec = None  # SpanRecorder while tracing

    def setup(self) -> dict:
        warm = [Window() for _ in range(self.warm_passes)]
        for w in warm:
            self.replay(w)
        return {"warm_pass_s": [w.seconds for w in warm]}

    def replay(self, win: Window) -> None:
        rec = self.rec
        prev = self.tbl
        tbl = BucketedLakeTable(
            self.spark, os.path.join(self.run_dir, f"backfill-{self.n}"), KEY,
            n_buckets=N_BUCKETS,
        )
        self.n += 1
        app = TranscriptsApplier(self.spark, tbl)
        if rec is not None:
            app.apply_files = rec.wrap("apply", app.apply_files)
            tbl.merge = rec.wrap("merge", tbl.merge)
        # a fresh table has no watermarks: the gate keeps every row
        with span(rec, "commit", watermarks={}, segs=list(range(len(self.fx.paths)))) as s:
            t0 = time.perf_counter()
            r = app.apply_files(self.fx.paths, batch_id=0)
            dt = time.perf_counter() - t0
            if s is not None:
                s.attrs["latency"] = dt
        self.checks.check(
            not r.get("skipped") and r.get("input_rows") == len(self.fx.ops),
            f"replay {self.n} committed {r.get('input_rows')} of {len(self.fx.ops)} rows",
        )
        win.commit_s.append(dt)
        win.rows += r.get("input_rows", 0)
        win.seconds += dt
        win.bytes_written += r.get("bytes_written", 0)
        self.tbl = tbl
        for _ in range(self.lookups):
            keys = sample_keys(self.rng, self.keys, KEYS_PER_LOOKUP)
            lat = lookup(tbl, keys, self.truth, self.checks, rec)
            win.lookup_s.append(lat)
            win.seconds += lat
        if prev is not None:
            shutil.rmtree(prev.path, ignore_errors=True)

    def window(self, seconds: float) -> Window:
        win = Window(start=time.time())
        for _ in range(units_for(seconds, self.pass_s)):
            rows, secs = win.rows, win.seconds
            self.replay(win)
            win.units.append((win.rows - rows, win.seconds - secs))
        win.end = time.time()
        win.bytes_per_row = win.bytes_written / win.rows
        return win

    def trace_with(self, rec) -> None:
        self.rec = rec  # replay() wraps each fresh table and applier

    def finish(self) -> None:
        self.checks.check(table_state(self.tbl) == self.truth, "final backfill table")


class Tail:
    """A live ``BinlogReplayStream`` over a preloaded table: each step lands
    one segment file, waits for it to commit, then runs point lookups on
    keys from that segment."""

    name = "tail"
    preload = 20  # segments applied by an untimed backfill before the stream
    # untimed steps (two fresh segments): the first trigger and the first
    # lookups are slow; the window starts with a re-land, then a fold
    warm_steps = 2
    # every 4th step (the 3rd, 7th, ...) re-lands the last segment under a
    # new name, as an at-least-once archiver would
    reland_every = 4
    # fold a bucket once it has more than 3 files: with the preload's one
    # file per bucket and every bucket dirty in every commit, every 3rd
    # commit folds, so each 4-step cycle (3 commits, 1 re-land) holds one
    # fold and a window of whole cycles always has the same mix
    max_files_per_bucket = 3
    # one lookup per step (two took a third of a step), so that a run's
    # time has room for two whole cycles
    lookups = 1
    cycle_s = 12.5  # nominal cycle: four steps and their lookups
    # the ADD COLUMN lands in the second fresh segment after the warm-up;
    # ~1k generated ops per segment; a run uses the preload's 20 segments
    # and 3 fresh ones per cycle, so 40 leave room for a few more cycles
    spec = FixtureSpec("tail", n_convs=6400, n_segments=40, evolve_segment=24)

    def __init__(self, spark, fx: Fixture, run_dir: str, seed: int, checks: Checks):
        self.spark, self.fx, self.run_dir, self.checks = spark, fx, run_dir, checks
        self.seed = seed
        self.land = os.path.join(run_dir, "landing")
        os.makedirs(self.land)
        self.tbl = BucketedLakeTable(
            spark, os.path.join(run_dir, "tail"), KEY, n_buckets=N_BUCKETS,
            max_files_per_bucket=self.max_files_per_bucket,
        )
        self.app = TranscriptsApplier(spark, self.tbl)
        self.g = 0  # global step number
        self.next_fresh = self.preload
        self.last_fresh = self.preload - 1
        self.commits: list[dict] = []  # commit records after the preload
        self._truth = (None, None)
        self.rec = None
        self.stream = self.q = None

    def truth(self) -> dict:
        if self._truth[0] != self.last_fresh:
            self._truth = (self.last_fresh, self.fx.truth_after(self.last_fresh))
        return self._truth[1]

    def setup(self) -> dict:
        t0 = time.perf_counter()
        r = self.app.apply_files(self.fx.paths[: self.preload], batch_id=0)
        self.checks.check(
            r.get("input_rows") == self.fx.bounds[self.preload], "tail preload rows"
        )
        t1 = time.perf_counter()
        self.stream = BinlogReplayStream(
            self.spark, self.land, self.app, os.path.join(self.run_dir, "ckpt")
        )
        self.q = self.stream.start(available_now=False)
        warm = [Window() for _ in range(self.warm_steps)]
        for w in warm:
            self.step(w)
        return {"preload_s": t1 - t0, "warm_step_s": [w.seconds for w in warm]}

    def trace_with(self, rec) -> None:
        self.rec = rec
        self.app.apply_batch = rec.wrap("apply", self.app.apply_batch)
        self.tbl.merge = rec.wrap("merge", self.tbl.merge)

    def _progress_for(self, n_before: int, timeout_s: float = 2.0) -> dict | None:
        """The progress report of the data batch that ran after ``n_before``
        reports (the report can trail ``processAllAvailable`` slightly)."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            for p in self.q.recentProgress[n_before:]:
                if p["numInputRows"] > 0:
                    return p
            time.sleep(0.01)
        return None

    def step(self, win: Window) -> None:
        g = self.g
        self.g += 1
        reland = g % self.reland_every == 2
        if reland:
            seg = self.last_fresh
        else:
            seg = self.next_fresh
            if seg >= len(self.fx.paths):
                raise RuntimeError("tail ran out of segments; raise spec.n_segments")
            self.next_fresh += 1
        rec = self.rec
        if rec is not None:
            rec.step = g
        n_records = len(self.stream.batch_records)
        n_versions = len(self.tbl.versions())
        n_progress = len(self.q.recentProgress) if rec is not None else 0
        with span(rec, "step", reland=reland):
            # the gate's state before the step, for the traced run's oracle
            wms = self.tbl.watermarks() if rec is not None else None
            with span(rec, "land"):
                t0 = time.perf_counter()
                tmp = os.path.join(self.land, f".landing-{g:05d}")
                shutil.copyfile(self.fx.paths[seg], tmp)
                name = "reland" if reland else "seg"
                os.rename(tmp, os.path.join(self.land, f"{name}-{g:05d}.parquet"))
                land_s = time.perf_counter() - t0
            with span(rec, "commit", watermarks=wms, segs=[seg]) as cs:
                t0 = time.perf_counter()
                self.q.processAllAvailable()
                dt = time.perf_counter() - t0
            if cs is not None:
                p = self._progress_for(n_progress)
                cs.attrs.update(latency=dt, progress=p["durationMs"] if p else {})
        if not reland:
            self.last_fresh = seg
        recs = self.stream.batch_records[n_records:]
        r = recs[0] if len(recs) == 1 else {}
        if reland:
            ok = r.get("skipped") is True and len(self.tbl.versions()) == n_versions
        else:
            ok = (
                not r.get("skipped")
                and r.get("input_rows") == self.fx.seg_rows(seg)
                and len(self.tbl.versions()) == n_versions + 1
            )
            self.commits.append(r)
        self.checks.check(ok and len(recs) == 1, f"step {g} (segment {seg}, reland={reland})")
        win.commit_s.append(dt)
        win.rows += 0 if reland else r.get("input_rows", 0)
        win.seconds += land_s + dt
        rng = random.Random(self.seed * 1_000_003 + g)
        pool = sorted({op.key for op in self.fx.seg_ops(seg)})
        truth = self.truth()
        for _ in range(self.lookups):
            lat = lookup(self.tbl, sample_keys(rng, pool, KEYS_PER_LOOKUP), truth,
                         self.checks, rec)
            win.lookup_s.append(lat)
            win.seconds += lat

    def window(self, seconds: float) -> Window:
        """Whole 4-step cycles, about ``seconds`` of closed-loop time."""
        win = Window(start=time.time())
        for _ in range(units_for(seconds, self.cycle_s)):
            rows, secs = win.rows, win.seconds
            for _ in range(self.reland_every):
                self.step(win)
            win.units.append((win.rows - rows, win.seconds - secs))
        win.end = time.time()
        win.bytes_per_row = amortized_bytes_per_row(self.commits)
        return win

    def follow_probe(self, rec) -> dict:
        """A replica catching up on this table's change feed, a few versions
        per micro-batch (traced run only); it must equal the primary."""
        self.q.stop()
        dst = BucketedLakeTable(
            self.spark, os.path.join(self.run_dir, "replica"), KEY, n_buckets=N_BUCKETS
        )
        dst.merge = rec.wrap("replica.merge", dst.merge)
        with rec.span("follow"):
            fq = replicate(
                self.spark, self.tbl.path, dst, os.path.join(self.run_dir, "rckpt"),
                max_versions_per_batch=4,
            )
            fq.processAllAvailable()
            progress = [p for p in fq.recentProgress if p["numInputRows"] > 0]
            fq.stop()
        self.checks.check(table_state(dst) == table_state(self.tbl), "replica equals primary")
        return {"progress": progress, "versions": len(self.tbl.versions())}

    def finish(self) -> None:
        if self.q is not None and self.q.isActive:
            self.q.stop()
        self.checks.check(table_state(self.tbl) == self.truth(), "final tail table")


def amortized_bytes_per_row(commits: list[dict]) -> float:
    """Lake bytes written per applied row: delta files per row, plus each
    fold's rewrite spread over the rows committed since the previous fold."""
    delta = rows = since_fold = 0
    fold_terms = []
    for r in commits:
        d = sum(os.path.getsize(p) for p in r["delta_files"])
        delta += d
        rows += r["input_rows"]
        since_fold += r["input_rows"]
        if r["buckets_folded"]:
            fold_terms.append((r["bytes_written"] - d) / since_fold)
            since_fold = 0
    return delta / rows + (sum(fold_terms) / len(fold_terms) if fold_terms else 0.0)


WORKLOADS = {w.name: w for w in (Backfill, Tail)}
