"""Two-parallelism scaling evidence (north rule: ≥0.8 efficiency N→4N).

No real cluster in this sandbox, so the same job runs at local[N] and
local[4N] on identical input (driver instruction in BASELINE.md).  Each
level runs in a fresh subprocess (a SparkSession master can't change
in-process).  The levels ALTERNATE — N, 4N, N, 4N, … — so each pair's two
runs share one host window and every efficiency reading compares like
with like; sequential windows on identical code spanned 0.695-0.874
(BENCH/BASELINE.md Appendices L and N).  Rewrites the header of
BENCH/BASELINE.md and keeps its appendices.  Usage:

    SCALING_N=2 PAIRS=3 python scripts/scaling_bench.py

Efficiency = (throughput_4N / throughput_N) / 4: 1.0 means perfect linear
scaling; the sandbox shares one machine so memory bandwidth and the
parquet source cap the upper end.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, os, sys
sys.path.insert(0, %(repo)r)
import bench
cpus = int(sys.argv[1])
spark = bench.build_spark(cpus)
spark.sparkContext.setLogLevel("ERROR")
seg, n_ops = bench.ensure_cdc_fixture("sf0.1")
res = {"cpus": cpus, "n_ops": n_ops}
# window-quality probe (engine-independent parquet scan+agg): a degraded
# host window shows up here, not as a phantom engine regression (same
# policy as bench.py's probe_sec)
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
res["probe_sec"] = bench.window_probe(spark, sf_dir)
_ = bench.bench_cdc_replay(spark, "sf0.1")  # warm-up: codegen/JIT, untimed
res["replay"] = bench.bench_cdc_replay(spark, "sf0.1")  # itself best-of-2
res["decode"] = bench.bench_decode_only(spark, "sf0.1")
print("RESULT:" + json.dumps(res))
spark.stop()
"""


def run_level(cpus: int) -> dict:
    env = dict(os.environ)
    # big enough that per-level compute (~280 s single-core) dwarfs the
    # ~5 s of driver/commit latency that doesn't parallelize
    env.setdefault("SPARK_GRAFT_CDC_OPS", "3200000")
    # tmpfs scratch: on this single box every level shares ONE disk, so
    # table writes + shuffle spill serialize at ~300 MB/s regardless of
    # cores — a multi-executor cluster has per-executor disks, so the
    # scaling criterion is about CPU, not one SSD.  RAM-backed scratch
    # isolates the CPU term honestly.
    os.makedirs("/dev/shm/spark_graft_scratch", exist_ok=True)
    env.setdefault("TMPDIR", "/dev/shm/spark_graft_scratch")
    env.setdefault("SPARK_LOCAL_DIRS", "/dev/shm/spark_graft_scratch")
    # taskset pins the WHOLE process tree (JVM + python workers + pyarrow
    # thread pools) to exactly `cpus` CPUs — local[N] alone does not bound
    # CPU use because arrow/JVM helper threads spill onto every core, which
    # silently turns the "N-core" level into a whole-box run
    cmd = ["taskset", "-c", f"0-{cpus - 1}", sys.executable, "-c",
           CHILD % {"repo": REPO}, str(cpus)]
    proc = subprocess.run(
        cmd, capture_output=True, text=True, timeout=3600, cwd=REPO, env=env,
    )
    for line in proc.stdout.splitlines():
        if line.startswith("RESULT:"):
            return json.loads(line[len("RESULT:"):])
    raise RuntimeError(f"no result at cpus={cpus}:\n{proc.stdout[-2000:]}\n{proc.stderr[-2000:]}")


def main():
    small = int(os.environ.get("SCALING_N", "2"))
    big = small * 4
    n_pairs = int(os.environ.get("PAIRS", "3"))
    pairs, raw = [], []
    for i in range(n_pairs):
        rs, rb = run_level(small), run_level(big)
        raw.append({"small": rs, "big": rb})
        pairs.append({
            "pair": i,
            "eff_e2e": round(rb["replay"]["rows_per_sec"] / rs["replay"]["rows_per_sec"] / 4, 3),
            "eff_decode": round(rb["decode"]["rows_per_sec"] / rs["decode"]["rows_per_sec"] / 4, 3),
            "small_sec": rs["replay"]["sec"],
            "big_sec": rb["replay"]["sec"],
            "small_probe": min(rs["probe_sec"]),
            "big_probe": min(rb["probe_sec"]),
        })
        print(json.dumps(pairs[-1]), flush=True)
    med = statistics.median(p["eff_e2e"] for p in pairs)
    med_d = statistics.median(p["eff_decode"] for p in pairs)
    rows = "\n".join(
        f"| {p['pair']} | {p['eff_e2e']} | {p['eff_decode']} | {p['small_sec']} "
        f"| {p['big_sec']} | {p['small_probe']} | {p['big_probe']} |"
        for p in pairs
    )
    commit = subprocess.run(
        ["git", "rev-parse", "--short", "HEAD"], capture_output=True, text=True, cwd=REPO,
    ).stdout.strip() or "unknown"
    stamp = time.strftime("%Y-%m-%d %H:%M UTC", time.gmtime())

    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    out = os.path.join(REPO, "BENCH", "BASELINE.md")
    # the per-round appendices (A..) accumulate below the header —
    # rewriting the whole file would destroy them; keep the tail
    tail = ""
    if os.path.exists(out):
        prev = open(out).read()
        idx = prev.find("\n## Appendix")
        if idx >= 0:
            tail = prev[idx:]
    with open(out, "w") as f:
        f.write(f"""# BENCH/BASELINE — scaling evidence (sandbox form of the north rule)

North rule: ≥0.8 throughput scaling efficiency between N and 4N executors.
Sandbox evidence: the same end-to-end CDC replay job (decode → LWW dedup →
bucketed-lake MERGE, {raw[0]['small']['n_ops']:,} change events) at two
parallelism levels on identical input, in {n_pairs} interleaved pairs
({small}c then {big}c, fresh JVM each, warm-up replay untimed, the replay
itself best-of-2).  Each pair's two runs share one host window, so each
efficiency reading compares like with like.  Each level is
`taskset`-pinned to exactly its core budget (local[N] alone does not
bound CPU — JVM/pyarrow helper threads spill onto all cores).  Scratch
(lake table, shuffle) is tmpfs-backed: the sandbox's single shared SSD
would serialize both levels at the same ~300 MB/s regardless of cores,
which a multi-executor cluster (per-executor disks / object store) does
not do — the criterion measures compute scaling.  Generated {stamp} by
scripts/scaling_bench.py at commit `{commit}`.

| pair | e2e eff | decode eff | {small}c sec | {big}c sec | {small}c probe | {big}c probe |
|---|---|---|---|---|---|---|
{rows}

**Paired medians (N→4N): end-to-end {med}, decode {med_d}**

Probes are the engine-independent parquet scan+agg window-quality probe
(seconds, best of the level's probes); compare them across windows before
reading efficiency deltas — the shared host drifts ±15-50% hour to hour
(Appendices A/B/G).

Efficiency = (throughput_4N / throughput_N) / 4.  The e2e column is the
north metric (change-events/sec applied: decode + LWW + exactly-once merge
into a committed, queryable table).  The decode column is the
zero-shuffle bounded-replay path — the same work class as the
reference's log-only pipeline.

Reference single-node comparison point: 594,249 rows/sec, log-only
(/root/reference/README.md:427; pipeline mode, batch 8192).  The 4N
decode-only rate is the apples-to-apples number; the e2e rate additionally
pays for the LWW merge and exactly-once commit the reference does not do.
Unlike the reference, both keep scaling horizontally — segments are
independent decode units and the merge is bucket-parallel, so a
1000-executor cluster assigns segments/buckets across executors with no
shared state (see myzql_binlog_connector_spark/functions/decode.py and
plans/lake.py docstrings for the partitioning argument).

Raw results:
```json
{json.dumps(raw, indent=2)}
```
""")
        f.write(tail)
    print(json.dumps({"median_e2e": med, "median_decode": med_d}))
    print("wrote", out)


if __name__ == "__main__":
    main()
