"""Round-8 optimization evidence harness (bench.py is frozen — guide §1.4).

Per-stage isolation (noop sink) and paired same-window A/Bs for every
measurement cited in OPTIMIZATION_r08.md.  Prints one JSON line per
section.  Usage:

    SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py [section ...]

Sections: minhash, ivf, decon, lww, normalize, decode_shuffle, replica
(default: all).  Same env contract as bench.py
($SPARK_GRAFT_SF_DIR, $SPARK_GRAFT_CPUS); every A/B interleaves its arms
inside one window (the Appendix-D/G/I methodology) so host drift hits
both sides equally.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import build_spark, ensure_cdc_fixture, scratch_dir  # noqa: E402


def _t(fn):
    t0 = time.monotonic()
    fn()
    return round(time.monotonic() - t0, 3)


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def sec_minhash(spark, sf_dir):
    """Stage decomposition of minhash_dup_pairs (sigs / candidates /
    verify) — the round-start profile that located the 39s rows-path
    verify lives in OPTIMIZATION_r08.md; this measures the shipped one."""
    from pyspark.sql import functions as F

    from myzql_binlog_connector_spark.operators import fuzzy
    from myzql_binlog_connector_spark.operators.fuzzy import (
        _doc_shingle_sets,
        _persist_tracked,
        minhash_signatures,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.count()
    fuzzy.minhash_dup_pairs(docs, jaccard_threshold=0.35).count()  # warm
    fuzzy.release_cached()
    out = {}
    sigs = _persist_tracked(minhash_signatures(docs, "text", "doc_id", 8, 5))
    out["signatures_persist_sec"] = _t(lambda: sigs.count())
    out["signatures_standalone_sec"] = _t(
        lambda: minhash_signatures(docs, "text", "doc_id", 8, 5).count()
    )
    t0 = time.monotonic()
    pairs = fuzzy.minhash_dup_pairs(docs, jaccard_threshold=0.35)
    out["dup_pairs_rows"] = pairs.count()
    out["dup_pairs_total_sec"] = round(time.monotonic() - t0, 3)
    fuzzy.release_cached()
    out["doc_shingle_sets_sec"] = _t(
        lambda: _doc_shingle_sets(
            docs.select("doc_id", "text"), "text", "doc_id", 5
        ).toArrow()
    )
    fuzzy.release_cached()
    print(json.dumps({"section": "minhash", **out}))


def sec_ivf(spark, sf_dir):
    """IVF phases: driver k-means (one collect job), shuffle-free
    assignment scan, full query."""
    from pyspark.sql import functions as F

    from myzql_binlog_connector_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") < 10)
    similarity.ann_topk_ivf(emb, probes, k=3, stride=100, nprobe=3).count()
    out = {}
    t0 = time.monotonic()
    cids, C, cnrm = similarity._kmeans_centroids_np(
        emb, 100, "vec_id", "embedding", 64
    )
    out["kmeans_driver_sec"] = round(time.monotonic() - t0, 3)
    out["n_cells"] = int(len(cids))
    assigned = similarity._assign_cells(
        emb, cids, C, cnrm, "vec_id", "embedding", 64
    )
    out["assignment_scan_sec"] = _t(lambda: _noop(assigned))
    out["full_query_sec"] = _t(
        lambda: similarity.ann_topk_ivf(
            emb, probes, k=3, stride=100, nprobe=3
        ).count()
    )
    print(json.dumps({"section": "ivf", **out}))


def sec_decon(spark, sf_dir):
    """Decontamination: rolling-hash shingle scan vs the full query."""
    from myzql_binlog_connector_spark.operators.text import shingle_hash_rows

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.count()
    out = {}
    sh = shingle_hash_rows(docs.select("doc_id", "text"), "text", "doc_id", 40)
    _noop(sh)  # warm
    out["doc_hash_scan_sec"] = _t(lambda: _noop(sh))
    from myzql_binlog_connector_spark.operators.text import decontaminate
    from pyspark.sql import functions as F

    bench = docs.filter(F.col("doc_id") % 17 == 0).select("text")
    q = decontaminate(docs, bench, k=40).select("doc_id", "n_chars")
    out["full_query_sec"] = _t(lambda: q.count())
    print(json.dumps({"section": "decon", **out}))


def sec_lww(spark, sf_dir):
    """Paired A/B: ranking-window LWW vs the shipped max_by aggregate,
    under the frozen bench's count() methodology."""
    from pyspark.sql import Window, functions as F

    from myzql_binlog_connector_spark.operators.dedup import lww_dedup

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.count()
    key_cols, order_cols = ["user_id", "event_type"], ["ts", "event_id"]

    def window_form():
        w = Window.partitionBy(*key_cols).orderBy(
            *[F.desc(c) for c in order_cols]
        )
        return (
            ev.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def sel(df):
        return df.select("user_id", "event_type", "event_id", "value")

    sel(lww_dedup(ev, key_cols, order_cols)).count()  # warm
    trials = []
    for _ in range(3):
        a = _t(lambda: sel(window_form()).count())
        b = _t(lambda: sel(lww_dedup(ev, key_cols, order_cols)).count())
        trials.append({"window": a, "max_by": b})
    print(json.dumps({"section": "lww", "paired_trials": trials}))


def sec_normalize(spark, sf_dir):
    """Paired A/B: two-pass vs shipped single-pass normalize_text."""
    from pyspark.sql import functions as F

    from myzql_binlog_connector_spark.operators.text import normalize_text

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    docs.count()

    def old_norm(c):
        return F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower(c), "[^a-z0-9 ]", " "), " +", " "
            )
        )

    _noop(docs.select(normalize_text(F.col("text")).alias("n")))  # warm
    trials = []
    for _ in range(3):
        a = _t(lambda: _noop(docs.select(old_norm(F.col("text")).alias("n"))))
        b = _t(
            lambda: _noop(
                docs.select(normalize_text(F.col("text")).alias("n"))
            )
        )
        trials.append({"two_pass": a, "single_pass": b})
    print(json.dumps({"section": "normalize", "paired_trials": trials}))


def sec_decode_shuffle(spark, sf_tag):
    """Paired A/B: hash- vs range-partitioned segment co-location in
    decode_changes (the round-8 skew fix)."""
    from myzql_binlog_connector_spark.functions.decode import (
        ENVELOPE_SCHEMA,
        _vec_flush_rows,
        make_decoder,
    )

    seg_dir, _ = ensure_cdc_fixture(sf_tag)
    events = spark.read.parquet(seg_dir)
    par = spark.sparkContext.defaultParallelism
    flush = _vec_flush_rows(par)

    def decode(df):
        return df.mapInArrow(
            make_decoder(flush_rows=flush), schema=ENVELOPE_SCHEMA
        )

    def v_hash():
        return decode(
            events.repartition(par, "file_seq").sortWithinPartitions(
                "file_seq", "offset"
            )
        ).count()

    def v_range():
        return decode(
            events.repartitionByRange(2 * par, "file_seq")
            .sortWithinPartitions("file_seq", "offset")
        ).count()

    v_range()  # warm
    trials = [
        {"hash": _t(v_hash), "range": _t(v_range)} for _ in range(3)
    ]
    print(json.dumps({"section": "decode_shuffle", "paired_trials": trials}))


def sec_replica(spark, sf_tag):
    """Replica catch-up phase decomposition: primary ingest, feed batch
    read, direct merge (no streaming), full replicate() stream."""
    from pyspark.sql import functions as F

    from myzql_binlog_connector_spark.plans.apply import TranscriptsApplier
    from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable
    from myzql_binlog_connector_spark.streaming.feed import (
        COMMIT_VERSION_COL,
        LakeChangesDataSource,
    )
    from myzql_binlog_connector_spark.streaming.replica import replicate

    seg_dir, n_ops = ensure_cdc_fixture(sf_tag)
    paths = sorted(glob.glob(os.path.join(seg_dir, "*.parquet")))
    src_dir = scratch_dir("bx_repl_src_")
    dirs = [src_dir]
    out = {"change_rows": n_ops}
    try:
        src = BucketedLakeTable(
            spark, src_dir, ["conv_id", "turn_idx"], n_buckets=32
        )
        applier = TranscriptsApplier(spark, src)
        step = max(1, len(paths) // 4)
        t0 = time.monotonic()
        for b, i in enumerate(range(0, len(paths), step)):
            applier.apply_files(paths[i : i + step], batch_id=b)
        out["primary_4commit_sec"] = round(time.monotonic() - t0, 3)

        spark.dataSource.register(LakeChangesDataSource)
        feed = spark.read.format("lake_changes").option("path", src_dir).load()
        out["feed_batch_sec"] = _t(lambda: feed.count())
        out["feed_partitions"] = feed.rdd.getNumPartitions()

        dst_dir = scratch_dir("bx_repl_dst_")
        dirs.append(dst_dir)
        dst = BucketedLakeTable(
            spark, dst_dir, ["conv_id", "turn_idx"], n_buckets=32
        )
        out["direct_merge_sec"] = _t(
            lambda: dst.merge(feed.drop(COMMIT_VERSION_COL), batch_id="bx")
        )

        dst2_dir, ckpt = scratch_dir("bx_repl_dst2_"), scratch_dir("bx_ck_")
        dirs += [dst2_dir, ckpt]
        dst2 = BucketedLakeTable(
            spark, dst2_dir, ["conv_id", "turn_idx"], n_buckets=32
        )
        t0 = time.monotonic()
        q = replicate(spark, src_dir, dst2, ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        out["replicate_stream_sec"] = round(time.monotonic() - t0, 3)

        def checksum(t):
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

        out["state_match"] = checksum(src) == checksum(dst2)
    finally:
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)
    print(json.dumps({"section": "replica", **out}))


SECTIONS = {
    "minhash": ("sf_dir", sec_minhash),
    "ivf": ("sf_dir", sec_ivf),
    "decon": ("sf_dir", sec_decon),
    "lww": ("sf_dir", sec_lww),
    "normalize": ("sf_dir", sec_normalize),
    "decode_shuffle": ("sf_tag", sec_decode_shuffle),
    "replica": ("sf_tag", sec_replica),
}


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    wanted = sys.argv[1:] or list(SECTIONS)
    spark = build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    for name in wanted:
        kind, fn = SECTIONS[name]
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        fn(spark, sf_dir if kind == "sf_dir" else sf_tag)
        spark.sparkContext.setJobDescription(None)
    spark.stop()


if __name__ == "__main__":
    main()
