"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship CDC pipeline (binlog encode → distributed
decode → LWW → final state) on sf0.001.  ``queries()`` exposes one entry per
implemented operator from SURVEY.md §2 plus the training-data-pipeline
operators; ``oracle_sql()`` carries the DuckDB-runnable ANSI mirror of each.

Column names and types are aligned on both sides (the driver hashes values
after sorting columns by name).  Floats are rounded before comparison;
hashes are md5-based so Spark and DuckDB compute identical values.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import sys
import tempfile
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from myzql_binlog_connector_spark import harness
from myzql_binlog_connector_spark.functions.decode import decode_changes
from myzql_binlog_connector_spark.functions.position import (
    position_range,
    position_range_sql,
)
from myzql_binlog_connector_spark.functions.table_filter import TableFilter
from myzql_binlog_connector_spark.operators import fuzzy, sampling, similarity, text as T
from myzql_binlog_connector_spark.operators.dedup import lww_dedup

SF_DEFAULT = "/root/testdata/sf0.001"


@functools.cache
def _scratch_root() -> str:
    """This process's scratch root, removed when the process exits."""
    root = tempfile.mkdtemp(prefix="spark_entry_")
    pid = os.getpid()  # a forked child must not remove its parent's root
    atexit.register(lambda: os.getpid() == pid and shutil.rmtree(root, ignore_errors=True))
    return root


def _scratch(prefix: str) -> str:
    """A fresh directory for one query run, under :func:`_scratch_root`.
    The queries return lazy frames that read from it, so it lives until
    the process exits, not until the query returns."""
    return tempfile.mkdtemp(prefix=prefix, dir=_scratch_root())


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: encode sf0.001 documents as binlog WRITE_ROWS, decode them
    distributed (mapInArrow), LWW-dedup, return the final applied state."""
    return q_cdc_decode_roundtrip(spark, SF_DEFAULT)


# ---------------------------------------------------------------------------
# CDC core queries
# ---------------------------------------------------------------------------


def q_cdc_decode_roundtrip(spark, sf_dir):
    events = harness.docs_cdc_events(spark, sf_dir)
    env = decode_changes(events)
    state = harness.typed_final_state(
        env, harness.DOCS_SCHEMA, (0,), ["bigint", "string", "string", "string", "bigint"]
    )
    return state.select("doc_id", "text", "lang", "source", "n_chars")


def q_cdc_apply_state(spark, sf_dir):
    events = harness.events_cdc_stream(spark, sf_dir)
    env = decode_changes(events)
    state = harness.typed_final_state(
        env,
        harness.EVENTS_TBL_SCHEMA,
        (0,),
        ["bigint", "bigint", "string", "double", "string"],
    )
    return state.select("event_id", "user_id", "event_type", "value", "props")


def q_cdc_schema_evolution(spark, sf_dir):
    """Mid-stream TABLE_MAP add-column: V1 inserts, then a widened V2 map
    + updates over the same table id.  Evolved rows carry the new
    ``quality`` column; untouched rows NULL-pad it (plans/apply.py widens
    the union schema the same way)."""
    events = harness.docs_cdc_evolving_events(spark, sf_dir)
    env = decode_changes(events)
    state = harness.typed_final_state(
        env,
        harness.DOCS_SCHEMA_V2,
        (0,),
        ["bigint", "string", "string", "string", "bigint", "bigint"],
    )
    # NULL-pad is the semantics under test; coalesce at presentation so
    # the compare never hits nullable-int NaN asymmetries between engines
    return state.select(
        "doc_id", "text", "lang", "source", "n_chars",
        F.coalesce(F.col("quality"), F.lit(-1)).alias("quality"),
    )


def q_cdc_envelope_counts(spark, sf_dir):
    events = harness.docs_cdc_events(spark, sf_dir)
    env = decode_changes(events)
    return (
        env.groupBy("database", "table_name", "dml_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("database", "table_name", "dml_type", "n")
    )


def q_cdc_bounded_replay(spark, sf_dir):
    events = harness.docs_cdc_events(spark, sf_dir, n_segments=2)
    env = decode_changes(events, stop_position=(2, 0))  # everything in file 1
    state = harness.typed_final_state(
        env, harness.DOCS_SCHEMA, (0,), ["bigint", "string", "string", "string", "bigint"]
    )
    return state.select("doc_id", "text")


def q_cdc_streaming_restart(spark, sf_dir):
    """Final table state after a checkpointed streaming replay that stops
    (all current segments drained), then resumes after more segments
    arrive — state is a pure function of the op stream, so the oracle is
    the same CASE/WHERE SQL as cdc_apply_state (T5 resume semantics)."""

    from myzql_binlog_connector_spark.plans.apply import TranscriptsApplier
    from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable
    from myzql_binlog_connector_spark.streaming.replay import BinlogReplayStream

    writers = harness.events_stream_writers(sf_dir, n_segments=4)
    split = max(1, len(writers) // 2)
    root = _scratch("cdc_restart_")
    seg = os.path.join(root, "seg")
    harness.write_writers_parquet(writers[:split], seg)

    table = BucketedLakeTable(
        spark, os.path.join(root, "t"), ["event_id"], n_buckets=8
    )
    applier = TranscriptsApplier(
        spark,
        table,
        column_names=["event_id", "user_id", "event_type", "value", "props"],
        key_positions=(0,),
    )
    ckpt = os.path.join(root, "ckpt")
    BinlogReplayStream(
        spark, seg, applier, checkpoint_dir=ckpt, max_files_per_trigger=1
    ).run_to_completion()
    # restart: a NEW stream over the same checkpoint after the remaining
    # segments arrive — Spark's file-source checkpoint + the applier's
    # watermark gate make the resume exactly-once
    n_events_done = sum(len(w.events) for w in writers[:split])
    harness.write_writers_parquet(
        writers[split:], seg, start_seq=split + 1, start_gtid=n_events_done
    )
    BinlogReplayStream(
        spark, seg, applier, checkpoint_dir=ckpt, max_files_per_trigger=1
    ).run_to_completion()
    return table.read().select("event_id", "user_id", "event_type", "value", "props")


def q_cdc_change_feed(spark, sf_dir):
    """CDC-out: the lake table's change feed (read_changes) after applying
    the op stream — batch-reduced upserts + tombstones per commit (Delta
    CDF / Iceberg changelog analogue, served from the merge-on-read delta
    files at zero extra write cost)."""

    from myzql_binlog_connector_spark.plans.apply import TranscriptsApplier
    from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable

    events = harness.events_cdc_stream(spark, sf_dir)
    env = decode_changes(events)
    table = BucketedLakeTable(
        spark, _scratch("cdc_feed_"), ["event_id"], n_buckets=8
    )
    TranscriptsApplier(
        spark,
        table,
        column_names=["event_id", "user_id", "event_type", "value", "props"],
        key_positions=(0,),
    ).apply_batch(env, batch_id=0)
    feed = table.read_changes()
    # tombstones carry NULL payload; coalesce so the compare never hits
    # nullable-double NaN asymmetries between engines
    return feed.select(
        "event_id", F.coalesce(F.col("value"), F.lit(-1.0)).alias("value"), "_deleted"
    )


def q_cdc_quarantine(spark, sf_dir):
    """Dead-letter quarantine under LWW apply: every 13th WRITE_ROWS event
    of the documents CDC stream is bit-flipped (stale CRC kept), decode
    runs with ``on_error="quarantine"``, and the merged state must contain
    exactly the healthy events' documents — corrupt events quarantine as
    ``_corrupt`` rows instead of failing the job, and the appliers exclude
    them.  The oracle reconstructs the corrupted 80-doc chunks from doc_id
    rank (documents.parquet is doc_id-ascending; the encoder chunks it in
    that order)."""

    from pyspark.sql import functions as SF

    from myzql_binlog_connector_spark.plans.apply import TranscriptsApplier
    from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable
    from myzql_binlog_connector_spark.sources.segments import EVENTS_SCHEMA

    raw = harness.docs_cdc_events(spark, sf_dir, n_segments=2).collect()
    rows, rows_seen = [], 0
    for r in raw:
        blob = bytearray(r.event_blob)
        if blob[5] in (30, 31, 32):  # WRITE_ROWS
            if rows_seen % 13 == 5:
                blob[30] ^= 0xFF  # flip a body byte, keep the stale CRC
            rows_seen += 1
        rows.append((r.file_seq, r.offset, r.gtid, r.event_seq,
                     blob[5], bytes(blob)))
    events = spark.createDataFrame(rows, EVENTS_SCHEMA)
    env = decode_changes(events, verify_crc=True, on_error="quarantine")
    table = BucketedLakeTable(
        spark, _scratch("cdc_q_"), ["doc_id"], n_buckets=8
    )
    TranscriptsApplier(
        spark, table,
        column_names=["doc_id", "text", "lang", "source", "n_chars"],
        key_positions=(0,),
    ).apply_batch(env, batch_id=0)
    return table.read().select("doc_id", "lang", "n_chars")


def q_cdc_bootstrap_handoff(spark, sf_dir):
    """Snapshot bootstrap + CDC handoff (Debezium initial-load analogue):
    a pre-existing table snapshot (half the events keys with a ×10 value
    marker, plus the same keys shifted +10M so they exist ONLY in the
    snapshot) is bulk-merged at order-key zero, then the full CDC op
    stream replays on top.  Snapshot-only keys survive untouched; every
    key the stream touches ends at the stream's LWW state — the marker
    must be gone."""

    from myzql_binlog_connector_spark.plans.apply import TranscriptsApplier
    from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable

    events_tbl = _read(spark, sf_dir, "events")
    half = events_tbl.filter(F.col("event_id") % 2 == 0)
    snap = half.select(
        (F.col("event_id") + F.lit(10_000_000)).alias("event_id"),
        "user_id", "event_type",
        (F.col("value") * 10).alias("value"), "props",
    ).unionByName(
        half.select(
            "event_id", "user_id", "event_type",
            (F.col("value") * 10).alias("value"), "props",
        )
    )
    table = BucketedLakeTable(
        spark, _scratch("cdc_boot_"), ["event_id"], n_buckets=8
    )
    applier = TranscriptsApplier(
        spark, table,
        column_names=["event_id", "user_id", "event_type", "value", "props"],
        key_positions=(0,),
    )
    applier.bootstrap(snap, batch_id=0)
    applier.apply_batch(decode_changes(harness.events_cdc_stream(spark, sf_dir)), batch_id=1)
    return table.read().select("event_id", "event_type", "value")


def q_cdc_multitable_state(spark, sf_dir):
    """Multi-table fan-out: ONE interleaved change stream (three tables'
    statement groups round-robin — the TABLE_MAP cache switches per event)
    decodes once and lands in three per-(db, table) lake tables with their
    own schemas, keys, and watermarks (MultiTableApplier).  Result = the
    union of the three final states, normalized to (src, id, val)."""

    from myzql_binlog_connector_spark.plans.apply import MultiTableApplier

    env = decode_changes(harness.multitable_cdc_events(spark, sf_dir))
    mt = MultiTableApplier(
        spark,
        _scratch("mt_state_"),
        table_specs={
            ("corpus", "docs2"): {
                "column_names": ["doc_id", "text"], "key_positions": (0,), "n_buckets": 4,
            },
            ("app", "activity"): {
                "column_names": ["event_id", "event_type"], "key_positions": (0,), "n_buckets": 4,
            },
            ("crm", "customer"): {
                "column_names": ["c_custkey", "c_name"], "key_positions": (0,), "n_buckets": 4,
            },
        },
    )
    mt.apply_batch(env, batch_id=0)
    d = mt.table_for("corpus", "docs2").read().select(
        F.lit("docs").alias("src"),
        F.col("doc_id").cast("long").alias("id"),
        F.col("text").alias("val"),
    )
    a = mt.table_for("app", "activity").read().select(
        F.lit("activity").alias("src"),
        F.col("event_id").cast("long").alias("id"),
        F.col("event_type").alias("val"),
    )
    c = mt.table_for("crm", "customer").read().select(
        F.lit("crm").alias("src"),
        F.col("c_custkey").cast("long").alias("id"),
        F.col("c_name").alias("val"),
    )
    return d.unionByName(a).unionByName(c)


def q_cdc_time_travel(spark, sf_dir):
    """Snapshot time travel (Iceberg VERSION AS OF analogue): apply the
    events op stream as TWO commits (all INSERTs, then the UPDATE/DELETE
    tail), then read the table AT the first committed version — the past
    snapshot must equal the pure insert image, byte for byte, even though
    the live table has moved on.  Manifests are immutable per version and
    compaction never deletes data files, so any committed version stays
    readable."""

    from myzql_binlog_connector_spark.plans.apply import TranscriptsApplier
    from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable

    events = harness.events_cdc_stream(spark, sf_dir, n_segments=2)
    env = decode_changes(events)
    table = BucketedLakeTable(
        spark, _scratch("cdc_tt_"), ["event_id"], n_buckets=8
    )
    applier = TranscriptsApplier(
        spark,
        table,
        column_names=["event_id", "user_id", "event_type", "value", "props"],
        key_positions=(0,),
    )
    applier.apply_batch(env.filter(F.col("dml_type") == "INSERT"), batch_id=0)
    v1 = table.snapshot_manifest()["version"]
    applier.apply_batch(env.filter(F.col("dml_type") != "INSERT"), batch_id=1)
    return table.read(at_version=v1).select(
        "event_id", "user_id", "event_type", "value", "props"
    )


def q_cdc_partial_update(spark, sf_dir):
    """PARTIAL_UPDATE_ROWS(39): partial-JSON diffs decode to the
    ``{"$partial": [...]}`` envelope form (reference routes type 39 as a
    plain update, event_parser.zig:1156-1171,1537; we decode the
    value_options layout it skips)."""
    events = harness.events_partial_stream(spark, sf_dir)
    env = decode_changes(events)
    upd = env.filter(F.col("dml_type") == "UPDATE").withColumn(
        "_a", F.from_json("after_values", "c0 bigint, c1 string")
    )
    return upd.select(
        F.col("_a.c0").alias("event_id"), F.col("_a.c1").alias("partial")
    )


def q_cdc_table_filter(spark, sf_dir):
    events = harness.docs_cdc_events(spark, sf_dir)
    tf = TableFilter(exclude=["corpus.documents"])
    env = decode_changes(events, table_filter=tf)
    return env.select("dml_type", "after_values")  # expected: empty


# ---------------------------------------------------------------------------
# window / filter / join operators on the pre-decoded stream tables
# ---------------------------------------------------------------------------


def q_lww_dedup_events(spark, sf_dir):
    ev = _read(spark, sf_dir, "events")
    latest = lww_dedup(ev, ["user_id", "event_type"], ["ts", "event_id"])
    return latest.select("user_id", "event_type", "event_id", "value")


def q_lww_dedup_salted_events(spark, sf_dir):
    # same reducer as q_lww_dedup_events: lww_dedup's map-side partial
    # aggregate already bounds a hot key at one row per task, so nothing is
    # salted; the leaf keeps its name so bench results stay comparable
    ev = _read(spark, sf_dir, "events")
    latest = lww_dedup(ev, ["user_id", "event_type"], ["ts", "event_id"])
    return latest.select("user_id", "event_type", "event_id", "value")


def q_event_type_filter(spark, sf_dir):
    ev = _read(spark, sf_dir, "events")
    return ev.filter(F.col("event_type").isin("click", "purchase")).select(
        "event_id", "user_id", "event_type"
    )


def q_position_range_filter(spark, sf_dir):
    ev = _read(spark, sf_dir, "events")
    pred = position_range(
        F.col("user_id").cast("int"), F.col("event_id"),
        from_position=(5, 100), to_position=(12, 500),
    )
    return ev.filter(pred).select("event_id", "user_id")


def q_table_include_exclude(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    tf = TableFilter(include=["src1.*", "*.en"], exclude=["src1.de"])
    return docs.filter(tf.to_column(F.col("source"), F.col("lang"))).select(
        "doc_id", "source", "lang"
    )


def q_asof_join_events(spark, sf_dir):
    ev = _read(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    last_signup = F.last(
        F.when(F.col("event_type") == "signup", F.col("event_id")), ignorenulls=True
    ).over(w)
    # coalesce: engines/pandas render no-prior-signup NULLs differently
    return ev.select(
        "event_id", "user_id", F.coalesce(last_signup, F.lit(-1)).alias("last_signup_event_id")
    )


def q_multi_row_explode(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    toks = T.tokens(T.normalize_text(F.col("text")))
    ex = docs.select("doc_id", F.posexplode(toks).alias("pos0", "token"))
    return ex.select(
        "doc_id", (F.col("pos0") + 1).cast("bigint").alias("event_row_index"), "token"
    )


# ---------------------------------------------------------------------------
# analytics (scan/agg/join plans — Catalyst/broadcast checks)
# ---------------------------------------------------------------------------


def q_pricing_summary(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .select(
            "l_returnflag", "l_linestatus", "sum_qty", "sum_base_price",
            "sum_disc_price", "count_order",
        )
    )


def q_revenue_top_orders(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    rev = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )
    joined = (
        orders.join(rev, orders.o_orderkey == rev.l_orderkey)
        .join(F.broadcast(cust.select("c_custkey", "c_mktsegment")), orders.o_custkey == F.col("c_custkey"))
    )
    return (
        joined.select("o_orderkey", "c_mktsegment", "revenue")
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


def q_broadcast_region_rollup(spark, sf_dir):
    cust = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")
    region = _read(spark, sf_dir, "region")
    dims = F.broadcast(
        nation.join(region, nation.n_regionkey == region.r_regionkey).select(
            "n_nationkey", "r_name"
        )
    )
    return (
        cust.join(dims, cust.c_nationkey == dims.n_nationkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_acctbal"),
        )
        .select("r_name", "n_customers", "avg_acctbal")
    )


# ---------------------------------------------------------------------------
# training-data pipeline: dedup / similarity / text / multimodal
# ---------------------------------------------------------------------------


def q_filtered_revenue(spark, sf_dir):
    """TPC-H Q6-shaped scan+filter+agg (pure pushdown/codegen plan)."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
        .select("revenue")
    )


def q_semi_join_big_orders(spark, sf_dir):
    """EXISTS semi-join: orders having any lineitem above a price bar."""
    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem").filter(F.col("l_extendedprice") > 5000)
    return orders.join(
        li, orders.o_orderkey == li.l_orderkey, "left_semi"
    ).select("o_orderkey", "o_totalprice")


def q_anti_join_quiet_customers(spark, sf_dir):
    """NOT EXISTS anti-join: customers with no urgent orders."""
    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


def q_exact_dedup_docs(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", T.fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_dups"))
        .select("fp", "keep_doc_id", "n_dups")
    )


def q_minhash_signatures(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return fuzzy.minhash_signatures(docs, n_hashes=8, shingle_k=5)


def q_minhash_dup_pairs(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return fuzzy.minhash_dup_pairs(docs, n_hashes=8, shingle_k=5, jaccard_threshold=0.35)


def q_minhash_dup_clusters(spark, sf_dir):
    """Near-dup clusters: connected components (min-label propagation) over
    the verified minhash dup pairs; canonical doc = min id per cluster."""
    from myzql_binlog_connector_spark.operators.dedup import connected_components

    docs = _read(spark, sf_dir, "documents")
    pairs = fuzzy.minhash_dup_pairs(docs, n_hashes=8, shingle_k=5, jaccard_threshold=0.35)
    return connected_components(pairs)


def q_simhash_docs(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return fuzzy.simhash(docs, bits=16)


def q_simhash_dup_pairs(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return fuzzy.simhash_dup_pairs(docs, bits=32, n_bands=4, max_hamming=3)


def q_ngram_jaccard_pairs(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    # fixed blocking: compare doc_id with doc_id+1 (deterministic pair set);
    # the semi-join keeps the plan fully lazy (no driver-side max() collect)
    pairs = docs.select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
    ).join(
        docs.select(F.col("doc_id").alias("id_b")), "id_b", "left_semi"
    )
    return fuzzy.ngram_jaccard(docs, pairs, shingle_k=5, threshold=0.0)


def q_minhash_recall(spark, sf_dir):
    """Pins the LSH pipeline's recall so future candidate-cutting can't
    silently lose near-dups (the round-4 signature-agreement prefilter
    trades recall exactly at the threshold boundary — documented in
    fuzzy.py but unmeasured until now).

    Truth set: exact shingle-Jaccard >= 0.7 over rare-shingle blocking —
    candidate pairs share at least one 5-shingle with document frequency
    in [2, 64].  A J>=0.7 pair shares most of its shingles, so unless a
    document is pure high-df boilerplate some shared shingle is rare;
    validated exhaustive vs unrestricted all-pairs at sf0.001 (28 == 28
    truth pairs).  This blocking is itself the scale path: the inverted
    index join touches only rare postings, never df^2 of ' the '-class
    shingles.  recall = fraction of truth pairs the production
    minhash_dup_pairs pipeline (8 hashes, banding + signature-agreement
    prefilter + exact verify at threshold 0.35) recovers.  One summary
    row; the floor is asserted in tests/test_operators.py."""
    from myzql_binlog_connector_spark.operators.text import shingle_rows

    docs = _read(spark, sf_dir, "documents")
    # distinct (doc, shingle) — the same normalized universe as the
    # oracle's shingled CTE
    shingled = shingle_rows(docs, "text", "doc_id", k=5).distinct()
    rare = (
        shingled.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= 64))
        .select("sh")
    )
    rs = shingled.join(rare, "sh")
    cand = (
        rs.alias("a")
        .join(rs.alias("b"), (F.col("a.sh") == F.col("b.sh"))
              & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    truth = fuzzy.ngram_jaccard(docs, cand, shingle_k=5, threshold=0.7)
    lsh = fuzzy.minhash_dup_pairs(
        docs, n_hashes=8, shingle_k=5, jaccard_threshold=0.35
    ).select("id_a", "id_b").withColumn("_hit", F.lit(1))
    marked = truth.join(lsh, ["id_a", "id_b"], "left")
    return marked.agg(
        F.count(F.lit(1)).alias("n_truth"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("bigint").alias("n_found"),
        F.round(
            F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
            / F.count(F.lit(1)), 4
        ).alias("recall"),
    )


def q_ann_cosine_topk(spark, sf_dir):
    emb = _read(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10)
    return similarity.ann_topk_bruteforce(emb, probes, k=3).select(
        "probe_id", "neighbor_id", "sim", "rank"
    )


def q_ann_ivf_topk(spark, sf_dir):
    emb = _read(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10)
    return similarity.ann_topk_ivf(
        emb, probes, k=3, stride=100, nprobe=3
    ).select("probe_id", "neighbor_id", "sim", "rank")


def q_lsh_buckets(spark, sf_dir):
    emb = _read(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", similarity.lsh_bucket_arrow(F.col("embedding"), dims=64, n_planes=16).alias("bucket")
    )


def q_embedding_near_dup(spark, sf_dir):
    emb = _read(spark, sf_dir, "embeddings")
    return similarity.embedding_near_dup_pairs(
        emb, threshold=0.3, dims=64, n_planes=8
    ).select("id_a", "id_b", "sim")


def q_text_metrics(spark, sf_dir):
    """Language-ID + quality score + token counts in ONE per-doc pass.
    These were three oracle queries (lang_id_docs / quality_scores /
    token_counts) through round 4; merged so the whole registry fits the
    driver's 50-query correctness budget — the operators and their oracles
    are unchanged, just projected side by side (which is also the realistic
    pipeline shape: one scan computing every per-doc metric)."""
    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.lang_id(F.col("text")).alias("lang_pred"),
        T.quality_score(F.col("text")).alias("quality"),
        T.token_count(F.col("text")).cast("bigint").alias("n_tokens"),
        T.bpe_ish_token_count(F.col("text")).cast("bigint").alias("n_subtokens"),
    )


def q_doc_fingerprints(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return docs.select("doc_id", T.fingerprint(F.col("text")).alias("fp"))


def q_winnowing_fingerprints(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return T.winnowing_fingerprints(docs, k=5, window=4)


def q_json_extract_props(spark, sf_dir):
    ev = _read(spark, sf_dir, "events")
    val = F.regexp_extract(F.col("props"), r'"k":\s*(\d+)', 1)
    return ev.select(
        "event_id",
        F.when(val == "", None).otherwise(val).cast("bigint").alias("k_value"),
    )


def q_stateful_progress(spark, sf_dir):
    """Custom stateful streaming operator (T7, applyInPandasWithState) with
    a SQL oracle: conversation_progress runs as a checkpointed availableNow
    stream over the events op stream (1 file per trigger, so state crosses
    micro-batch boundaries); counters are monotone per key, so the final
    state is the per-key max over the update-mode sink.  The op stream is a
    pure function of the events table — the oracle derives the same counts
    directly.  Events fold into 500 conversations (event_id % 500):
    applyInPandasWithState invokes Python once per (key, batch), so key
    cardinality — not row count — is the cost driver; fat keys are both
    the realistic shape and the honest benchmark."""

    from myzql_binlog_connector_spark.sources.segments import stream_segments
    from myzql_binlog_connector_spark.streaming.stateful import conversation_progress

    root = _scratch("stateful_q_")
    seg = os.path.join(root, "seg")
    harness.write_writers_parquet(
        harness.events_stream_writers(sf_dir, n_segments=3), seg
    )
    events = stream_segments(spark, seg, max_files_per_trigger=1)
    env = decode_changes(events, already_partitioned=True)
    eid = F.get_json_object(
        F.coalesce("after_values", "before_values"), "$.c0"
    ).cast("bigint")
    changes = env.select(
        (eid % 500).cast("string").alias("conv_id"),
        "dml_type",
        "gtid",
        "file_seq",
        "log_pos",
    )
    qname = f"conv_progress_{os.path.basename(root)}"
    q = (
        # bounded replay: idle reaping off so the drained query terminates
        conversation_progress(changes, idle_timeout_ms=0)
        .writeStream.format("memory")
        .queryName(qname)
        .outputMode("update")
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.sql(
        f"""
        SELECT CAST(conv_id AS BIGINT) AS conv_mod,
               max(turns_applied) AS turns_applied,
               max(deletes_seen) AS deletes_seen
        FROM {qname} GROUP BY CAST(conv_id AS BIGINT)
        """
    )


def q_windowed_event_counts(spark, sf_dir):
    """Event-time tumbling-window counts over a LATE-ARRIVING stream with a
    watermark — the Structured Streaming windowed-agg surface.

    Arrival order: events staged into time-ordered ~400-row files, but
    every event_id % 17 == 0 row is DEFERRED one file (genuinely late —
    the watermark has advanced past it when it arrives; its window updates
    late).  Deferral lateness is bounded by one file's event-time span,
    which depends on data DENSITY (sf0.001: ~240 h/file; sf0.1: <1 h/file)
    — so the watermark delay is derived from the observed max file span
    (2.5× + the 48 h floor) instead of being hard-coded: no row is ever
    dropped at any SF and the oracle stays a plain GROUP BY.  Counts are
    monotone under update mode, so the final state is the per-(window,
    type) max over the sink."""

    import pyarrow as pa
    import pyarrow.parquet as pq_

    tbl = pq_.read_table(f"{sf_dir}/events.parquet", columns=["event_id", "ts", "event_type"])
    rows = list(
        zip(
            tbl.column("event_id").to_pylist(),
            tbl.column("ts").cast(pa.int64()).to_pylist(),  # µs since epoch, tz-free
            tbl.column("event_type").to_pylist(),
        )
    )
    rows.sort(key=lambda r: r[1])
    chunks: list[list] = []
    defer: list = []
    max_span_us = 0
    for i in range(0, len(rows), 400):
        cur = rows[i : i + 400]
        if cur:
            max_span_us = max(max_span_us, cur[-1][1] - cur[0][1])
        chunks.append(defer + [r for r in cur if r[0] % 17 != 0])
        defer = [r for r in cur if r[0] % 17 == 0]
    if defer:
        chunks.append(defer)
    # deferred rows are late by at most one file's event-time span; a delay
    # comfortably above that keeps them inside the watermark at ANY data
    # density (at sf0.001 a 400-row file spans ~240 h — a fixed 48 h delay
    # would silently drop them and diverge from the GROUP BY oracle)
    delay_hours = max(48, int(2.5 * max_span_us / 3_600_000_000) + 1)

    root = _scratch("wm_counts_")
    src = os.path.join(root, "src")
    os.makedirs(src)
    for k, chunk in enumerate(chunks):
        part = pa.table(
            {
                "event_id": pa.array([r[0] for r in chunk], pa.int64()),
                "ts_us": pa.array([r[1] for r in chunk], pa.int64()),
                "event_type": pa.array([r[2] for r in chunk], pa.string()),
            }
        )
        path = os.path.join(src, f"part-{k:04d}.parquet")
        pq_.write_table(part, path)
        os.utime(path, (1_700_000_000 + k, 1_700_000_000 + k))  # arrival order

    stream = (
        spark.readStream.schema("event_id bigint, ts_us bigint, event_type string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
    )
    agg = (
        stream.withWatermark("ts", f"{delay_hours} hours")
        .groupBy(F.window("ts", "6 hours"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    qname = f"wm_counts_{os.path.basename(root)}"
    q = (
        agg.writeStream.format("memory")
        .queryName(qname)
        .outputMode("update")
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.sql(
        f"""
        SELECT CAST(window.start AS BIGINT) AS window_start, event_type,
               CAST(max(n) AS BIGINT) AS n
        FROM {qname} GROUP BY CAST(window.start AS BIGINT), event_type
        """
    )


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: the corpus minus every document sharing
    a 40-char shingle with the 'benchmark' set (docs with doc_id % 17 == 0
    stand in for an eval suite).  The benchmark docs themselves and any
    boilerplate-overlapping neighbors drop out."""
    from myzql_binlog_connector_spark.operators.text import decontaminate

    docs = _read(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 17 == 0).select("text")
    return decontaminate(docs, bench, k=40).select("doc_id", "n_chars")


def q_dataset_split(spark, sf_dir):
    """Deterministic content-addressed train/val/test split — stable across
    runs/engines/partitionings (Spark randomSplit is neither)."""
    from myzql_binlog_connector_spark.operators.sampling import hash_split

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    return hash_split(docs, id_col="doc_id")


def q_corpus_stats(spark, sf_dir):
    """Per-(lang, source) training-corpus rollup: doc counts, token totals,
    quality extremes.  Aggregates are integer sums / min / max only —
    order-independent, so the value-hash compare is exact across engines
    (a float mean would depend on partial-agg order)."""
    docs = _read(spark, sf_dir, "documents")
    enriched = docs.select(
        "lang",
        "source",
        T.token_count(F.col("text")).cast("bigint").alias("n_tokens"),
        F.round(T.quality_score(F.col("text")), 4).alias("q"),
    )
    return enriched.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.floor(F.sum("n_tokens") / F.count(F.lit(1))).cast("bigint").alias("avg_tokens"),
        F.min("q").alias("min_quality"),
        F.max("q").alias("max_quality"),
    )


def q_dedup_survivors(spark, sf_dir):
    """End-to-end corpus dedup: minhash-LSH pairs → connected components →
    keep the min-id representative per cluster (the full 'dedup the
    training corpus' composition)."""
    from myzql_binlog_connector_spark.operators.dedup import dedup_survivors

    docs = _read(spark, sf_dir, "documents")
    pairs = fuzzy.minhash_dup_pairs(docs, n_hashes=8, shingle_k=5, jaccard_threshold=0.35)
    return dedup_survivors(docs.select("doc_id", "n_chars"), pairs)


def q_multimodal_meta(spark, sf_dir):
    from myzql_binlog_connector_spark.operators.multimodal import decode_media

    docs = _read(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )
    meta = decode_media(media, fake=True)
    return meta.select("media_id", "byte_len", "width", "height", "format")


def q_multimodal_real_decode(spark, sf_dir):
    """REAL codec round-trips, fully distributed, images AND videos in one
    result (merged from the round-4 multimodal_real_decode +
    multimodal_video_meta queries so the registry fits the driver's
    50-query correctness budget).  Workers render a real PNG and a minimal
    valid mp4 container (ftyp + moov/mvhd/tkhd) per document with dims /
    duration derived from doc columns; decode_media(fake=False) parses the
    actual bytes back and the oracle recomputes from the same formulas.
    Exercises operators/codecs.py (PNG encode/parse + ISO 14496-12 box
    walk) end-to-end inside Spark.  Frame DECODE still needs ffmpeg and
    stays stubbed — this is the metadata half."""
    from myzql_binlog_connector_spark.operators.multimodal import decode_media

    docs = _read(spark, sf_dir, "documents").select("doc_id", "n_chars")

    def gen(batches):
        import numpy as np
        import pandas as pd

        from myzql_binlog_connector_spark.operators.codecs import (
            encode_mp4_meta,
            encode_png,
        )

        for pdf in batches:
            ids, kinds, payloads = [], [], []
            for did, nch in zip(pdf["doc_id"], pdf["n_chars"]):
                w = 8 + int(did) % 16
                h = 8 + int(nch) % 16
                arr = np.full((h, w, 3), int(did) % 256, dtype=np.uint8)
                ids.append(did)
                kinds.append("image")
                payloads.append(encode_png(arr))
                vw = 160 + (int(did) % 8) * 16
                vh = 90 + (int(nch) % 8) * 16
                dur = 1000 + (int(did) % 100) * 250
                ids.append(did)
                kinds.append("video")
                payloads.append(encode_mp4_meta(vw, vh, dur))
            yield pd.DataFrame({"media_id": ids, "kind": kinds, "payload": payloads})

    media = docs.mapInPandas(gen, "media_id long, kind string, payload binary")
    meta = decode_media(media, fake=False)
    # duration 0 (not NULL) for stills: a NULL BIGINT round-trips as NaN
    # through the oracle's pandas bridge and breaks the value hash
    return meta.select(
        F.col("media_id").alias("doc_id"),
        "kind",
        "width",
        "height",
        F.coalesce(F.col("duration_ms"), F.lit(0)).cast("long").alias("duration_ms"),
        "format",
    )


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "cdc_decode_roundtrip": q_cdc_decode_roundtrip,
        "cdc_apply_state": q_cdc_apply_state,
        "cdc_schema_evolution": q_cdc_schema_evolution,
        "cdc_time_travel": q_cdc_time_travel,
        "cdc_envelope_counts": q_cdc_envelope_counts,
        "cdc_bounded_replay": q_cdc_bounded_replay,
        "cdc_table_filter": q_cdc_table_filter,
        "cdc_partial_update": q_cdc_partial_update,
        "cdc_streaming_restart": q_cdc_streaming_restart,
        "cdc_change_feed": q_cdc_change_feed,
        "cdc_multitable_state": q_cdc_multitable_state,
        "cdc_bootstrap_handoff": q_cdc_bootstrap_handoff,
        "cdc_quarantine": q_cdc_quarantine,
        "lww_dedup_events": q_lww_dedup_events,
        "lww_dedup_salted_events": q_lww_dedup_salted_events,
        "event_type_filter": q_event_type_filter,
        "position_range_filter": q_position_range_filter,
        "table_include_exclude": q_table_include_exclude,
        "asof_join_events": q_asof_join_events,
        "multi_row_explode": q_multi_row_explode,
        "pricing_summary": q_pricing_summary,
        "revenue_top_orders": q_revenue_top_orders,
        "broadcast_region_rollup": q_broadcast_region_rollup,
        "filtered_revenue": q_filtered_revenue,
        "semi_join_big_orders": q_semi_join_big_orders,
        "anti_join_quiet_customers": q_anti_join_quiet_customers,
        "exact_dedup_docs": q_exact_dedup_docs,
        "minhash_signatures": q_minhash_signatures,
        "minhash_dup_pairs": q_minhash_dup_pairs,
        "minhash_dup_clusters": q_minhash_dup_clusters,
        "simhash_docs": q_simhash_docs,
        "simhash_dup_pairs": q_simhash_dup_pairs,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "minhash_recall": q_minhash_recall,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "lsh_buckets": q_lsh_buckets,
        "embedding_near_dup": q_embedding_near_dup,
        "text_metrics": q_text_metrics,
        "doc_fingerprints": q_doc_fingerprints,
        "winnowing_fingerprints": q_winnowing_fingerprints,
        "json_extract_props": q_json_extract_props,
        "stateful_progress": q_stateful_progress,
        "windowed_event_counts": q_windowed_event_counts,
        "dataset_split": q_dataset_split,
        "decontaminate_docs": q_decontaminate,
        "corpus_stats": q_corpus_stats,
        "dedup_survivors": q_dedup_survivors,
        "multimodal_meta": q_multimodal_meta,
        "multimodal_real_decode": q_multimodal_real_decode,
    }


# ---------------------------------------------------------------------------
# oracles (DuckDB dialect; tables pre-registered as views)
# ---------------------------------------------------------------------------


def oracle_sql() -> dict[str, str]:
    tf = TableFilter(include=["src1.*", "*.en"], exclude=["src1.de"])
    norm = T.normalize_sql("text")
    toks = f"CASE WHEN {norm}='' THEN [] ELSE regexp_split_to_array({norm}, '\\s+') END"
    width = "64 + (CAST(concat('0x', substring(md5(text),1,2)) AS INT) % 64) * 16"
    height = "64 + (CAST(concat('0x', substring(md5(text),3,2)) AS INT) % 64) * 16"
    cos_ab = similarity.cosine_sql("a.embedding", "b.embedding")
    bucket8 = similarity.lsh_bucket_sql("embedding", 64, 8)
    shingle_cte = fuzzy.shingle_cte_sql("documents", "text", "doc_id", 5)
    tok_count = ("CASE WHEN trim(text)='' THEN 0 "
                 "ELSE len(regexp_split_to_array(trim(text), '\\s+')) END")
    # minhash pairs pipeline (banding → signature-agreement prefilter →
    # exact Jaccard verify), shared by the pairs, clusters, and
    # dedup-survivors oracles — mirrors fuzzy.minhash_dup_pairs exactly
    dup_pairs_cte = f"""{shingle_cte},
            sigs AS (
              SELECT doc_id, {fuzzy.minhash_sig_select_sql(8)}
              FROM shingled GROUP BY doc_id
            ),
            bands AS (
              SELECT doc_id, band, mh FROM sigs,
              LATERAL (VALUES {', '.join(
                  f"({b}, concat(CAST(mh_{2*b} AS VARCHAR), '_', CAST(mh_{2*b+1} AS VARCHAR)))"
                  for b in range(4)
              )}) AS v(band, mh)
            ),
            cand AS (
              SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
              FROM bands l JOIN bands r
                ON l.band = r.band AND l.mh = r.mh AND l.doc_id < r.doc_id
            ),
            candf AS (
              SELECT c.id_a, c.id_b
              FROM cand c
              JOIN sigs sa ON sa.doc_id = c.id_a
              JOIN sigs sb ON sb.doc_id = c.id_b
              WHERE {fuzzy.sig_agreement_sql(8)} >= {fuzzy.min_sig_agree(8, 0.35)}
            ),
            sets AS (
              SELECT doc_id, list(DISTINCT sh) AS shset FROM shingled GROUP BY doc_id
            ),
            dup_pairs AS (
              SELECT c.id_a, c.id_b,
                     round(CAST(len(list_intersect(a.shset, b.shset)) AS DOUBLE)
                           / len(list_distinct(list_concat(a.shset, b.shset))), 4) AS jaccard
              FROM candf c JOIN sets a ON a.doc_id = c.id_a JOIN sets b ON b.doc_id = c.id_b
              WHERE round(CAST(len(list_intersect(a.shset, b.shset)) AS DOUBLE)
                          / len(list_distinct(list_concat(a.shset, b.shset))), 4) >= 0.35
            )"""
    clusters_cte = f"""{dup_pairs_cte},
            edges AS (
              SELECT id_a AS a, id_b AS b FROM dup_pairs
              UNION
              SELECT id_b, id_a FROM dup_pairs
            ),
            walk(node, lab) AS (
              SELECT a, a FROM edges
              UNION
              SELECT e.b, w.lab FROM walk w JOIN edges e ON e.a = w.node
            )"""

    return {
        "cdc_decode_roundtrip": "SELECT doc_id, text, lang, source, n_chars FROM documents",
        "cdc_apply_state": """
            SELECT event_id, user_id, event_type,
                   CASE WHEN event_id % 3 = 0 THEN value * 2 ELSE value END AS value,
                   props
            FROM events WHERE event_type <> 'click'
        """,
        "cdc_envelope_counts": """
            SELECT 'corpus' AS database, 'documents' AS table_name,
                   'INSERT' AS dml_type, CAST(count(*) AS BIGINT) AS n
            FROM documents
        """,
        "cdc_time_travel": "SELECT event_id, user_id, event_type, value, props FROM events",
        "cdc_schema_evolution": """
            SELECT doc_id,
                   CASE WHEN doc_id % 4 = 0 THEN 'v2: ' || text ELSE text END AS text,
                   lang, source, n_chars,
                   CASE WHEN doc_id % 4 = 0 THEN n_chars // 2 ELSE -1 END AS quality
            FROM documents
        """,
        "cdc_bounded_replay": """
            SELECT doc_id, text FROM documents
            WHERE doc_id < (SELECT CAST(ceil(count(*) / 2.0) AS BIGINT) FROM documents)
        """,
        "cdc_table_filter": "SELECT CAST(NULL AS VARCHAR) AS dml_type, CAST(NULL AS VARCHAR) AS after_values WHERE FALSE",
        "cdc_streaming_restart": """
            SELECT event_id, user_id, event_type,
                   CASE WHEN event_id % 3 = 0 THEN value * 2 ELSE value END AS value,
                   props
            FROM events WHERE event_type <> 'click'
        """,
        "cdc_change_feed": """
            SELECT event_id,
                   CASE WHEN event_type = 'click' THEN -1.0
                        WHEN event_id % 3 = 0 THEN value * 2
                        ELSE value END AS value,
                   (event_type = 'click') AS _deleted
            FROM events
        """,
        "cdc_quarantine": """
            WITH ranked AS (
              SELECT doc_id, lang, n_chars,
                     row_number() OVER (ORDER BY doc_id) - 1 AS rk
              FROM documents
            ),
            params AS (
              SELECT CAST(ceil(count(*) / 2.0) AS BIGINT) AS per,
                     CAST(ceil(ceil(count(*) / 2.0) / 80.0) AS BIGINT) AS cps
              FROM documents
            )
            SELECT doc_id, lang, n_chars
            FROM ranked, params
            WHERE ((rk // per) * cps + (rk % per) // 80) % 13 <> 5
        """,
        "cdc_bootstrap_handoff": """
            SELECT CAST(event_id + 10000000 AS BIGINT) AS event_id,
                   event_type, value * 10 AS value
            FROM events WHERE event_id % 2 = 0
            UNION ALL
            SELECT event_id, event_type,
                   CASE WHEN event_id % 3 = 0 THEN value * 2 ELSE value END AS value
            FROM events WHERE event_type <> 'click'
        """,
        "cdc_multitable_state": """
            SELECT 'docs' AS src, CAST(doc_id AS BIGINT) AS id,
                   CASE WHEN doc_id % 5 = 0 THEN 'v2: ' || text ELSE text END AS val
            FROM documents
            UNION ALL
            SELECT 'activity', CAST(event_id AS BIGINT), event_type
            FROM events WHERE event_type <> 'click'
            UNION ALL
            SELECT 'crm', CAST(c_custkey AS BIGINT),
                   CASE WHEN c_custkey % 3 = 0 THEN c_name || ' *' ELSE c_name END
            FROM customer
        """,
        "cdc_partial_update": """
            SELECT event_id,
                   '{"$partial":[{"op":"replace","path":"$.v","value":'
                   || CAST(user_id * 2 AS VARCHAR) || '}'
                   || CASE WHEN event_id % 3 = 0 THEN ',{"op":"remove","path":"$.t"}' ELSE '' END
                   || CASE WHEN event_id % 4 = 0 THEN ',{"op":"insert","path":"$.x","value":"p"}' ELSE '' END
                   || ']}' AS partial
            FROM events WHERE event_id % 5 = 0
        """,
        "lww_dedup_events": """
            SELECT user_id, event_type, event_id, value FROM (
              SELECT *, row_number() OVER (
                PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC
              ) AS rn FROM events
            ) WHERE rn = 1
        """,
        "lww_dedup_salted_events": """
            SELECT user_id, event_type, event_id, value FROM (
              SELECT *, row_number() OVER (
                PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC
              ) AS rn FROM events
            ) WHERE rn = 1
        """,
        "event_type_filter": """
            SELECT event_id, user_id, event_type FROM events
            WHERE event_type IN ('click', 'purchase')
        """,
        "position_range_filter": (
            "SELECT event_id, user_id FROM events WHERE "
            + position_range_sql("CAST(user_id AS INT)", "event_id", (5, 100), (12, 500))
        ),
        "table_include_exclude": (
            "SELECT doc_id, source, lang FROM documents WHERE "
            + tf.to_sql_case("source", "lang")
        ),
        "asof_join_events": """
            SELECT event_id, user_id,
                   coalesce(last_value(CASE WHEN event_type = 'signup' THEN event_id END IGNORE NULLS)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -1)
                   AS last_signup_event_id
            FROM events
        """,
        "multi_row_explode": f"""
            SELECT doc_id,
                   CAST(generate_subscripts(t, 1) AS BIGINT) AS event_row_index,
                   unnest(t) AS token
            FROM (SELECT doc_id, {toks} AS t FROM documents WHERE doc_id < 50)
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   CAST(count(*) AS BIGINT) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "revenue_top_orders": """
            SELECT o_orderkey, c_mktsegment, revenue FROM (
              SELECT o.o_orderkey, c.c_mktsegment,
                     round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
              FROM orders o
              JOIN lineitem l ON l.l_orderkey = o.o_orderkey
              JOIN customer c ON c.c_custkey = o.o_custkey
              GROUP BY o.o_orderkey, c.c_mktsegment
            ) ORDER BY revenue DESC, o_orderkey ASC LIMIT 10
        """,
        "broadcast_region_rollup": """
            SELECT r.r_name, CAST(count(*) AS BIGINT) AS n_customers,
                   round(avg(c.c_acctbal), 4) AS avg_acctbal
            FROM customer c
            JOIN nation n ON n.n_nationkey = c.c_nationkey
            JOIN region r ON r.r_regionkey = n.n_regionkey
            GROUP BY r.r_name
        """,
        "filtered_revenue": """
            SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
              AND l_discount BETWEEN 0.03 AND 0.07
              AND l_quantity < 24
        """,
        "semi_join_big_orders": """
            SELECT o_orderkey, o_totalprice FROM orders o
            WHERE EXISTS (
              SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_extendedprice > 5000
            )
        """,
        "anti_join_quiet_customers": """
            SELECT c_custkey, c_name FROM customer c
            WHERE NOT EXISTS (
              SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
            )
        """,
        "exact_dedup_docs": f"""
            SELECT {T.fingerprint_sql('text')} AS fp,
                   CAST(min(doc_id) AS BIGINT) AS keep_doc_id,
                   CAST(count(*) AS BIGINT) AS n_dups
            FROM documents GROUP BY 1
        """,
        "minhash_signatures": fuzzy.minhash_signature_sql("documents", "text", "doc_id", 8, 5),
        "minhash_dup_pairs": f"""
            WITH {dup_pairs_cte}
            SELECT id_a, id_b, jaccard FROM dup_pairs
        """,
        "minhash_dup_clusters": f"""
            WITH RECURSIVE {clusters_cte}
            SELECT node AS doc_id, min(lab) AS cluster_id FROM walk GROUP BY node
        """,
        "simhash_docs": fuzzy.simhash_sql("documents", "text", "doc_id", 16),
        "simhash_dup_pairs": fuzzy.simhash_dup_pairs_sql(
            "documents", "text", "doc_id", bits=32, n_bands=4, max_hamming=3
        ),
        "ngram_jaccard_pairs": f"""
            WITH {shingle_cte},
            sets AS (SELECT doc_id, list(DISTINCT sh) AS shset FROM shingled GROUP BY doc_id),
            pairs AS (
              SELECT doc_id AS id_a, doc_id + 1 AS id_b FROM documents
              WHERE doc_id + 1 <= (SELECT max(doc_id) FROM documents)
            )
            SELECT p.id_a, p.id_b,
                   round(CAST(len(list_intersect(a.shset, b.shset)) AS DOUBLE)
                         / len(list_distinct(list_concat(a.shset, b.shset))), 4) AS jaccard
            FROM pairs p JOIN sets a ON a.doc_id = p.id_a JOIN sets b ON b.doc_id = p.id_b
        """,
        "minhash_recall": f"""
            WITH {dup_pairs_cte},
            rare AS (
              SELECT sh FROM shingled GROUP BY sh HAVING count(*) BETWEEN 2 AND 64
            ),
            rs AS (SELECT s.doc_id, s.sh FROM shingled s JOIN rare r ON r.sh = s.sh),
            cand_t AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM rs a JOIN rs b ON a.sh = b.sh AND a.doc_id < b.doc_id
            ),
            truth AS (
              SELECT c.id_a, c.id_b
              FROM cand_t c
              JOIN sets a ON a.doc_id = c.id_a JOIN sets b ON b.doc_id = c.id_b
              WHERE round(CAST(len(list_intersect(a.shset, b.shset)) AS DOUBLE)
                          / len(list_distinct(list_concat(a.shset, b.shset))), 4) >= 0.7
            )
            SELECT CAST(count(*) AS BIGINT) AS n_truth,
                   CAST(coalesce(sum(CASE WHEN d.id_a IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_found,
                   round(CAST(coalesce(sum(CASE WHEN d.id_a IS NOT NULL THEN 1 ELSE 0 END), 0) AS DOUBLE)
                         / count(*), 4) AS recall
            FROM truth t
            LEFT JOIN dup_pairs d ON d.id_a = t.id_a AND d.id_b = t.id_b
        """,
        "ann_cosine_topk": f"""
            SELECT probe_id, neighbor_id, sim, rank FROM (
              SELECT b.vec_id AS probe_id, a.vec_id AS neighbor_id,
                     round({cos_ab}, 4) AS sim,
                     CAST(row_number() OVER (
                       PARTITION BY b.vec_id
                       ORDER BY round({cos_ab}, 4) DESC, a.vec_id ASC
                     ) AS INT) AS rank
              FROM embeddings a JOIN embeddings b
                ON b.vec_id < 10 AND a.vec_id <> b.vec_id
            ) WHERE rank <= 3
        """,
        "ann_ivf_topk": similarity.ann_topk_ivf_sql(
            "embeddings", k=3, stride=100, nprobe=3, probe_pred="vec_id < 10"
        ),
        "lsh_buckets": f"""
            SELECT vec_id, CAST({similarity.lsh_bucket_sql('embedding', 64, 16)} AS BIGINT) AS bucket
            FROM embeddings
        """,
        "embedding_near_dup": f"""
            WITH b AS (
              SELECT vec_id, embedding, {bucket8} AS bucket FROM embeddings
            )
            SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
                   round({cos_ab}, 4) AS sim
            FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
            WHERE round({cos_ab}, 4) >= 0.3
        """,
        "text_metrics": f"""
            SELECT doc_id,
                   {T.lang_id_sql('text')} AS lang_pred,
                   {T.quality_score_sql('text')} AS quality,
                   CAST(CASE WHEN trim(text)='' THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,
                   CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT) AS n_subtokens
            FROM documents
        """,
        "doc_fingerprints": f"SELECT doc_id, {T.fingerprint_sql('text')} AS fp FROM documents",
        "winnowing_fingerprints": T.winnowing_sql("documents", "text", "doc_id", 5, 4),
        "json_extract_props": r"""
            SELECT event_id,
                   TRY_CAST(NULLIF(regexp_extract(props, '"k":\s*(\d+)', 1), '') AS BIGINT) AS k_value
            FROM events
        """,
        "multimodal_real_decode": """
            SELECT doc_id, 'image' AS kind,
                   CAST(8 + doc_id %% 16 AS INT) AS width,
                   CAST(8 + n_chars %% 16 AS INT) AS height,
                   CAST(0 AS BIGINT) AS duration_ms,
                   'png' AS format
            FROM documents
            UNION ALL
            SELECT doc_id, 'video' AS kind,
                   CAST(160 + doc_id %% 8 * 16 AS INT) AS width,
                   CAST(90 + n_chars %% 8 * 16 AS INT) AS height,
                   CAST(1000 + doc_id %% 100 * 250 AS BIGINT) AS duration_ms,
                   'mp4' AS format
            FROM documents
        """.replace('%%', '%'),
        "multimodal_meta": f"""
            SELECT doc_id AS media_id,
                   CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
                   CAST({width} AS INT) AS width,
                   CAST({height} AS INT) AS height,
                   'png' AS format
            FROM documents
        """,
        "stateful_progress": """
            SELECT event_id %% 500 AS conv_mod,
                   CAST(count(*) + sum(CASE WHEN event_id %% 3 = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS turns_applied,
                   CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                        AS BIGINT) AS deletes_seen
            FROM events GROUP BY event_id %% 500
        """.replace('%%', '%'),
        "windowed_event_counts": """
            SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 21600) * 21600 AS window_start,
                   event_type,
                   CAST(count(*) AS BIGINT) AS n
            FROM events
            GROUP BY (CAST(floor(epoch(ts)) AS BIGINT) // 21600) * 21600, event_type
        """,
        "dataset_split": f"""
            SELECT doc_id, {sampling.split_sql('doc_id')} AS split FROM documents
        """,
        "decontaminate_docs": f"""
            WITH {fuzzy.shingle_cte_sql("documents", "text", "doc_id", 40)},
            hashed AS (
              SELECT doc_id,
                     CAST(concat('0x', substring(md5(concat('0', ':', sh)), 1, 15)) AS BIGINT) AS h
              FROM shingled
            ),
            bench_sh AS (
              SELECT DISTINCT h FROM hashed WHERE doc_id % 17 = 0
            ),
            hits AS (
              SELECT DISTINCT s.doc_id FROM hashed s
              JOIN bench_sh b ON s.h = b.h
            )
            SELECT d.doc_id, d.n_chars FROM documents d
            WHERE d.doc_id NOT IN (SELECT doc_id FROM hits)
        """,
        "corpus_stats": f"""
            SELECT lang, source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum({tok_count}) AS BIGINT) AS total_tokens,
                   CAST(floor(CAST(sum({tok_count}) AS DOUBLE) / count(*)) AS BIGINT) AS avg_tokens,
                   min(round({T.quality_score_sql('text')}, 4)) AS min_quality,
                   max(round({T.quality_score_sql('text')}, 4)) AS max_quality
            FROM documents GROUP BY lang, source
        """,
        "dedup_survivors": f"""
            WITH RECURSIVE {clusters_cte},
            clusters AS (
              SELECT node AS doc_id, min(lab) AS cluster_id FROM walk GROUP BY node
            )
            SELECT d.doc_id, d.n_chars FROM documents d
            WHERE NOT EXISTS (
              SELECT 1 FROM clusters c
              WHERE c.doc_id = d.doc_id AND c.cluster_id <> d.doc_id
            )
        """,
    }
