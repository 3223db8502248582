"""Plan-shape guards: no query may plan an unbounded CartesianProduct —
every similarity/dedup join must stay banded/bucketed/broadcast.  (The IVF
centroid assignment intentionally uses BroadcastNestedLoopJoin with a
K-row build side — that is the algorithm, not an accident — so BNLJ is
allowed only there.)"""

from __future__ import annotations

import re

import pytest

SF = "/root/testdata/sf0.001"

# queries whose plans we pin (the expensive/join-heavy ones)
GUARDED = [
    "minhash_dup_pairs",
    "minhash_dup_clusters",
    "simhash_dup_pairs",
    "ngram_jaccard_pairs",
    "embedding_near_dup",
    "lsh_buckets",
    "ann_cosine_topk",
    "asof_join_events",
    "broadcast_region_rollup",
    "semi_join_big_orders",
    "anti_join_quiet_customers",
    "decontaminate_docs",
    "dedup_survivors",
]

BNLJ_ALLOWED = {"ann_ivf_topk", "ann_cosine_topk"}  # broadcast probe/centroid crosses


@pytest.mark.parametrize("name", GUARDED + ["ann_ivf_topk"])
def test_no_cartesian_product(spark, name):
    import __spark_entry__ as entry

    df = entry.queries()[name](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, name
    if name not in BNLJ_ALLOWED:
        assert "BroadcastNestedLoopJoin" not in plan, name


# similarity hot paths must stay whole-stage-codegen: Spark higher-order
# functions (aggregate/zip_with/transform lambdas) run interpreted, ~50×
# slower per element — banned from these plans.
HOF_GUARDED = ["ann_cosine_topk", "ann_ivf_topk", "lsh_buckets", "embedding_near_dup"]


@pytest.mark.parametrize("name", HOF_GUARDED)
def test_no_interpreted_hof(spark, name):
    import __spark_entry__ as entry

    df = entry.queries()[name](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "lambdafunction" not in plan.lower(), name


def test_aligned_merge_subset_bucket_cols_one_shuffle(spark):
    """The aligned-write plan's load-bearing assumption with bucket_cols:
    repartitioning on a SUBSET of the grouping keys must still satisfy the
    LWW aggregate's ClusteredDistribution (equal full key ⇒ equal subset ⇒
    same partition), so the merge keeps exactly ONE exchange.  If a Spark
    upgrade ever stops recognizing subset satisfaction, this pins it.
    Built with the shipped reducer and order, as merge() builds it."""
    from pyspark.sql import functions as F

    from myzql_binlog_connector_spark.operators.dedup import lww_dedup
    from myzql_binlog_connector_spark.plans.lake import ORDER_COLS

    df = spark.createDataFrame(
        [("a", 0, "x", False, 1, 1, 1)],
        "conv_id string, turn_idx bigint, text string, _deleted boolean, "
        "_gtid bigint, _event_seq bigint, _event_row_index bigint",
    )
    plan = lww_dedup(
        df.repartition(8, F.col("conv_id")), ["conv_id", "turn_idx"], ORDER_COLS
    )
    s = plan._jdf.queryExecution().executedPlan().toString()
    assert s.count("Exchange") == 1, s


def test_lww_dedup_salted_events_has_no_window(spark):
    """The salted LWW leaf runs the plain max_by reducer: no ranking-window
    sort in its executed plan, and the same plan as the plain leaf."""
    import __spark_entry__ as entry

    def plan(name):
        df = entry.queries()[name](spark, SF)
        s = df._jdf.queryExecution().executedPlan().toString()
        return re.sub(r"#\d+L?|plan_id=\d+", "", s)  # expression ids differ

    salted = plan("lww_dedup_salted_events")
    assert "Window" not in salted, salted
    assert salted == plan("lww_dedup_events")


def _segment_store(tmp_path):
    from myzql_binlog_connector_spark.genlog import generate_stream, write_segments_parquet

    stream = generate_stream(seed=11, n_convs=20, n_segments=2)
    return write_segments_parquet(stream, str(tmp_path / "seg"))


def test_stream_commit_decodes_once(spark, tmp_path):
    """A stream commit's typed frame plans one decode over one scan of
    the micro-batch's segment (the stream hands foreachBatch an RDD scan,
    a segment-store read is a FileScan): no envelope, no second decode
    for the key-change tombstones."""
    from myzql_binlog_connector_spark.plans.apply import TranscriptsApplier
    from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable
    from myzql_binlog_connector_spark.sources.segments import read_segments
    from myzql_binlog_connector_spark.streaming.replay import BinlogReplayStream

    paths = _segment_store(tmp_path)
    plans = []

    def applier(name):
        table = BucketedLakeTable(spark, str(tmp_path / name), ["conv_id", "turn_idx"], n_buckets=4)
        merge = table.merge

        def capture(typed, batch_id, **kw):
            plans.append(typed._jdf.queryExecution().executedPlan().toString())
            return merge(typed, batch_id, **kw)

        table.merge = capture
        return TranscriptsApplier(spark, table)

    BinlogReplayStream(
        spark, str(tmp_path / "seg"), applier("t"), str(tmp_path / "ckpt")
    ).run_to_completion(timeout_sec=300)
    applier("t2").apply_events(read_segments(spark, paths[0]), batch_id=0)
    assert len(plans) == 3  # one per stream commit (2 segments), one file read
    for plan in plans:
        assert plan.count("MapInArrow") == 1, plan
        assert len(re.findall(r"Scan ExistingRDD|FileScan", plan)) == 1, plan
        assert "from_json" not in plan, plan
    assert "FileScan parquet" in plans[-1], plans[-1]


def test_envelope_typed_changes_reads_input_once(spark, tmp_path):
    """The envelope route emits key-change tombstones in the same pass as
    the rows: one decode node, no Union of two decode subtrees."""
    from myzql_binlog_connector_spark.functions.decode import decode_changes, scan_schemas
    from myzql_binlog_connector_spark.plans.apply import TranscriptsApplier
    from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable
    from myzql_binlog_connector_spark.sources.segments import read_segments

    _segment_store(tmp_path)
    events = read_segments(spark, str(tmp_path / "seg"))
    descs = [r["payload_schema"] for r in scan_schemas(events).collect()]
    table = BucketedLakeTable(spark, str(tmp_path / "t"), ["conv_id", "turn_idx"], n_buckets=4)
    typed = TranscriptsApplier(spark, table).typed_changes(decode_changes(events), descs)
    plan = typed._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1, plan
    assert "Union" not in plan, plan


def _multifile_table(spark, tmp_path):
    """A 2-bucket table whose buckets hold two small files each."""
    from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable

    t = BucketedLakeTable(spark, str(tmp_path / "t"), ["conv_id", "turn_idx"], n_buckets=2)
    for g in (1, 2):
        t.merge(
            spark.createDataFrame(
                [(f"c{i}", 0, f"v{g}", False, g, g, i) for i in range(100)],
                "conv_id string, turn_idx bigint, text string, _deleted boolean, "
                "_gtid bigint, _event_seq bigint, _event_row_index bigint",
            ),
            batch_id=g,
        )
    assert all(len(fl) == 2 for fl in t.snapshot_manifest()["files"].values())
    return t


def _keys(n):
    return [{"conv_id": f"c{i}", "turn_idx": 0} for i in range(n)]


def test_small_keyed_multifile_read_plans_no_exchange(spark, tmp_path):
    """A keyed read of at most KEY_PREDICATE_MAX tuples over multi-file
    buckets totalling no more than spark.sql.files.maxPartitionBytes runs
    the LWW aggregate in one task: no Exchange, so the lookup is one job."""
    t = _multifile_table(spark, tmp_path)
    df = t.read(keys=_keys(t.KEY_PREDICATE_MAX))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Coalesce 1" in plan, plan
    assert {r.text for r in df.collect()} == {"v2"}


def test_big_keyed_or_large_multifile_read_keeps_its_plan(spark, tmp_path):
    """More than KEY_PREDICATE_MAX tuples, or multi-file buckets bigger
    than spark.sql.files.maxPartitionBytes, keep the shuffled LWW
    aggregate."""
    t = _multifile_table(spark, tmp_path)
    big = t.read(keys=_keys(t.KEY_PREDICATE_MAX + 1))
    plans = [big._jdf.queryExecution().executedPlan().toString()]
    conf = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "1k")
    try:
        plans.append(t.read(keys=_keys(3))._jdf.queryExecution().executedPlan().toString())
    finally:
        spark.conf.set(conf, old)
    for plan in plans:
        assert "Exchange hashpartitioning(conv_id" in plan and "Coalesce" not in plan, plan
    assert len(big.collect()) == 65


def test_keyed_read_builds_in_few_py4j_round_trips(spark, tmp_path):
    """Building a 3-key read(keys=...) over 2-file buckets, without
    collecting it, sends at most 120 py4j commands: its literals,
    predicate, bucket-id probe and LWW aggregate are SQL text, one
    command each, not a Column chain of one command per column, literal
    and operator (several hundred)."""
    import gc

    from py4j import protocol

    t = _multifile_table(spark, tmp_path)
    t.read(keys=_keys(3))  # warm-up
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    release = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME
    sent = []

    def counting(command, *args, **kwargs):
        if not command.startswith(release):
            sent.append(command)
        return send(command, *args, **kwargs)

    gc.disable()
    client.send_command = counting
    try:
        df = t.read(keys=_keys(3))
    finally:
        client.send_command = send
        gc.enable()
    assert len(sent) <= 120, len(sent)
    assert {r.conv_id for r in df.collect()} == {"c0", "c1", "c2"}


def test_steady_state_commit_runs_two_fewer_jobs(spark, tmp_path):
    """An ``apply_events`` commit whose descriptors the applier already
    knows skips the TABLE_MAP pre-pass: on a 16-bucket table it runs
    exactly the 2 jobs of that scan fewer than the same commit by a fresh
    applier, which must scan, and the two tables end equal."""
    from myzql_binlog_connector_spark.genlog import generate_stream, write_segments_parquet
    from myzql_binlog_connector_spark.plans.apply import TranscriptsApplier
    from myzql_binlog_connector_spark.plans.lake import BucketedLakeTable
    from myzql_binlog_connector_spark.sources.segments import read_segments

    stream = generate_stream(seed=11, n_convs=40, n_segments=3)
    paths = write_segments_parquet(stream, str(tmp_path / "seg"))
    sc = spark.sparkContext

    def commit(name, hinted):
        table = BucketedLakeTable(spark, str(tmp_path / name), ["conv_id", "turn_idx"], n_buckets=16)
        app = TranscriptsApplier(spark, table)
        app.apply_files(paths[:2], batch_id=0)
        if not hinted:
            app = TranscriptsApplier(spark, table)
        events = read_segments(spark, paths[2])
        group = f"steady-state-{name}"
        sc.setJobGroup(group, group)
        try:
            rec = app.apply_events(events, batch_id=1)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker reads listener events
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        return rec, jobs, {tuple(r) for r in table.read().collect()}

    hinted, n_hinted, state = commit("hinted", True)
    scanned, n_scanned, want = commit("scanned", False)
    assert (hinted["descriptor_scan"], scanned["descriptor_scan"]) == (False, True)
    assert n_scanned - n_hinted == 2, (n_hinted, n_scanned)
    assert state == want
