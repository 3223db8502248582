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
