"""Last-writer-wins dedup (SURVEY.md §2.4 A4) and its skew bound (§2.6 T8).

The north-rule dedup: within each key keep the change with the highest
``(gtid, event_seq, event_row_index)``.  :func:`lww_dedup` is the
package's one LWW reducer — a ``max_by`` hash aggregate; the lake's
merge, fold, compaction, rebucket and merge-on-read paths and the
Iceberg applier all call it.  Hot keys need no salting: the aggregate's
map-side partial bounds any one task's state at one row per key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

DEFAULT_ORDER = ("gtid", "event_seq", "event_row_index")


def quote_ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def lww_dedup(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str] = list(DEFAULT_ORDER),
) -> DataFrame:
    """Keep exactly the last writer per key: a ``max_by`` hash aggregate.

    Round 8: replaced the ranking-window form — a window must shuffle and
    SORT every input row inside each key partition, while the aggregate
    pre-reduces map-side to one candidate row per (key, partition) before
    the exchange, so the shuffle carries ~|keys| rows instead of |input|
    and nothing is ever sorted (guide: aggregate before you shuffle).
    Identical output whenever the order-column tuple is unique per key
    (the CDC contract — (gtid, event_seq, event_row_index) is a total
    order); exact ties were winner-arbitrary under the window sort too.
    Hot keys also stop mattering: partial aggregation bounds any one
    task's state at one row per key, where the window packed a viral
    key's every row into one task.

    The aggregate is one SQL expression, ``max_by(struct(<cols>),
    struct(<order>)) AS _row``: it parses in one py4j call, where
    building it from ``Column`` objects pays one per column (a keyed
    lake read plans this on every lookup)."""

    def struct(cols) -> str:
        return f"struct({', '.join(map(quote_ident, cols))})"

    return (
        df.groupBy(*key_cols)
        .agg(F.expr(f"max_by({struct(df.columns)}, {struct(order_cols)}) AS _row"))
        .select("_row.*")
    )


def exact_dedup(df: DataFrame, cols: list[str] | None = None, keep_col: str | None = None) -> DataFrame:
    """Exact duplicate removal over ``cols`` (training-data pipeline op).

    With ``keep_col`` set, keeps the row with the minimum value of that
    column per duplicate group (deterministic winner); otherwise a plain
    ``dropDuplicates`` (hash aggregate, map-side partial)."""
    if keep_col is None:
        return df.dropDuplicates(cols)
    w = Window.partitionBy(*(cols or df.columns)).orderBy(F.asc(keep_col))
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 25,
) -> DataFrame:
    """Near-dup clusters: connected components over an undirected pair
    graph, labels = min doc id per component.  Returns (doc_id,
    cluster_id) for every doc appearing in ``pairs``; the canonical
    document of a cluster is the one with doc_id == cluster_id.

    Min-label propagation: each round joins labels across edges and takes
    the per-node min — converges in O(component diameter) rounds.  Dup
    components in practice are shallow (near-duplicates of one another),
    so the round count stays small even at 10^9 docs; every round is one
    equi-join + one map-side-combinable min aggregate, checkpointed to cut
    lineage.  Convergence is detected distributively (sum of labels is
    monotonically non-increasing and integral — equal sums ⇒ fixpoint)."""
    spark = pairs.sparkSession
    edges = (
        pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .union(pairs.select(F.col(id_b).alias("a"), F.col(id_a).alias("b")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .persist()
    )
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    for _ in range(max_iters):
        prop = edges.join(labels, edges["a"] == labels["node"]).select(
            F.col("b").alias("node"), F.col("label")
        )
        new_labels = (
            labels.unionByName(prop)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
        )
        new_sum = new_labels.agg(F.sum("label")).collect()[0][0]
        labels.unpersist()
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    edges.unpersist()
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def dedup_survivors(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Corpus after near-dup removal: one representative per connected
    near-duplicate cluster (the minimum id), all singleton docs untouched.

    Composes :func:`connected_components` over the verified dup pairs and
    anti-joins the non-canonical members (cluster_id != doc_id) out of the
    corpus — the standard 'dedup the training corpus' end step.  No
    broadcast hint: on a dirty web crawl the drop set is commonly 30-50%
    of ALL docs — corpus-scale, and a forced broadcast would bypass
    Spark's size-based planning and OOM the driver/executors.  AQE picks
    broadcast when the drop set is actually small and a shuffled anti-join
    when it isn't; either way the result is identical."""
    cc = connected_components(pairs, id_a=id_a, id_b=id_b)
    drop = cc.filter(F.col("cluster_id") != F.col("doc_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")
