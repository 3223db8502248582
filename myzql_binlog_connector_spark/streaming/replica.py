"""Feed-driven table replication: CDC-out ('lake_changes' source) wired
back into CDC-in (``BucketedLakeTable.merge``) as one call.

The Delta-CDF replication pattern — bootstrap from a pinned snapshot, then
follow the change feed exactly-once — packaged so "replicate table A to B"
is::

    from myzql_binlog_connector_spark.streaming.replica import replicate
    q = replicate(spark, source_path=src.path, target=dst,
                  checkpoint=ckpt_dir)
    q.processAllAvailable()   # or leave running for a live replica

Correctness story (each leg is pinned by tests):

- **Bootstrap** uses ``snapshot_with_version`` — snapshot and feed start
  version come from ONE manifest read, so a commit racing the bootstrap
  can neither be skipped nor double-applied.  The snapshot is merged with
  its meta columns (``_gtid``/``_event_seq``/.../``_deleted``) so replica
  LWW ordering matches the primary's.
- **Follow** is ``foreachBatch`` over the feed: each micro-batch holds
  whole source commits (offsets are manifest versions), merged into the
  target with the same order columns.  A crash between sink-write and
  checkpoint-commit replays the micro-batch; the merge is an LWW upsert,
  so re-merging identical rows is semantically a no-op (bounded write
  amplification, never wrong data — the same idempotence contract the
  primary applier relies on under T6).
- **Retention**: a replica resuming past the source's vacuum floor fails
  loud (``RetentionOverrunError`` surfaces through the query) — re-run
  ``replicate`` with ``bootstrap=True`` against a fresh target, the same
  re-bootstrap recovery the consumer-chain test drives by hand.

Scale shape: identical to the primary ingest path — the feed ships
batch-reduced delta rows, the merge is O(batch) per micro-batch, and the
replica's bucket layout need not match the source's (keys re-hash on
merge), so a replica can run wider or narrower than its primary.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..plans.lake import BucketedLakeTable
from .feed import COMMIT_VERSION_COL, LakeChangesDataSource


def bootstrap(source: BucketedLakeTable, target: BucketedLakeTable) -> int:
    """Seed ``target`` with a pinned snapshot of ``source``; returns the
    snapshot version (follow the feed from version + 1)."""
    snap, version = source.snapshot_with_version(include_meta=True)
    target.merge(snap.drop("_bucket"), batch_id=f"bootstrap-v{version}")
    return version


def replicate(
    spark: SparkSession,
    source_path: str,
    target: BucketedLakeTable,
    checkpoint: str,
    bootstrap_from: BucketedLakeTable | None = None,
    max_versions_per_batch: int | None = None,
):
    """Start (or resume) a streaming replica of the table at
    ``source_path`` into ``target``; returns the StreamingQuery.

    ``bootstrap_from``: pass the SOURCE table handle on first run to seed
    the target from a pinned snapshot; on checkpoint resume leave it None
    (the checkpoint already holds the feed position, and re-seeding would
    just re-upsert rows LWW already resolved).

    **Schema evolution**: the feed pins the source schema when the query
    starts.  If the primary ADDs a column while the replica is following,
    the query STOPS with ``FeedSchemaChangedError`` rather than silently
    dropping the new column's values (the divergence would otherwise be
    permanent and invisible).  Recovery is one call: re-run ``replicate``
    with the same ``checkpoint`` and ``bootstrap_from=None`` — the
    restarted query re-resolves the evolved schema from the head manifest
    and resumes from the checkpointed feed position, so no change data is
    lost and rows already merged re-merge idempotently (LWW)."""
    start_after = 0
    if bootstrap_from is not None:
        start_after = bootstrap(bootstrap_from, target)

    spark.dataSource.register(LakeChangesDataSource)
    reader = (
        spark.readStream.format("lake_changes")
        .option("path", source_path)
        .option("startingVersion", start_after + 1)
    )
    if max_versions_per_batch:
        reader = reader.option("maxVersionsPerBatch", max_versions_per_batch)

    def apply_batch(batch_df, epoch_id: int):
        if batch_df.isEmpty():
            return
        target.merge(
            batch_df.drop(COMMIT_VERSION_COL), batch_id=f"feed-epoch-{epoch_id}"
        )

    return (
        reader.load()
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .start()
    )
