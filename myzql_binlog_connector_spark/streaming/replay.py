"""Resumable Structured-Streaming binlog replay (SURVEY.md §2.6).

``readStream(segment store) → foreachBatch(applier.apply_events)`` with:

  * **checkpointing** — Spark's file-source checkpoint makes the stream
    resumable (T5); a restart replays at most the in-flight micro-batch;
  * **exactly-once** — the lake table's per-file_seq watermarks, which
    ``BucketedLakeTable.merge`` gates on and advances in the manifest it
    commits atomically with the data, turn that replayed micro-batch into
    a no-op (T6): end-to-end idempotent apply;
  * **bounded replay** — ``Trigger.AvailableNow`` drains everything present
    and stops (T1, the ``to_binlog_file`` analogue), while the default
    processing-time trigger tails forever;
  * **one decode per commit** — ``apply_events`` is ``apply_files``' typed
    apply over the micro-batch, so a table gets one ``_event_row_index``
    numbering whichever route fed it;
  * **lineage/metrics** — every commit's record (rows, buckets touched,
    bytes, wall time, watermarks) lands in the manifest; the driver also
    keeps the per-batch records in ``self.batch_records`` (A2).

The reference's hand-built 3-thread pipeline with bounded MPSC queues
(pipeline.zig:181-229) maps to micro-batches + ``maxFilesPerTrigger``
backpressure; graceful shutdown (T4) is ``query.stop()``.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..plans.apply import TranscriptsApplier
from ..sources.segments import stream_segments


class BinlogReplayStream:
    def __init__(
        self,
        spark: SparkSession,
        segments_path: str,
        applier: TranscriptsApplier,
        checkpoint_dir: str,
        table_filter=None,
        from_position: tuple[int, int] | None = None,
        stop_position: tuple[int, int] | None = None,
        max_files_per_trigger: int | None = 1,
        compact_every: int | None = None,
        on_error: str = "raise",
    ):
        self.spark = spark
        self.segments_path = segments_path
        self.applier = applier
        self.checkpoint_dir = checkpoint_dir
        self.table_filter = table_filter
        self.from_position = from_position
        self.stop_position = stop_position
        self.max_files_per_trigger = max_files_per_trigger
        self.compact_every = compact_every
        # "quarantine": undecodable packets become dead letters (sunk
        # under the table's _quarantine/ dir, excluded from the merge)
        # instead of killing the stream — a continuous tail should not
        # die to one bit-rotted event
        self.on_error = on_error
        self.batch_records: list[dict] = []
        self._applied_since_compact = 0

    def _process_batch(self, batch_df, batch_id: int):
        record = self.applier.apply_events(
            batch_df,
            batch_id=batch_id,
            table_filter=self.table_filter,
            stop_position=self.stop_position,
            from_position=self.from_position,
            on_error=self.on_error,
        )
        self.batch_records.append(record)
        # periodic maintenance: bin-pack small files and GC tombstones below
        # the low watermark (min applied gtid across source files — nothing
        # older can ever be redelivered with a higher gtid)
        if (
            self.compact_every
            and hasattr(self.applier, "table")  # multi-table appliers manage their own maintenance
            and not record.get("skipped")
        ):
            self._applied_since_compact += 1
            if self._applied_since_compact >= self.compact_every:
                self._applied_since_compact = 0
                wms = self.applier.table.watermarks()
                low = min((v["gtid"] for v in wms.values()), default=None)
                self.applier.table.compact(
                    drop_tombstones_below=(low,) if low is not None else None
                )

    def start(self, available_now: bool = True):
        """Start the stream; with ``available_now`` it drains the current
        store contents and terminates (bounded replay), else it tails."""
        stream = stream_segments(
            self.spark, self.segments_path, self.max_files_per_trigger
        )
        writer = (
            stream.writeStream.foreachBatch(self._process_batch)
            .option("checkpointLocation", self.checkpoint_dir)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def run_to_completion(self, timeout_sec: float | None = None) -> list[dict]:
        q = self.start(available_now=True)
        q.awaitTermination(timeout_sec)
        return self.batch_records
