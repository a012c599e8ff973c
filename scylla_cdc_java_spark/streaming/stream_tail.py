"""Structured Streaming tail — the same CDC consumption pipeline driven
by ``spark.readStream`` instead of the batch window planner.

The reference's tail loop (scylla-cdc-lib worker/Worker.java:90-133)
polls for new log rows and feeds them to the consumer; its watermark and
backoff exist because CQL has no file-arrival notification. Spark's file
stream source IS that notification: each new parquet file appended to
the log directory becomes (part of) a microbatch, and ``foreachBatch``
runs the identical fold -> merge apply used by the batch engine. This is
the ``readStream -> transform -> writeStream`` form SURVEY.md section
2.5 maps the T1-T5 operators onto:

- T1 late-writes watermark  -> the file source only sees *closed* files
  (a writer appends a bucket file atomically), so the watermark is
  implicit; an explicit ``withWatermark`` is unnecessary because the
  apply is monotone LWW (late rows converge, never corrupt).
- T2/T3 window cap/chaining -> ``maxFilesPerTrigger`` bounds batch
  size; Structured Streaming's own checkpoint chains offsets.
- T5 poll backoff           -> trigger interval.
- T8 retry/redelivery       -> a crashed batch is replayed from the
  stream checkpoint; the merge sink is idempotent (cell-level LWW),
  exactly the reference's at-least-once + LWW argument
  (Worker.java:105-114).

Ordering note: ops 1-4 commute under LWW, so batch boundaries are
irrelevant for them. Range-delete pairing (ops 5-8) is order-sensitive
*per stream*: within a batch rows are sorted by (stream, cdc$ts) before
pairing, and BOTH kinds of unmatched bounds are carried in the sink
manifest — unclosed starts (the reference's RangeTombstoneState,
Main.java:491-531) and, beyond the reference, orphan ends, because the
file source may deliver a later file before an earlier one. A start/end
pair split across out-of-order batches is re-united when its other half
arrives; only multiple *interleaved* splits of the same stream would
mis-pair, which requires reordering beyond one file boundary and does
not occur with time-ordered producers.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from ..model import DEFAULT_TABLE, EngineConfig, TableConfig
from ..operators.fold import normalize_log
from .engine import apply_slice, make_sink


class StructuredTail:
    """``StructuredTail(spark, log_dir, target).run_available_now()`` —
    drain the current log backlog through Structured Streaming and stop;
    ``start(processing_time=...)`` keeps tailing new files."""

    def __init__(
        self,
        spark: SparkSession,
        log_dir: str,
        target_path: str,
        table: TableConfig = DEFAULT_TABLE,
        cfg: EngineConfig | None = None,
        stream_checkpoint_dir: str | None = None,
        max_files_per_trigger: int | None = None,
    ):
        self.spark = spark
        self.log_dir = log_dir
        self.table = table
        self.cfg = cfg or EngineConfig()
        self.stream_checkpoint_dir = stream_checkpoint_dir or (
            target_path.rstrip("/") + "_stream_ckpt"
        )
        self.max_files_per_trigger = max_files_per_trigger
        self.sink = make_sink(spark, target_path, table, self.cfg)
        self.batches_applied = 0
        #: op-0 mismatches found so far (mode="preimage" only) — the
        #: streaming twin of ReplayStats.preimage_mismatches
        self.preimage_mismatches = 0

    # ------------------------------------------------------------------
    def _source(self):
        schema = self.spark.read.parquet(self.log_dir).schema
        reader = (
            self.spark.readStream.schema(schema)
            # partition-dir discovery (generation=… etc. are partition cols)
            .option("basePath", self.log_dir)
        )
        if self.max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", self.max_files_per_trigger)
        return reader.parquet(
            os.path.join(self.log_dir, "generation=*", "stream_group=*",
                         "time_bucket=*")
        )

    def _apply_batch(self, batch_df, batch_id: int) -> None:
        ckpt = self.sink.checkpoint() or {}
        # Redelivery guard: foreachBatch is at-least-once — if the sink
        # manifest committed batch_id but the stream offset log did not
        # (crash in between), the restarted query re-delivers the batch.
        # LWW cells are idempotent but the pending-range pairing state is
        # NOT (starts consumed by the first apply are gone; re-folding
        # would strand the replayed ENDs as orphans that could mis-pair
        # later) — so an already-committed batch is a strict no-op.
        if batch_id <= ckpt.get("last_stream_batch_id", -1):
            return
        # pending starts AND orphan ends ride the tombstone sidecar
        # write (kind 2/3); merge() fills both checkpoint keys itself —
        # two fewer Spark collect jobs per microbatch
        new_ckpt = {
            "batches": ckpt.get("batches", 0) + 1,
            "last_stream_batch_id": batch_id,
        }
        _, mismatches = apply_slice(self.sink, self.table, self.cfg.mode,
                                    normalize_log(batch_df), ckpt, new_ckpt)
        self.preimage_mismatches += mismatches
        self.batches_applied += 1

    # ------------------------------------------------------------------
    def run_available_now(self) -> int:
        """Process the whole current backlog (Trigger.AvailableNow) and
        return the number of batches applied."""
        q = (
            self._source()
            .writeStream.foreachBatch(self._apply_batch)
            .option("checkpointLocation", self.stream_checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return self.batches_applied

    def start(self, processing_time: str = "10 seconds"):
        """Continuous tail; returns the StreamingQuery (caller stops it).
        The trigger interval is the T5 poll-backoff analog."""
        return (
            self._source()
            .writeStream.foreachBatch(self._apply_batch)
            .option("checkpointLocation", self.stream_checkpoint_dir)
            .trigger(processingTime=processing_time)
            .start()
        )
