"""Structured Streaming CDC job: tail a change-log directory, MERGE each
micro-batch into a LakeTable.

One streaming job replaces both of the reference's modes
(stream worker + periodic batch uploader — duality per SURVEY.md §1.4):
``trigger(availableNow=True)`` replays a backlog as a sequence of
micro-batches and stops; a processing-time trigger tails continuously.

Exactly-once = three cooperating layers:
1. Spark's checkpoint (offset + commit log) makes micro-batch composition
   deterministic across restarts,
2. ``foreachBatch`` is at-least-once, so merge_batch records
   ``job_id/batch_id`` in the table's commit manifest inside the atomic
   snapshot commit — a replayed batch is skipped,
3. every transform upstream of the sink is deterministic (ids come from
   the log or md5 — never uuid() — per SURVEY.md §7.4).

Resume-from-checkpoint therefore needs no operator support: kill the job at
any point, restart with the same checkpoint dir + job_id, and the final
table state is identical (tested in tests/test_streaming.py).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from jitsu_spark.lake.maintenance import maintain
from jitsu_spark.lake.merge import MergeResult, merge_batch
from jitsu_spark.lake.table import LakeTable


@dataclass
class CdcStreamJob:
    """Config + driver for one change-log -> lake-table stream.

    The source is either a directory tail (``source_dir`` — the original
    file mode) or any :class:`~jitsu_spark.sources.stream_sources.
    StreamSource` (``source=`` — rate/Kafka-style offset sources); both
    ride the same checkpoint + commit-manifest exactly-once machinery."""

    table: LakeTable
    source_dir: str | None = None
    checkpoint_dir: str = ""
    job_id: str = "cdc"
    source_format: str = "parquet"  # or "json" (NDJSON lines)
    source_schema: T.StructType | None = None
    max_files_per_trigger: int | None = None
    source: "StreamSource | None" = None  # takes precedence over source_dir
    transform: Callable[[DataFrame], DataFrame] | None = None  # pre-merge stage
    # user event-function stage (reference design-docs/transformations.md):
    # fn(event dict) -> None | dict | list[dict]; runs BEFORE `transform`.
    # Raising events go to dead_letter_dir/batch_id=N (overwrite per batch,
    # so a replayed micro-batch rewrites the identical dead letters —
    # idempotent) instead of crashing the stream.
    event_fn: Callable | None = None
    event_fn_schema: T.StructType | None = None
    dead_letter_dir: str | None = None
    # in-stream maintenance (None = off): after every applied batch,
    # lake.maintenance.maintain folds the buckets above this file count
    # (MoR deltas back to base / CoW small files together) and a grown
    # manifest. At the 10^10-event tail this bounds the read
    # amplification of write.mode=mor by layout, not by a batch count.
    compact_max_files_per_bucket: int | None = None
    # with maintenance on, also expire version DESCRIPTORS older than
    # this many (None = off, the safe default: changes()/time-travel
    # consumers below the horizon break — opt in once downstream syncs
    # are chained via post_commit, which runs first; maintain clamps it
    # to >= 4).
    expire_snapshots_keep: int | None = None
    # post-commit hook, called after every APPLIED (non-skipped) merge and
    # BEFORE maintenance — the seam for chaining downstream incremental
    # consumers (lake.mirror.sync_mirror / sync_aggregate over
    # table.changes()); running pre-compaction preserves the
    # consume-before-compact contract of changes()
    post_commit: Callable[[int], None] | None = None
    results: list[MergeResult] = field(default_factory=list)
    # batch_id -> dead-lettered row count, populated when event_fn is set
    # but NO dead_letter_dir is configured: the rows are dropped (there is
    # nowhere durable to put them) but never silently — the count is
    # recorded here and surfaced via metrics(). With a dead_letter_dir the
    # rows themselves are persisted instead.
    dead_letters: dict[int, int] = field(default_factory=dict)

    def _reader(self, spark: SparkSession):
        from jitsu_spark.sources.stream_sources import FileSource

        src = self.source
        if src is None:
            if self.source_dir is None:
                raise ValueError("need source= or source_dir=")
            src = FileSource(
                self.source_dir,
                source_format=self.source_format,
                schema=self.source_schema,
                max_files_per_trigger=self.max_files_per_trigger,
            )
        return src.read_stream(spark)

    def _apply(self, batch_df: DataFrame, batch_id: int) -> None:
        combined = None
        if self.event_fn is not None:
            from jitsu_spark.operators.transform import (
                split_dead_letter,
                transform_events,
            )

            # persist: the good-rows merge and the dead-letter write both
            # scan the transform output — without it the user fn runs twice
            combined = transform_events(
                batch_df, self.event_fn, self.event_fn_schema
            ).persist()
            batch_df, dead = split_dead_letter(combined)
            if self.dead_letter_dir is not None:
                # one subdir per batch_id, overwritten on redelivery: a
                # replayed micro-batch rewrites the identical dead letters
                dead.write.mode("overwrite").parquet(
                    os.path.join(self.dead_letter_dir, f"batch_id={batch_id}")
                )
            else:
                # no durable DLQ configured: the rows are discarded, but
                # count them (cheap — `combined` is persisted) so the loss
                # is observable in metrics() rather than silent
                n_dead = dead.count()
                if n_dead:
                    self.dead_letters[batch_id] = n_dead
        try:
            if self.transform is not None:
                batch_df = self.transform(batch_df)
            res = merge_batch(
                self.table, batch_df, batch_id=batch_id, job_id=self.job_id
            )
        finally:
            if combined is not None:
                combined.unpersist()
        self.results.append(res)
        if res.skipped:
            return
        if self.post_commit is not None:
            self.post_commit(batch_id)
        if self.compact_max_files_per_bucket is not None:
            maintain(
                self.table,
                self.compact_max_files_per_bucket,
                self.expire_snapshots_keep,
            )

    def _start(self, spark: SparkSession, **trigger):
        os.makedirs(self.checkpoint_dir, exist_ok=True)
        return (
            self._reader(spark)
            .writeStream.foreachBatch(self._apply)
            .option("checkpointLocation", self.checkpoint_dir)
            .queryName(self.job_id)
            .trigger(**trigger)
            .start()
        )

    def run_available_now(self, spark: SparkSession, timeout_s: int = 600) -> list[MergeResult]:
        """Replay the current backlog to completion and stop (the batch
        mode of SURVEY.md §1.4); resumable via the checkpoint."""
        q = self._start(spark, availableNow=True)
        try:
            q.awaitTermination(timeout_s)
        finally:
            if q.isActive:
                q.stop()
        if q.exception() is not None:
            raise q.exception()
        return self.results

    def start_continuous(self, spark: SparkSession, processing_time: str = "5 seconds"):
        """Tail the log continuously (stream mode). Caller manages the query."""
        return self._start(spark, processingTime=processing_time)

    # -- observability -------------------------------------------------------

    def metrics(self) -> dict:
        """Throughput/lag metrics across processed batches (A3/ST5 analog:
        counters + per-partition lineage live in the table's snapshot)."""
        done = [r for r in self.results if not r.skipped]
        total_keys = sum(r.n_keys for r in done)
        total_wall = sum(r.wall_s for r in done)
        return {
            "batches": len(self.results),
            "batches_skipped_already_committed": len(self.results) - len(done),
            "dead_letter_rows_dropped": sum(self.dead_letters.values()),
            "upserted_keys": total_keys,
            "deleted_keys": sum(r.n_deletes for r in done),
            "wall_s": round(total_wall, 3),
            "keys_per_sec": round(total_keys / total_wall, 1) if total_wall else None,
            "seq_range": [
                min((r.seq_min for r in done if r.seq_min is not None), default=None),
                max((r.seq_max for r in done if r.seq_max is not None), default=None),
            ],
        }
