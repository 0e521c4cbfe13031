"""Streaming observability (A3 counters + ST5 lineage read path).

- ``CdcQueryListener``: a StreamingQueryListener capturing per-micro-batch
  progress (rows/sec, batch duration, watermark) off the hot path — the
  analog of the reference's async counters (events_cache/counters are
  fire-and-forget there; listener callbacks are off-thread here).
- ``lineage_frame``: the table's commit lineage (batch id, source seq
  range -> snapshot version, buckets touched, wall time) as a DataFrame —
  the per-partition "source offset -> commit snapshot" trace required by
  the north star, queryable with plain SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQueryListener

from jitsu_spark.lake.table import LakeTable


class CdcQueryListener(StreamingQueryListener):
    """Collects micro-batch progress events; read ``snapshots`` after (or
    during) a run. Register with ``spark.streams.addListener(listener)``."""

    def __init__(self) -> None:
        self.snapshots: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        self.snapshots.append(
            {
                "query": p.name,
                "batch_id": p.batchId,
                "rows_per_sec": p.processedRowsPerSecond,
                "input_rows": p.numInputRows,
                "duration_ms": dict(p.durationMs or {}),
                "timestamp": p.timestamp,
            }
        )

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def throughput_summary(self) -> dict:
        rows = [s for s in self.snapshots if s["input_rows"]]
        if not rows:
            return {"batches": 0}
        return {
            "batches": len(rows),
            "total_rows": sum(s["input_rows"] for s in rows),
            "mean_rows_per_sec": round(
                sum(s["rows_per_sec"] or 0 for s in rows) / len(rows), 1
            ),
        }


def lineage_frame(spark: SparkSession, table: LakeTable) -> DataFrame:
    """Commit lineage as a DataFrame: one row per merge/append/compact/
    overwrite commit with seq range, bucket list, and counts."""
    rows = []
    for i, entry in enumerate(table.snapshot().lineage):
        rows.append(
            {
                "commit_index": i,
                "kind": entry.get("kind"),
                "job_id": entry.get("job_id"),
                "batch_id": str(entry.get("batch_id")),
                "seq_min": entry.get("seq_min"),
                "seq_max": entry.get("seq_max"),
                # merge lineage records the pre-LWW row count as n_keys
                "n_keys": entry.get("n_keys"),
                "n_deletes": entry.get("n_deletes"),
                "n_buckets_touched": len(entry.get("buckets", []) or []),
                "schema_changed": bool(
                    entry.get("schema_added") or entry.get("schema_widened")
                ),
                "wall_s": entry.get("wall_s"),
                "ts_ms": entry.get("ts_ms"),
            }
        )
    schema = (
        "commit_index long, kind string, job_id string, batch_id string, "
        "seq_min long, seq_max long, n_keys long, n_deletes long, "
        "n_buckets_touched long, schema_changed boolean, wall_s double, "
        "ts_ms long"
    )
    return spark.createDataFrame(rows, schema)


def statistics_frame(
    spark: SparkSession,
    table: LakeTable,
    dead_letter_dir: str | None = None,
    granularity: str = "day",
) -> DataFrame:
    """Counter/statistics read API (A5 + the reference's per-destination
    per-day/hour success counters, meta/redis.go:630-720 /
    handlers/statistics.go analog — re-derived): re-aggregate the
    engine's own commit counters into one queryable frame of
    ``(period, job_id, status, n)``.

    - ``success`` / ``delete`` come from merge lineage (FULL history —
      archived entries included), bucketed by the commit wall-clock stamp
      at ``day`` or ``hour`` granularity;
    - ``error`` counts dead-letter rows at rest when a DLQ dir is given
      (periodless — the DLQ parquet is the durable artifact; live
      per-batch error counts ride CdcStreamJob.metrics()).

    Counter folding happens driver-side over lineage entries (bounded by
    compact_manifest's keep_lineage + archive — thousands, not 10^10) and
    lands in a DataFrame so downstream re-aggregation is plain SQL."""
    import datetime as dt

    from jitsu_spark.lake.maintenance import full_history

    if granularity not in ("day", "hour"):
        raise ValueError("granularity must be 'day' or 'hour'")
    fmt = "%Y-%m-%d" if granularity == "day" else "%Y-%m-%d %H:00"
    folded: dict[tuple, int] = {}
    for e in full_history(table):
        if e.get("kind") != "merge":
            continue
        ts_ms = e.get("ts_ms")
        period = (
            dt.datetime.fromtimestamp(
                ts_ms / 1000, dt.timezone.utc
            ).strftime(fmt)
            if ts_ms is not None
            else None
        )
        job = e.get("job_id")
        nk = e.get("n_keys") or 0
        nd = e.get("n_deletes") or 0
        folded[(period, job, "success")] = (
            folded.get((period, job, "success"), 0) + nk - nd
        )
        if nd:
            folded[(period, job, "delete")] = (
                folded.get((period, job, "delete"), 0) + nd
            )
    rows = [
        {"period": p, "job_id": j, "status": s, "n": n}
        for (p, j, s), n in sorted(folded.items(), key=lambda kv: str(kv[0]))
    ]
    if dead_letter_dir is not None:
        import os

        if os.path.isdir(dead_letter_dir):
            n_err = spark.read.parquet(dead_letter_dir).count()
            if n_err:
                rows.append(
                    {"period": None, "job_id": None, "status": "error",
                     "n": n_err}
                )
    return spark.createDataFrame(
        rows, "period string, job_id string, status string, n long"
    )
