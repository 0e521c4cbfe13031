"""CDC MERGE kernel: apply a micro-batch of i/u/d envelopes to a LakeTable.

The batch is a DataFrame with envelope columns ``seq`` (global offset,
last-writer-wins tiebreaker) and ``op`` ('i'/'u'/'d'), plus the full-row
payload image including the merge key. Equivalent SQL (what this would be
on Iceberg):

    MERGE INTO target t USING dedup_updates s ON t.<key> = s.<key>
    WHEN MATCHED AND s.op = 'd' THEN DELETE
    WHEN MATCHED THEN UPDATE SET *
    WHEN NOT MATCHED AND s.op != 'd' THEN INSERT *

Physical plan, chosen for 10^10-event scale:

1. **LWW reduce via aggregation, not a window.**
   ``groupBy(key).agg(max_by(struct(payload, op), seq))`` — a two-phase
   aggregate with MAP-SIDE partial combine (``partial_max_by`` runs before
   the exchange; Spark picks SortAggregate for struct-valued max_by, which
   keeps the same partial phase). A hot key (20 % of a batch on one
   doc_id) collapses to ONE row per map task before the shuffle, so key
   skew self-defuses: the shuffle carries at most n_map_tasks rows for the
   hottest key. A ``row_number() OVER (PARTITION BY key)`` window would
   instead shuffle every duplicate to one reducer — that is the skew trap
   this design avoids (plan-asserted in tests/test_plans.py). (Generic
   salted aggregation for non-reducible aggs lives in
   operators/salting.py.)
2. **Bucket pruning.** Affected buckets = distinct
   ``pmod(xxhash64(key), n_buckets)`` over the reduced updates (collected
   driver-side — bounded by n_buckets rows). Only those buckets' files are
   read.
3. **CoW rewrite with regime-adaptive anti-join.** survivors =
   existing-bucket-scan LEFT ANTI JOIN update-keys; result = survivors
   UNION ALL new-images. In the steady CDC regime (batch keys <<= table,
   n_keys <= BROADCAST_KEY_THRESHOLD) the update keys are BROADCAST, so
   the big existing side never shuffles and never leaves its scan
   partitioning — zero-shuffle join. For bulk-load-sized batches
   (n_keys above the threshold) broadcasting ~1M keys per batch becomes
   driver-serial Amdahl cost and a shuffle anti-join is ~2x faster and
   scales with cores (measured at local[32]); the kernel switches
   automatically on the per-batch key count it already collected. The
   result then takes one shuffle by bucket id into
   ``min(affected buckets, defaultParallelism)`` tasks and lands as
   EXACTLY ONE file per affected bucket per commit
   (``LakeTable._by_bucket``; the MoR delta write follows the same rule).
4. **Exactly-once.** ``job_id/batch_id`` is recorded inside the same
   atomic snapshot commit that publishes the data files
   (``metadata.next_snapshot`` + ``commit_snapshot``); replays of an
   already-committed batch (foreachBatch is at-least-once) are skipped.
5. **Schema evolution in-commit.** The batch's payload schema is diffed
   against the table's logical schema (typesys/evolution.py); adds/widens
   land in the same snapshot, and the incoming frame is cast once.

Correctness invariants (tested in tests/test_merge.py):
- later seq wins within a batch and across batches (monotone replay);
- a delete tombstones the key; a replayed older insert cannot resurrect it
  within a batch (LWW) or across batches (the delete batch committed);
- duplicate delivery of the same seq is idempotent;
- merge keys never change type (frozen in evolution).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jitsu_spark.lake import metadata as md
from jitsu_spark.lake.metadata import is_committed
from jitsu_spark.lake.table import (
    BUCKET_COL,
    MOR_OP_COL,
    WRITE_MODE_PROP,
    LakeTable,
)
from jitsu_spark.typesys.align import alignment_columns

OP_INSERT, OP_UPDATE, OP_DELETE = "i", "u", "d"
# Batches of at most this many events broadcast their keys to the CoW
# anti-join; larger (bulk-load) batches shuffle both sides instead.
BROADCAST_KEY_THRESHOLD = 200_000


@dataclass
class MergeResult:
    version: int
    skipped: bool = False
    n_keys: int = 0
    n_deletes: int = 0
    affected_buckets: list[int] = field(default_factory=list)
    seq_min: int | None = None
    seq_max: int | None = None
    schema_changed: bool = False
    wall_s: float = 0.0


def merge_batch(
    table: LakeTable,
    batch_df: DataFrame,
    batch_id: int | str | None = None,
    job_id: str = "stream",
    seq_col: str = "seq",
    op_col: str = "op",
) -> MergeResult:
    """Apply one micro-batch. Retries the whole merge on commit conflicts
    (optimistic concurrency, ``metadata.retry_commit``); single-writer
    deployments never retry."""
    return md.retry_commit(
        lambda: _merge_once(table, batch_df, batch_id, job_id, seq_col, op_col)
    )


def _merge_once(
    table: LakeTable,
    batch_df: DataFrame,
    batch_id,
    job_id: str,
    seq_col: str,
    op_col: str,
) -> MergeResult:
    t0 = time.time()
    snap = table.snapshot()
    key = snap.key_field
    if batch_id is not None and is_committed(snap, job_id, batch_id):
        return MergeResult(version=snap.version, skipped=True)

    payload_fields = [
        f for f in batch_df.schema.fields if f.name not in (seq_col, op_col)
    ]
    if key not in [f.name for f in payload_fields]:
        raise ValueError(f"batch is missing merge key column {key!r}")
    payload_schema = T.StructType(payload_fields)
    others = [f.name for f in payload_fields if f.name != key]

    mode = snap.properties.get(WRITE_MODE_PROP, "cow")

    # 1. Batch stats. CoW needs them BEFORE the write (affected buckets
    # drive the pruned existing-bucket read and the join-strategy choice),
    # so it pays a cheap pre-pass: keys/seq/op columns only (tokens pruned
    # at the scan), partial combine collapses to <= n_buckets rows. MoR
    # needs nothing ahead of the write — affected buckets fall out of the
    # written files and the batch metrics ride the write job itself as
    # observed metrics — so the steady-state (MoR) path runs ONE Spark
    # action per batch, not two (~20% of per-batch wall measured at 500k
    # events). That action is 3 Spark jobs under AQE, one per query
    # stage (pinned in tests/test_plans.py).
    if mode != "mor":
        stats = (
            batch_df.groupBy(
                table.bucket_expr(F.col(key), snap=snap).alias(BUCKET_COL)
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum((F.col(op_col) == OP_DELETE).cast("long")).alias("nd"),
                F.min(seq_col).alias("smin"),
                F.max(seq_col).alias("smax"),
            )
            .collect()
        )
        # n_keys counts raw batch rows (pre-LWW upper bound on distinct
        # keys; used for lineage and the join-strategy choice); n_deletes
        # counts delete envelopes, not LWW-winning deletes.
        n_keys = sum(r["n"] for r in stats)
        n_deletes = sum(r["nd"] for r in stats)
        affected = sorted(int(r[BUCKET_COL]) for r in stats)
        seq_min = min((r["smin"] for r in stats), default=None)
        seq_max = max((r["smax"] for r in stats), default=None)
        observation = None
    else:
        from pyspark.sql import Observation

        # ONE Spark action per batch, truly: no empty-probe action. The
        # observe node rides the write; emptiness is derived POST-write
        # (an empty frame under partitionBy produces zero files), and
        # observation.get is only consulted when files were written —
        # never on an emptied plan, so AQE's empty-relation pruning
        # (which silently eats CollectMetrics on emptied branches)
        # cannot poison the metrics read. The observed plan is a straight
        # scan->aggregate->write with the write as its only action, so
        # partial-metrics publication cannot occur either.
        observation = Observation()
        batch_df = batch_df.observe(
            observation,
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum((F.col(op_col) == OP_DELETE).cast("long")),
                F.lit(0),
            ).alias("nd"),
            F.min(seq_col).alias("smin"),
            F.max(seq_col).alias("smax"),
        )
        n_keys = n_deletes = 0
        seq_min = seq_max = None
        affected = []

    # 2. LWW reduce (partial-combine aggregate — see module docstring).
    # Deliberately NOT persisted: its two consumers (anti-join keys and
    # new-row images) share the same shuffle exchange, which Spark reuses
    # (ReusedExchange) — cheaper than caching the full payload.
    winner = F.max_by(
        F.struct(*[F.col(c) for c in others], F.col(op_col).alias("_op")),
        F.col(seq_col),
    ).alias("_w")
    upd = (
        batch_df.groupBy(key)
        .agg(winner)
        .select(key, "_w.*")
    )

    # 3. Schema evolution plan (driver-side, schemas only).
    plan, schema_json = md.evolve_schema(snap, payload_schema)
    target = plan.target

    new_files: dict[str, list[str]] = {}
    if mode == "mor":
        # 4-MoR. Append-only delta write: the LWW'd batch (tombstones
        # included, op persisted) lands as one delta file per affected
        # bucket — O(batch) work regardless of table size; readers
        # reconcile by commit sequence (LakeTable.read). The write-vs-read
        # amplification trade is bounded by compaction (compact()).
        # Sized by n_buckets, not len(affected): untouched buckets write
        # no files, so no pre-pass is needed (LakeTable._by_bucket).
        delta = upd.select(
            *alignment_columns(upd, target),
            F.col("_op").alias(MOR_OP_COL),
        ).withColumn(BUCKET_COL, table.bucket_expr(F.col(key), snap=snap))
        new_files = table._write_files(table._by_bucket(delta, snap.n_buckets))
        if new_files:  # empty batch wrote zero files: skip the metrics
            # read (its plan may have been emptied; see observe comment)
            got = table._observed(observation)
            n_keys = got["n"]
            n_deletes = got["nd"]
            seq_min, seq_max = got["smin"], got["smax"]
            affected = sorted(int(b) for b in new_files)
    elif mode != "mor" and n_keys > 0:
        # 4. CoW rewrite of affected buckets.
        existing = table.read(buckets=affected, snap=snap)
        existing = existing.select(*alignment_columns(existing, target))
        keys_df = upd.select(key)
        if n_keys <= BROADCAST_KEY_THRESHOLD:
            keys_df = F.broadcast(keys_df)
        survivors = existing.join(keys_df, on=key, how="left_anti")

        new_rows = upd.filter(F.col("_op") != OP_DELETE).select(
            *alignment_columns(upd, target)
        )
        # One explicit repartition by bucket before the write. This
        # shuffles only the data being rewritten (== the write volume),
        # and in exchange every affected bucket lands as EXACTLY ONE
        # file per commit, in at most one task per core
        # (LakeTable._by_bucket). Without it, survivors keep their
        # input-split partitioning and each task emits a file per bucket
        # it holds — file counts (and with them listing/planning time per
        # batch) grow linearly over the stream's life (measured: 64 -> 244
        # files in 4 batches).
        result = survivors.unionByName(new_rows).withColumn(
            BUCKET_COL, table.bucket_expr(F.col(key), snap=snap)
        )
        new_files = table._write_files(table._by_bucket(result, len(affected)))

    # 5. Atomic snapshot commit (data + manifest + lineage + schema).
    sid = md.schema_id(snap, schema_json)
    if mode == "mor":
        # append delta entries stamped with this commit's sequence
        files = md.add_files(snap.files, table.build_entries(
            new_files, sid, snap, kind="delta", mseq=snap.version + 1
        ))
    else:
        files = md.replace_buckets(
            snap.files, affected, table.build_entries(new_files, sid, snap)
        )
    new_snap = md.next_snapshot(
        snap, "merge", files,
        commit_key=md.commit_key(job_id, batch_id),
        schema_json=schema_json,
        job_id=job_id,
        batch_id=batch_id,
        seq_min=seq_min,
        seq_max=seq_max,
        n_keys=n_keys,
        n_deletes=n_deletes,
        buckets=affected,
        schema_added=plan.added,
        schema_widened=plan.widened,
        wall_s=round(time.time() - t0, 3),
        # commit wall-clock stamp for the counter/statistics read API
        # (per-day/hour re-aggregation); metadata only, never data
        ts_ms=int(time.time() * 1000),
    )
    md.commit_snapshot(table.root, new_snap)
    return MergeResult(
        version=new_snap.version,
        n_keys=n_keys,
        n_deletes=n_deletes,
        affected_buckets=affected,
        seq_min=seq_min,
        seq_max=seq_max,
        schema_changed=plan.changed,
        wall_s=time.time() - t0,
    )


def append_batch(
    table: LakeTable,
    batch_df: DataFrame,
    batch_id=None,
    job_id: str = "append",
) -> MergeResult:
    """Insert-only fast path (the reference's no-primary-key mode): pure
    file append, no bucket read/rewrite, O(batch) work regardless of table
    size. Duplicate keys are allowed — this is what 'no PK configured'
    means in the reference (factory.go:238-244 semantics). Retries on
    commit conflict like :func:`merge_batch`."""
    return md.retry_commit(
        lambda: _append_once(table, batch_df, batch_id, job_id)
    )


def _append_once(table: LakeTable, batch_df: DataFrame, batch_id, job_id: str):
    t0 = time.time()
    snap = table.snapshot()
    if batch_id is not None and is_committed(snap, job_id, batch_id):
        return MergeResult(version=snap.version, skipped=True)
    plan, schema_json = md.evolve_schema(snap, batch_df.schema)
    df = batch_df.select(*alignment_columns(batch_df, plan.target)).withColumn(
        BUCKET_COL, table.bucket_expr(F.col(snap.key_field), snap=snap)
    )
    new_files = table._write_files(df)
    files = md.add_files(snap.files, table.build_entries(
        new_files, md.schema_id(snap, schema_json), snap
    ))
    new_snap = md.next_snapshot(
        snap, "append", files,
        commit_key=md.commit_key(job_id, batch_id),
        schema_json=schema_json,
        job_id=job_id,
        batch_id=batch_id,
    )
    md.commit_snapshot(table.root, new_snap)
    return MergeResult(
        version=new_snap.version,
        affected_buckets=sorted(int(b) for b in new_files),
        schema_changed=plan.changed,
        wall_s=time.time() - t0,
    )
