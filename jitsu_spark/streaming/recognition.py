"""Retrospective user recognition (ST8 in SURVEY.md §2.9).

Reference semantics (re-derived from /root/reference/server/users/
service.go:90-265 and the retrospective_users_recognition integration
test): events carrying an anonymous id but no user id are PARKED; when an
identify event later maps anon_id -> user_id, the parked events are
rewritten with the user id and upserted into the destination, then removed
from the parked state. This is the engine's model for out-of-order update
arrival.

Spark-first re-expression — keyed state as lake tables, reconciliation as
joins inside the micro-batch:

- ``identities``   LakeTable keyed by anon_id -> latest user_id (LWW on seq)
- ``pending``      LakeTable keyed by event_id: parked anonymous events
- per micro-batch:
    1. events with a user id merge straight into the destination; any
       (anon_id, user_id) pairs they carry merge into ``identities``;
    2. anonymous events broadcast-join the (updated) identities table:
       matched rows are completed and merged into the destination,
       unmatched rows merge into ``pending``;
    3. anon ids newly identified THIS batch join ``pending``: matched
       parked events are completed, merged into the destination, and
       deleted from ``pending`` (a 'd' merge by event_id).

Scale notes: identities is a key-value dimension that grows with every
anon id ever seen — it is the BIG side at scale and is never broadcast;
its scan is pruned to the buckets the batch's anon ids hash into. The
batch's anonymous slice is broadcast only while it is small
(``broadcast_row_threshold``, same regime switch as merge.py's key
anti-join) — large anonymous slices fall back to a plain shuffled join,
because a forced broadcast of a 10^7-row slice would blow the driver.
Pending stays bounded by the unidentified backlog (the reference bounds
it with a TTL — here a ``expire_pending`` maintenance call). All state
mutations ride the same exactly-once commit manifest as the destination
table.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jitsu_spark.lake.merge import merge_batch
from jitsu_spark.lake.table import LakeTable

IDENTITY_SCHEMA = T.StructType(
    [
        T.StructField("anon_id", T.StringType()),
        T.StructField("user_id", T.StringType()),
    ]
)


@dataclass
class RecognitionResult:
    n_direct: int
    n_recognized_in_batch: int
    n_parked: int
    n_reconciled: int
    n_unkeyed: int = 0  # neither user_id nor anon_id: routed straight through


class UserRecognition:
    """Keyed-state reconciler over three lake tables."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        destination: LakeTable,
        event_id_col: str = "event_id",
        anon_col: str = "anon_id",
        user_col: str = "user_id",
        broadcast_row_threshold: int = 200_000,
        table_properties: dict | None = None,
    ):
        """``table_properties`` applies to the lazily-created identities
        and pending STATE tables — {"write.mode": "mor"} makes every
        park/unpark/identity merge an O(batch) delta write, the
        steady-state mode for a hot recognition loop (the destination's
        mode is whatever its own table was created with)."""
        self.spark = spark
        self.destination = destination
        self.event_id_col = event_id_col
        self.anon_col = anon_col
        self.user_col = user_col
        self.broadcast_row_threshold = broadcast_row_threshold
        self.table_properties = dict(table_properties or {})
        id_root = os.path.join(root, "_identities")
        if LakeTable.exists(id_root):
            self.identities = LakeTable.load(spark, id_root)
        else:
            self.identities = LakeTable.create(
                spark, id_root, IDENTITY_SCHEMA, "anon_id", n_buckets=16,
                properties=dict(self.table_properties),
            )
        self._pending_root = os.path.join(root, "_pending")
        self._pending: LakeTable | None = (
            LakeTable.load(spark, self._pending_root)
            if LakeTable.exists(self._pending_root)
            else None
        )

    def _pending_table(self, like: DataFrame) -> LakeTable:
        if self._pending is None:
            schema = T.StructType(
                [f for f in like.schema.fields if f.name not in ("op", "seq")]
            )
            self._pending = LakeTable.create(
                self.spark, self._pending_root, schema, self.event_id_col,
                n_buckets=16, properties=dict(self.table_properties),
            )
        return self._pending

    def apply_batch(
        self, batch_df: DataFrame, batch_id=None, job_id: str = "recognition"
    ) -> RecognitionResult:
        """``batch_df`` is a CDC envelope batch (seq/op + payload) whose
        payload includes event_id, anon_id and a possibly-NULL user_id."""
        anon, user, eid = self.anon_col, self.user_col, self.event_id_col

        identified = batch_df.filter(F.col(user).isNotNull())
        anonymous = batch_df.filter(
            F.col(user).isNull() & F.col(anon).isNotNull()
        )
        # events with NEITHER id (e.g. a delete envelope without ids) can
        # never be recognized — route them straight to the destination
        # instead of silently dropping them
        unkeyed = batch_df.filter(F.col(user).isNull() & F.col(anon).isNull())

        # 1. new identity mappings from this batch (LWW by seq)
        pairs = identified.filter(F.col(anon).isNotNull()).select(
            "seq", F.lit("u").alias("op"), F.col(anon), F.col(user)
        )
        merge_batch(
            self.identities, pairs, batch_id=batch_id, job_id=f"{job_id}-ids"
        )

        # 2. direct path + in-batch recognition via the identities dim.
        # The identities table is the BIG side at scale (one row per anon
        # id ever seen) — never broadcast it. Instead: prune its scan to
        # the buckets the batch's anon ids hash into (driver-side list,
        # bounded by n_buckets), then join the anonymous slice. The slice
        # is broadcast only while small (anonymous events are commonly the
        # MAJORITY of a micro-batch, and at 10^7-row batches a forced
        # broadcast exceeds driver memory) — above the threshold both the
        # inner join and the matched-keys anti-join run as plain shuffled
        # joins and AQE picks the physical strategy.
        n_anon = anonymous.count()
        small_anon = n_anon <= self.broadcast_row_threshold
        ids_scan = self.identities.read_for(anonymous, anon).withColumnRenamed(
            "user_id", "_resolved"
        )
        recognized = (
            ids_scan.join(
                F.broadcast(anonymous) if small_anon else anonymous,
                on=anon, how="inner",
            )
            .withColumn(user, F.col("_resolved"))
            .drop("_resolved")
            .select(*anonymous.columns)
        )
        matched_keys = recognized.select(anon).distinct()
        unmatched = anonymous.join(
            F.broadcast(matched_keys) if small_anon else matched_keys,
            on=anon, how="left_anti",
        )

        to_destination = identified.unionByName(recognized).unionByName(unkeyed)
        n_direct = identified.count()
        n_recognized = recognized.count()
        n_unkeyed = unkeyed.count()
        merge_batch(
            self.destination, to_destination, batch_id=batch_id,
            job_id=f"{job_id}-dest",
        )

        # 3. park the still-anonymous events; the envelope seq must survive
        # as PAYLOAD (merge_batch strips envelope columns), so it is kept
        # as orig_seq and restored when the event is finally completed
        to_park = unmatched.withColumn("orig_seq", F.col("seq"))
        pending = self._pending_table(to_park)
        n_parked = to_park.count()
        merge_batch(pending, to_park, batch_id=batch_id, job_id=f"{job_id}-park")

        # 4. reconcile previously-parked events against the new mappings
        n_reconciled = 0
        if pairs.limit(1).count() > 0:
            new_ids = F.broadcast(
                pairs.groupBy(anon).agg(
                    F.max_by(F.col(user), F.col("seq")).alias("_resolved")
                )
            )
            parked = pending.read()  # payload incl. orig_seq, no envelope
            matched = (
                parked.join(new_ids, on=anon, how="inner")
                .withColumn(user, F.col("_resolved"))
                .drop("_resolved")
            )
            n_reconciled = matched.count()
            if n_reconciled:
                completed = matched.withColumn(
                    "seq", F.col("orig_seq")
                ).withColumn("op", F.lit("u")).drop("orig_seq")
                merge_batch(
                    self.destination, completed, batch_id=batch_id,
                    job_id=f"{job_id}-reconcile",
                )
                tombstones = matched.withColumn(
                    "seq", F.col("orig_seq")
                ).withColumn("op", F.lit("d"))
                merge_batch(
                    pending, tombstones, batch_id=batch_id,
                    job_id=f"{job_id}-unpark",
                )
        return RecognitionResult(
            n_direct, n_recognized, n_parked, n_reconciled, n_unkeyed
        )

    def expire_pending(self, before_seq: int, batch_id=None) -> int:
        """TTL analog of the reference's parked-state expiry: drop parked
        events whose original seq precedes ``before_seq``, bounding the
        pending backlog at scale (events older than the retention horizon
        can never be meaningfully identified). Returns the count dropped."""
        if self._pending is None:
            return 0
        parked = self._pending.read()
        stale = parked.filter(F.col("orig_seq") < before_seq)
        n = stale.count()
        if n:
            tombstones = stale.withColumn("seq", F.col("orig_seq")).withColumn(
                "op", F.lit("d")
            )
            merge_batch(
                self._pending, tombstones, batch_id=batch_id,
                job_id="recognition-expire",
            )
        return n
