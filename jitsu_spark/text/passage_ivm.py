"""Incremental maintenance of the cross-document passage-dedup result.

``dedup_passages`` (passages.py) is a full-corpus recompute: every sync of
a growing corpus would re-shuffle every passage of every document. This
module keeps the same per-document result — ``(doc, n_passages, n_kept,
clean_text)`` under global first-occurrence-wins — continuously up to date
from an upstream MoR document table's ``changes()`` feed, doing work
proportional to the CHANGE, not the corpus:

state tables (all MoR, exactly-once manifest cursor like lake/mirror.py):

- ``occ`` — the inverted index: one row per passage occurrence, key
  ``md5(passage) # doc # pos`` with ``bucket.prefix_sep='#'`` so ALL
  occurrences of one passage co-locate in one bucket and a read can
  bucket-prune by the passage hash alone;
- ``winners`` — one row per distinct passage: the current first
  occurrence ``(win_doc, win_pos)``, keyed by the passage hash;
- ``result`` — the per-document output rows, keyed by the upstream key.

per sync (upstream versions ``since -> cur``):

1. changed docs D from ``changes()``; their pre-image text (upstream read
   AT ``since``, bucket-pruned to D) and post-image text (read at
   ``cur``) explode to the occurrence rows to retract / assert — O(D).
   The window's frames come from ``lake/mirror.WindowImages`` — the
   caller's, shared with every other view of the upstream, or a private
   one — so this module computes no window of its own;
2. the occ merge applies retractions (op 'd', even seq) and assertions
   (op 'u', odd seq — LWW keeps the assertion when a key appears in
   both, i.e. the unchanged part of an updated document);
3. dirty passages P = distinct passage hashes across both sides — only
   THEIR winner can change. New winners = ``min(struct(doc, pos))``
   (partial-combinable — a boilerplate passage shared by 10^7 docs
   collapses map-side) over the occ table read pruned to P's buckets,
   semi-joined to P; passages with no occurrences left become winner
   deletes;
4. affected docs A = D ∪ old-winner docs of P ∪ new-winner docs of P —
   the only docs whose kept-set can differ. Their rows are rebuilt by
   joining their exploded post-image passages to the winners table
   (pruned to those passages' buckets) and merged into ``result``;
   upstream deletes delete their result row.

Everything is bucket-pruned on both ends through ``LakeTable.read_for``
(bucket ids and files from one snapshot); no full-corpus scan, shuffle,
or window appears anywhere. Crash-safety: each stage carries its OWN
cursor (its table's commit manifest), applied in occ -> winners -> result
order; a stage's window is (its own cursor, upstream current], so a crash
between stages — even with further upstream commits before the retry —
resumes with each stage recomputing a window that exactly matches what
its table is missing. Reads that must see another table's PRE-advance
state pin the version its lineage records for the consistent batch
(``_version_after_batch``); stage 3 reads the current winners at one
pinned snapshot. Consume-before-compact applies to the
upstream as for any ``changes()`` consumer, and to the state tables'
manifests for unfinished retries.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jitsu_spark.lake.merge import merge_batch
from jitsu_spark.lake.metadata import Snapshot
from jitsu_spark.lake.mirror import (
    MirrorResult,
    last_synced_version,
    retract_assert,
    sync_window,
)
from jitsu_spark.lake.table import BUCKET_PREFIX_SEP_PROP, LakeTable
from jitsu_spark.text.passages import explode_passages

SEP = "#"  # never appears inside an md5 hex prefix

#: table property on ``result`` holding the passage window the index was
#: built with — a STRUCTURAL parameter of the persisted state (occurrence
#: keys embed window-sized passages), so it must travel with the tables,
#: never be re-supplied by the caller: loading with a different window
#: would compute retraction keys that match nothing and silently corrupt
#: the index.
WINDOW_PROP = "passage_ivm.window"


def _version_after_batch(snap: Snapshot, job_id: str, upstream_v: int) -> int:
    """The version of a state table just AFTER batch ``v<upstream_v>`` was
    merged, looked up in the lineage of its snapshot ``snap`` (0 when
    ``upstream_v`` is 0, i.e. never synced) — the pinned read point at
    which the table is consistent with the upstream at ``upstream_v``.
    Raises if the batch's lineage entry has been archived (sync retries
    must complete before ``compact_manifest``, the usual
    consume-before-compact rule)."""
    if upstream_v <= 0:
        return 0
    bid = f"v{upstream_v}"
    for e in snap.lineage:
        if (
            e.get("kind") == "merge"
            and e.get("job_id") == job_id
            and str(e.get("batch_id")) == bid
        ):
            return e["version"]
    raise ValueError(
        f"lineage for sync batch {bid} of job {job_id!r} is archived — "
        "finish/retry syncs before compact_manifest"
    )


@dataclass
class PassageDedupView:
    """The three state tables plus sync parameters; see module docstring."""

    occ: LakeTable
    winners: LakeTable
    result: LakeTable
    window: int = 10
    job_id: str = "passage-ivm"

    @staticmethod
    def create(
        spark: SparkSession,
        root: str,
        key_field: str = "doc_id",
        key_type: T.DataType = T.LongType(),
        window: int = 10,
        n_buckets: int = 16,
        job_id: str = "passage-ivm",
    ) -> "PassageDedupView":
        mor = {"write.mode": "mor"}
        occ = LakeTable.create(
            spark,
            os.path.join(root, "occ"),
            T.StructType(
                [
                    T.StructField("k", T.StringType()),
                    T.StructField("passage_h", T.StringType()),
                    T.StructField("doc", key_type),
                    T.StructField("pos", T.LongType()),
                    T.StructField("passage", T.StringType()),
                ]
            ),
            "k",
            n_buckets=n_buckets,
            properties={**mor, BUCKET_PREFIX_SEP_PROP: SEP},
        )
        winners = LakeTable.create(
            spark,
            os.path.join(root, "winners"),
            T.StructType(
                [
                    T.StructField("passage_h", T.StringType()),
                    T.StructField("win_doc", key_type),
                    T.StructField("win_pos", T.LongType()),
                ]
            ),
            "passage_h",
            n_buckets=n_buckets,
            properties=dict(mor),
        )
        result = LakeTable.create(
            spark,
            os.path.join(root, "result"),
            T.StructType(
                [
                    T.StructField(key_field, key_type),
                    T.StructField("n_passages", T.LongType()),
                    T.StructField("n_kept", T.LongType()),
                    T.StructField("clean_text", T.StringType()),
                ]
            ),
            key_field,
            n_buckets=n_buckets,
            properties={**mor, WINDOW_PROP: str(window)},
        )
        return PassageDedupView(occ, winners, result, window, job_id)

    @staticmethod
    def load(spark: SparkSession, root: str,
             job_id: str = "passage-ivm") -> "PassageDedupView":
        result = LakeTable.load(spark, os.path.join(root, "result"))
        stored = result.snapshot().properties.get(WINDOW_PROP)
        if stored is None:
            raise ValueError(
                f"{result.root} lacks the {WINDOW_PROP!r} property — not a "
                "PassageDedupView state dir (or created before it was "
                "recorded)"
            )
        return PassageDedupView(
            LakeTable.load(spark, os.path.join(root, "occ")),
            LakeTable.load(spark, os.path.join(root, "winners")),
            result,
            int(stored),
            job_id,
        )

    # -- sync ---------------------------------------------------------------

    def _occurrences(self, docs: DataFrame, key: str) -> DataFrame:
        p = explode_passages(docs, id_col=key, text_col="text",
                             window=self.window)
        h = F.md5(F.col("passage"))
        return p.select(
            F.concat(
                h, F.lit(SEP), F.col(key).cast("string"), F.lit(SEP),
                F.col("pos").cast("string"),
            ).alias("k"),
            h.alias("passage_h"),
            F.col(key).alias("doc"),
            F.col("pos").cast("long").alias("pos"),
            "passage",
        )

    def sync(
        self, src: LakeTable, text_col: str = "text", images=None
    ) -> MirrorResult:
        """Advance all three state tables to the upstream's current
        version. The three stages carry INDEPENDENT cursors (each table's
        own commit manifest), applied in occ -> winners -> result order,
        so a crash between stages resumes exactly where it stopped even
        if more upstream commits landed in between — each retried stage
        recomputes its window from its OWN cursor against pinned upstream
        versions, never against state another stage already moved. The
        windows come from ``images`` (lake/mirror.WindowImages), or from a
        private instance when none is given."""
        res_since = last_synced_version(self.result, self.job_id)
        src_snap = src.snapshot()
        cur, key = src_snap.version, src_snap.key_field
        if cur <= res_since:
            return MirrorResult(from_version=res_since, to_version=res_since,
                                skipped=True)
        bid = f"v{cur}"
        cols = ["k", "passage_h", "doc", "pos", "passage"]
        # per-sync memo of the occurrence and dirty-passage frames keyed
        # by the stage's cursor: in the steady no-crash path all three
        # cursors coincide, so the occurrence explosions are computed and
        # persisted ONCE and shared by every stage (on the crash-retry
        # path cursors differ and each lo gets its own entry, as it does
        # in WindowImages).
        occ_cache: dict[int, tuple] = {}
        dirty_cache: dict[int, DataFrame] = {}

        with sync_window(src, images) as (imgs, pin):

            def get_window(lo: int):
                ch, pre, post = imgs.get(lo, cur)
                return ch, *(
                    df.select(key, F.col(text_col).alias("text"))
                    for df in (pre, post)
                )

            def get_occ(lo: int):
                if lo not in occ_cache:
                    _, pre, post = get_window(lo)
                    occ_cache[lo] = (
                        pin(self._occurrences(pre, key)),
                        pin(self._occurrences(post, key)),
                    )
                return occ_cache[lo]

            def get_dirty(lo: int) -> DataFrame:
                if lo not in dirty_cache:
                    op, on = get_occ(lo)
                    dirty_cache[lo] = pin(
                        op.select("passage_h")
                        .unionByName(on.select("passage_h"))
                        .distinct()
                    )
                return dirty_cache[lo]

            # -- stage 1: occurrence index retract/assert — O(changed) ------
            occ_since = last_synced_version(self.occ, self.job_id)
            if occ_since < cur:
                op1, on1 = get_occ(occ_since)
                merge_batch(self.occ, retract_assert(op1, on1, cols, cur),
                            batch_id=bid, job_id=self.job_id)

            # -- stage 2: winner recompute for DISPLACED passages only ------
            # A dirty passage needs the (corpus-sized) occurrence index
            # read ONLY if its current winner's occurrence was truly
            # retracted (not re-asserted under the same key) — otherwise
            # the winner survives and the new winner is simply
            # min(old winner, min of this window's assertions), because
            # every other surviving occurrence is >= the old winner by
            # definition. Insert-only ingest therefore never touches the
            # occ table here at all: new passages take min(assertions),
            # existing ones min(old winner, assertions).
            win_since = last_synced_version(self.winners, self.job_id)
            if win_since < cur:
                dirty = get_dirty(win_since)
                op2, on2 = get_occ(win_since)
                # winners is still at win_since state here (its own batch
                # is unapplied), so current reads ARE the old winners
                old = pin(
                    self.winners.read_for(dirty, "passage_h")
                    .join(dirty, on="passage_h", how="semi")
                )
                # occurrences truly retracted: in the pre-image, not
                # re-asserted in the post-image (k = hash#doc#pos)
                tr = op2.join(on2.select("k"), on="k", how="left_anti")
                displaced = pin(
                    old.alias("o")
                    .join(
                        tr.alias("t"),
                        (F.col("o.passage_h") == F.col("t.passage_h"))
                        & (F.col("o.win_doc") == F.col("t.doc"))
                        & (F.col("o.win_pos") == F.col("t.pos")),
                        "left_semi",
                    )
                    .select("passage_h")
                )
                # displaced passages: full recompute from occ (consistent
                # with src@cur after stage 1), pruned to THEIR buckets
                recomputed = (
                    self.occ.read_for(displaced, "passage_h")
                    .join(displaced, on="passage_h", how="semi")
                    .groupBy("passage_h")
                    .agg(F.min(F.struct("doc", "pos")).alias("_w"))
                )
                # everyone else: min(surviving old winner, new assertions)
                cand_new = on2.groupBy("passage_h").agg(
                    F.min(F.struct("doc", "pos")).alias("_w")
                )
                nd = (
                    old.join(displaced, on="passage_h", how="left_anti")
                    .select(
                        "passage_h",
                        F.struct(
                            F.col("win_doc").alias("doc"),
                            F.col("win_pos").alias("pos"),
                        ).alias("_w"),
                    )
                    .unionByName(
                        cand_new.join(
                            displaced, on="passage_h", how="left_anti"
                        )
                    )
                    .groupBy("passage_h")
                    .agg(F.min("_w").alias("_w"))
                )
                new_winners = pin(
                    nd.unionByName(recomputed)
                    .select(
                        "passage_h",
                        F.col("_w.doc").alias("win_doc"),
                        F.col("_w.pos").alias("win_pos"),
                    )
                )
                # gone = displaced passages with zero occurrences left
                gone = old.join(new_winners, on="passage_h", how="left_anti")
                merge_batch(
                    self.winners,
                    retract_assert(gone, new_winners,
                                   ["passage_h", "win_doc", "win_pos"], cur),
                    batch_id=bid, job_id=self.job_id,
                )

            # -- stage 3: rebuild per-doc rows for AFFECTED docs ------------
            ch3, _, post3 = get_window(res_since)
            dirty3 = get_dirty(res_since)
            # old winner docs come from winners at the version consistent
            # with src@res_since — the pinned pre-state even on a retry
            # where stage 2 already ran; new ones, and the kept-set join
            # below, from ONE current winners snapshot
            win_cur = self.winners.snapshot()
            win_pre = self.winners.snapshot(
                _version_after_batch(win_cur, self.job_id, res_since)
            )
            old_w_docs, new_w_docs = (
                self.winners.read_for(dirty3, "passage_h", snap=snap)
                .join(dirty3, on="passage_h", how="semi")
                .select(F.col("win_doc").alias("doc"))
                for snap in (win_pre, win_cur)
            )
            affected = pin(
                ch3.select(F.col(key).alias("doc"))
                .unionByName(old_w_docs)
                .unionByName(new_w_docs)
                .distinct()
                .withColumnRenamed("doc", key)
            )
            docs_a = (
                src.read_for(affected, key, snap=src_snap)
                .join(affected, on=key, how="semi")
                .select(key, F.col(text_col).alias("text"))
            )
            occ_a = self._occurrences(docs_a, key)
            w = self.winners.read_for(occ_a, "passage_h", snap=win_cur)
            kept = occ_a.join(w, on="passage_h", how="left").withColumn(
                "_kept",
                (F.col("doc") == F.col("win_doc"))
                & (F.col("pos") == F.col("win_pos")),
            )
            res = kept.groupBy("doc").agg(
                F.count("*").cast("long").alias("n_passages"),
                F.coalesce(
                    F.sum(F.col("_kept").cast("long")), F.lit(0)
                ).cast("long").alias("n_kept"),
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(F.col("_kept"),
                                       F.struct("pos", "passage"))
                            )
                        ),
                        lambda s: s["passage"],
                    ),
                    " ",
                ).alias("clean_text"),
            )
            # upstream deletes retract their row (NULL payload); a bootstrap
            # has no rows to retract, and limit(0) lets the optimizer drop
            # the anti-join's second scan of the whole upstream
            deleted = (ch3 if res_since else ch3.limit(0)).join(
                post3.select(key), on=key, how="left_anti"
            ).select(
                F.col(key).alias("doc"),
                F.lit(None).cast("long").alias("n_passages"),
                F.lit(None).cast("long").alias("n_kept"),
                F.lit(None).cast("string").alias("clean_text"),
            )
            merge_batch(
                self.result,
                retract_assert(
                    deleted, res,
                    [F.col("doc").alias(key), "n_passages", "n_kept",
                     "clean_text"],
                    cur,
                ),
                batch_id=bid, job_id=self.job_id,
            )
        return MirrorResult(from_version=res_since, to_version=cur)

    def read(self) -> DataFrame:
        return self.result.read()
