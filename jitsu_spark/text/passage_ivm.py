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
   ``cur``) explode to the occurrence rows to retract / assert — O(D);
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

Everything is bucket-pruned on both ends; no full-corpus scan, shuffle,
or window appears anywhere. Crash-safety: each stage carries its OWN
cursor (its table's commit manifest), applied in occ -> winners -> result
order; a stage's window is (its own cursor, upstream current], so a crash
between stages — even with further upstream commits before the retry —
resumes with each stage recomputing a window that exactly matches what
its table is missing. Reads that must see another table's PRE-advance
state pin the version its lineage records for the consistent batch
(``_version_after_batch``). Consume-before-compact applies to the
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
from jitsu_spark.lake.mirror import MirrorResult, last_synced_version
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


def _version_after_batch(table: LakeTable, job_id: str, upstream_v: int) -> int:
    """The version of ``table`` just AFTER batch ``v<upstream_v>`` was
    merged (0 when ``upstream_v`` is 0, i.e. never synced) — the pinned
    read point at which ``table`` is consistent with the upstream at
    ``upstream_v``. Raises if the batch's lineage entry has been archived
    (sync retries must complete before ``compact_manifest``, the usual
    consume-before-compact rule)."""
    if upstream_v <= 0:
        return 0
    bid = f"v{upstream_v}"
    for e in table.snapshot().lineage:
        if (
            e.get("kind") == "merge"
            and e.get("job_id") == job_id
            and str(e.get("batch_id")) == bid
        ):
            return e["version"]
    raise ValueError(
        f"lineage for sync batch {bid} of {table.root} is archived — "
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

    def _buckets(
        self,
        table: LakeTable,
        df: DataFrame,
        col: str,
        snap: Snapshot | None = None,
    ) -> list[int]:
        """Distinct bucket ids of ``df[col]``. Pass the snapshot a read is
        PINNED to whenever it reads an older version — resolving against
        the current layout while reading an older pinned snapshot silently
        mis-prunes across a rebucket."""
        return sorted(
            r["b"]
            for r in df.select(
                table.bucket_expr(F.col(col), snap=snap).alias("b")
            )
            .distinct()
            .collect()
        )

    def _window(self, src: LakeTable, lo: int, cur: int, key: str,
                text_col: str, images=None):
        """(changed keys, pre-image docs @lo, post-image docs @cur) for the
        upstream window (lo, cur] — every read bucket-pruned to the
        changed docs. With a shared ``images`` (lake/mirror.WindowImages),
        the frames come from the cross-view cache instead of a fresh
        scan — one window computation serves every view of the upstream."""
        if images is not None:
            changed, _dirty, pre, post = images.get(lo, cur)
            return (
                changed,
                pre.select(key, F.col(text_col).alias("text")),
                post.select(key, F.col(text_col).alias("text")),
            )
        changed = (
            src.changes(since_version=lo, to_version=cur)
            .select(key).distinct().persist()
        )
        # bucket ids resolve against the layout of the snapshot each read
        # is pinned to — `cur` for the post-image, `lo` for the pre-image
        # (an in-window or concurrent rebucket otherwise makes the prune
        # drop retractions/assertions)
        post_snap, pre_snap = src.snapshot(cur), src.snapshot(lo)
        dbk = self._buckets(src, changed, key, snap=post_snap)
        dbk_pre = self._buckets(src, changed, key, snap=pre_snap) if lo > 0 else []
        pre = (
            src.read(snap=pre_snap, buckets=dbk_pre)
            .join(changed, on=key, how="semi")
            .select(key, F.col(text_col).alias("text"))
        )
        post = (
            src.read(snap=post_snap, buckets=dbk)
            .join(changed, on=key, how="semi")
            .select(key, F.col(text_col).alias("text"))
        )
        return changed, pre, post

    def sync(
        self, src: LakeTable, text_col: str = "text", images=None
    ) -> MirrorResult:
        """Advance all three state tables to the upstream's current
        version. The three stages carry INDEPENDENT cursors (each table's
        own commit manifest), applied in occ -> winners -> result order,
        so a crash between stages resumes exactly where it stopped even
        if more upstream commits landed in between — each retried stage
        recomputes its window from its OWN cursor against pinned upstream
        versions, never against state another stage already moved."""
        res_since = last_synced_version(self.result, self.job_id)
        cur = src.snapshot().version
        if cur <= res_since:
            return MirrorResult(from_version=res_since, to_version=res_since,
                                skipped=True)
        bid = f"v{cur}"
        key = src.snapshot().key_field
        pinned: list[DataFrame] = []
        # per-sync memo of the (window, occurrence, dirty-passage) frames
        # keyed by the stage's cursor: in the steady no-crash path all
        # three cursors coincide, so the changes() scan, the pre/post
        # bucket-pruned reads, and the occurrence explosions are computed
        # and persisted ONCE and shared by every stage (the per-stage
        # windows still exist for the crash-retry path, where cursors
        # differ and each lo gets its own entry).
        win_cache: dict[int, tuple] = {}
        occ_cache: dict[int, tuple] = {}
        dirty_cache: dict[int, DataFrame] = {}

        def get_window(lo: int):
            if lo not in win_cache:
                ch, pre, post = self._window(
                    src, lo, cur, key, text_col, images=images
                )
                post = post.persist()
                pinned.append(post)
                if images is None:
                    # only pin frames THIS sync created: with a shared
                    # WindowImages, `ch` is the cross-view cached frame —
                    # unpersisting it here would silently defeat the
                    # cache for every view that syncs after this one
                    # (its lifecycle belongs to WindowImages.release())
                    pinned.append(ch)
                win_cache[lo] = (ch, pre, post)
            return win_cache[lo]

        def get_occ(lo: int):
            if lo not in occ_cache:
                _, pre, post = get_window(lo)
                op = self._occurrences(pre, key).persist()
                on = self._occurrences(post, key).persist()
                pinned.extend([op, on])
                occ_cache[lo] = (op, on)
            return occ_cache[lo]

        def get_dirty(lo: int) -> DataFrame:
            if lo not in dirty_cache:
                op, on = get_occ(lo)
                d = (
                    op.select("passage_h")
                    .unionByName(on.select("passage_h"))
                    .distinct()
                    .persist()
                )
                pinned.append(d)
                dirty_cache[lo] = d
            return dirty_cache[lo]

        try:
            # -- stage 1: occurrence index retract/assert — O(changed) ------
            occ_since = last_synced_version(self.occ, self.job_id)
            if occ_since < cur:
                op1, on1 = get_occ(occ_since)
                occ_batch = op1.select(
                    "k", "passage_h", "doc", "pos", "passage",
                    F.lit(2 * cur).cast("long").alias("seq"),
                    F.lit("d").alias("op"),
                ).unionByName(
                    on1.select(
                        "k", "passage_h", "doc", "pos", "passage",
                        F.lit(2 * cur + 1).cast("long").alias("seq"),
                        F.lit("u").alias("op"),
                    )
                )
                merge_batch(self.occ, occ_batch, batch_id=bid,
                            job_id=self.job_id)

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
                wbk = self._buckets(self.winners, dirty, "passage_h")
                # winners is still at win_since state here (its own batch
                # is unapplied), so current reads ARE the old winners
                old = (
                    self.winners.read(buckets=wbk)
                    .join(dirty, on="passage_h", how="semi")
                    .persist()
                )
                pinned.append(old)
                # occurrences truly retracted: in the pre-image, not
                # re-asserted in the post-image (k = hash#doc#pos)
                tr = op2.join(on2.select("k"), on="k", how="left_anti")
                displaced = (
                    old.alias("o")
                    .join(
                        tr.alias("t"),
                        (F.col("o.passage_h") == F.col("t.passage_h"))
                        & (F.col("o.win_doc") == F.col("t.doc"))
                        & (F.col("o.win_pos") == F.col("t.pos")),
                        "left_semi",
                    )
                    .select("passage_h")
                    .persist()
                )
                pinned.append(displaced)
                # displaced passages: full recompute from occ (consistent
                # with src@cur after stage 1), pruned to THEIR buckets
                pbk = self._buckets(self.occ, displaced, "passage_h")
                recomputed = (
                    self.occ.read(buckets=pbk)
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
                new_winners = (
                    nd.unionByName(recomputed)
                    .select(
                        "passage_h",
                        F.col("_w.doc").alias("win_doc"),
                        F.col("_w.pos").alias("win_pos"),
                    )
                    .persist()
                )
                pinned.append(new_winners)
                # gone = displaced passages with zero occurrences left
                gone = old.join(new_winners, on="passage_h", how="left_anti")
                win_batch = new_winners.select(
                    "passage_h", "win_doc", "win_pos",
                    F.lit(2 * cur + 1).cast("long").alias("seq"),
                    F.lit("u").alias("op"),
                ).unionByName(
                    gone.select(
                        "passage_h", "win_doc", "win_pos",
                        F.lit(2 * cur).cast("long").alias("seq"),
                        F.lit("d").alias("op"),
                    )
                )
                merge_batch(self.winners, win_batch, batch_id=bid,
                            job_id=self.job_id)

            # -- stage 3: rebuild per-doc rows for AFFECTED docs ------------
            ch3, _, post3 = get_window(res_since)
            dirty3 = get_dirty(res_since)
            wbk3 = self._buckets(self.winners, dirty3, "passage_h")
            # winners at the version consistent with src@res_since — the
            # pinned pre-state even on a retry where stage 2 already ran;
            # its bucket ids resolve against THAT snapshot's layout
            win_pre_v = _version_after_batch(self.winners, self.job_id,
                                             res_since)
            win_pre = self.winners.snapshot(win_pre_v)
            wbk3_pre = self._buckets(
                self.winners, dirty3, "passage_h", snap=win_pre
            ) if win_pre_v > 0 else []
            old_w_docs = (
                self.winners.read(snap=win_pre, buckets=wbk3_pre)
                .join(dirty3, on="passage_h", how="semi")
                .select(F.col("win_doc").alias("doc"))
            )
            new_w_docs = (
                self.winners.read(buckets=wbk3)
                .join(dirty3, on="passage_h", how="semi")
                .select(F.col("win_doc").alias("doc"))
            )
            affected = (
                ch3.select(F.col(key).alias("doc"))
                .unionByName(old_w_docs)
                .unionByName(new_w_docs)
                .distinct()
                .withColumnRenamed("doc", key)
                .persist()
            )
            pinned.append(affected)
            src_cur = src.snapshot(cur)
            abk = self._buckets(src, affected, key, snap=src_cur)
            docs_a = (
                src.read(snap=src_cur, buckets=abk)
                .join(affected, on=key, how="semi")
                .select(key, F.col(text_col).alias("text"))
            )
            occ_a = self._occurrences(docs_a, key)
            a_pbk = self._buckets(self.winners, occ_a, "passage_h")
            w = self.winners.read(buckets=a_pbk)
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
            deleted = ch3.join(
                post3.select(key), on=key, how="left_anti"
            ).select(F.col(key).alias("doc"))
            res_batch = res.select(
                F.col("doc").alias(key),
                "n_passages", "n_kept", "clean_text",
                F.lit(2 * cur + 1).cast("long").alias("seq"),
                F.lit("u").alias("op"),
            ).unionByName(
                deleted.select(
                    F.col("doc").alias(key),
                    F.lit(None).cast("long").alias("n_passages"),
                    F.lit(None).cast("long").alias("n_kept"),
                    F.lit(None).cast("string").alias("clean_text"),
                    F.lit(2 * cur).cast("long").alias("seq"),
                    F.lit("d").alias("op"),
                )
            )
            merge_batch(self.result, res_batch, batch_id=bid,
                        job_id=self.job_id)
        finally:
            for df in pinned:
                df.unpersist()
        return MirrorResult(from_version=res_since, to_version=cur)

    def read(self) -> DataFrame:
        return self.result.read()
