"""Incremental derived-table maintenance: keep a downstream LakeTable in
sync with an upstream MoR table by consuming ``changes()`` — the CDC-out
consumer loop (upstream merge -> changelog -> downstream merge) that
replaces full-table recomputes for projections/filtered mirrors of a
100 TB table.

The downstream's own commit manifest doubles as the sync cursor: each
sync commits under ``(job_id, v<upstream_version>)``, so the last synced
upstream version is recoverable from the manifest alone — no sidecar
state, and a replayed sync is idempotent like any other batch.

Change rows re-enter the normal merge kernel with
``seq = _commit_version`` (a key appears at most once per upstream
commit and versions are monotone, so LWW ordering is exact) and
``op = _change_op`` (downstream deletes mirror upstream deletes).

Consume-before-compact applies transitively: sync each mirror past an
upstream version before compacting/overwriting the upstream beyond it
(changes() raises rather than silently skipping a gap).

Derived views (``sync_derived_rows``, ``sync_aggregate``, and the views
built on them) share three pieces:

- :class:`WindowImages` computes a window's ``(changed keys, pre-image,
  post-image)`` frames, once per window for every view of the upstream;
- :func:`sync_window` is the one sync prologue: it checks the shared
  ``images`` belongs to the upstream, makes a private one if none was
  given, and on exit releases it with every frame the call persisted;
- :func:`retract_assert` builds the merge batch that retracts the
  pre-image's derived rows and asserts the post-image's.
"""

from __future__ import annotations

import re
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jitsu_spark.lake.merge import merge_batch
from jitsu_spark.lake.table import LakeTable


@dataclass
class MirrorResult:
    from_version: int
    to_version: int
    skipped: bool = False


def last_synced_version(dst: LakeTable, job_id: str = "mirror") -> int:
    """Recover the sync cursor from the destination's commit manifest."""
    pat = re.compile(re.escape(job_id) + r"/v(\d+)$")
    versions = [
        int(m.group(1))
        for key in dst.snapshot().committed
        if (m := pat.match(key))
    ]
    return max(versions, default=0)


def sync_mirror(
    src: LakeTable,
    dst: LakeTable,
    transform=None,
    job_id: str = "mirror",
) -> MirrorResult:
    """Apply all upstream changes since the last sync to ``dst``.

    ``transform`` optionally maps the change DataFrame (payload +
    ``_change_op``/``_commit_version``) before the merge — project
    columns, filter rows (a filtered mirror must keep DELETES flowing
    even for rows it filters out, so filter on payload columns only for
    insert/update semantics you actually want)."""
    since = last_synced_version(dst, job_id)
    cur = src.snapshot().version
    if cur <= since:
        return MirrorResult(from_version=since, to_version=since, skipped=True)
    ch = src.changes(since_version=since, to_version=cur)
    if transform is not None:
        ch = transform(ch)
    envelope = ch.withColumn("seq", F.col("_commit_version")).withColumn(
        "op", F.col("_change_op")
    ).drop("_change_op", "_commit_version")
    merge_batch(dst, envelope, batch_id=f"v{cur}", job_id=job_id)
    return MirrorResult(from_version=since, to_version=cur)


class WindowImages:
    """Memoized ``(changed keys, pre-image, post-image)`` of an upstream
    sync window. :meth:`get` is the one place a ``changes()`` consumer's
    window is computed; every ``sync_aggregate`` / ``sync_derived_rows`` /
    ``PassageDedupView.sync`` call takes its frames from here. One
    CDC-maintained table usually feeds SEVERAL derived views (term stats +
    bigram counts + LSH index + chunk table ...); without sharing, each
    view re-runs the changes() scan, the distinct, and two reconcile reads
    of every dirty upstream bucket — the dominant per-sync cost once
    deltas spread across buckets. The frames after the changed-keys
    semi-join are O(change), so they're persisted once and served to
    every view syncing the SAME (since, cur) window; a view whose cursor
    lags (crash retry) misses the cache and computes its own window.

    Pass one instance to every sync of the same upstream within one
    driver run, and ``release()`` it after the batch's last view syncs
    (deterministic executor-memory release — GC would get there
    eventually, but not between thousands of micro-batches). A sync given
    no instance makes and releases a private one (:func:`sync_window`).
    Do NOT reuse across upstream commits (keys include the window, so
    stale entries are never served — they just hold memory).

    Bootstrap windows (``since == 0``) are NOT materialized: there the
    post-image IS the whole corpus, and caching it would write a
    corpus-sized copy before any view does its one-time full build —
    each view streams its own scan instead."""

    def __init__(self, src: LakeTable):
        self.src = src
        self._cache: dict = {}
        self._pinned: list[DataFrame] = []

    def get(self, since: int, cur: int):
        w = (since, cur)
        if w not in self._cache:
            snaps = [self.src.snapshot(v) for v in (since, cur)]
            key = snaps[1].key_field
            ch = self.src.changes(since_version=since, snap=snaps[1])
            changed = ch.select(key).distinct().persist()
            self._pinned.append(changed)
            # each image is pinned to its own version — `since` for the
            # pre-image, `cur` for the post-image — and read_for prunes
            # with THAT snapshot's layout (a rebucket may lie in between)
            pre, post = (
                self.src.read_for(changed, key, snap=snap)
                .join(changed, on=key, how="semi")
                for snap in snaps
            )
            if since > 0:  # steady state: O(change) frames, worth caching
                self._pinned += [pre.persist(), post.persist()]
            self._cache[w] = (changed, pre, post)
        return self._cache[w]

    def release(self) -> None:
        """Unpersist every cached frame; the instance stays usable (a
        later get() recomputes)."""
        for df in self._pinned:
            df.unpersist()
        self._pinned.clear()
        self._cache.clear()


@contextmanager
def sync_window(src: LakeTable, images: WindowImages | None):
    """The prologue every sync over ``src``'s window shares. Checks that a
    given ``images`` belongs to ``src``, makes a private one if none was
    given, and yields ``(images, pin)``. ``pin(df)`` persists a frame
    private to this call. On exit, normal or raising, every pinned frame
    is unpersisted and a private ``images`` is released, so a failed sync
    leaks no cached frame."""
    if images is not None and images.src.root != src.root:
        raise ValueError(
            f"WindowImages was built on {images.src.root}, not {src.root} — "
            "a shared window cache serves exactly one upstream"
        )
    imgs = images or WindowImages(src)
    pinned: list[DataFrame] = []

    def pin(df: DataFrame) -> DataFrame:
        pinned.append(df.persist())
        return df

    try:
        yield imgs, pin
    finally:
        for df in pinned:
            df.unpersist()
        if images is None:
            imgs.release()


def retract_assert(
    retract: DataFrame, assert_: DataFrame, cols: list, cur: int
) -> DataFrame:
    """The merge batch of one window into a derived table: ``retract``
    rows as deletes at seq ``2·cur`` (op ``d``) unioned with ``assert_``
    rows as upserts at seq ``2·cur+1`` (op ``u``). LWW keeps the upsert
    for a key on both sides, i.e. the unchanged part of an updated doc."""
    return retract.select(
        *cols, F.lit(2 * cur).cast("long").alias("seq"), F.lit("d").alias("op")
    ).unionByName(
        assert_.select(
            *cols,
            F.lit(2 * cur + 1).cast("long").alias("seq"),
            F.lit("u").alias("op"),
        )
    )


def sync_derived_rows(
    src: LakeTable,
    dst: LakeTable,
    derive,
    job_id: str = "derived",
    images: WindowImages | None = None,
) -> MirrorResult:
    """Incrementally maintain ``dst == derive(full src table)`` where
    ``derive`` maps upstream rows to derived rows 1->N (an inverted
    index: a document's passages, LSH bands, n-grams, ...). Each derived
    row must carry ``dst``'s key, UNIQUE per derived row and embedding
    the upstream key — that makes retraction exact: per sync window the
    batch is ``derive(pre-image of changed docs)`` retracted and
    ``derive(post-image)`` asserted (:func:`retract_assert`). Reads are
    bucket-pruned to the changed docs; exactly-once via the
    destination's own manifest cursor, like every other sync in this
    module. ``derive`` must be per-upstream-row
    independent (each derived row from exactly one doc)."""
    since = last_synced_version(dst, job_id)
    cur = src.snapshot().version
    if cur <= since:
        return MirrorResult(from_version=since, to_version=since, skipped=True)
    with sync_window(src, images) as (imgs, _pin):
        _changed, pre, post = imgs.get(since, cur)
        batch = retract_assert(
            derive(pre), derive(post), dst.schema().fieldNames(), cur
        )
        merge_batch(dst, batch, batch_id=f"v{cur}", job_id=job_id)
    return MirrorResult(from_version=since, to_version=cur)


def sync_aggregate(
    src: LakeTable,
    dst: LakeTable,
    group_col: str,
    sum_cols: list[str] | None = None,
    count_col: str = "n_rows",
    job_id: str = "aggmirror",
    row_transform=None,
    images: WindowImages | None = None,
) -> MirrorResult:
    """Incrementally maintain a downstream AGGREGATE table
    (``group_col -> count + sums``) from an upstream MoR table's
    ``changes()`` — incremental view maintenance, never a full recompute.

    The changelog carries post-images only, so per sync window the delta
    is computed as (post-image − pre-image) of just the CHANGED keys:

    1. changed keys   = distinct keys in ``changes(since, cur)`` — O(changes);
    2. pre-images     = upstream read AT ``since``, pruned to the changed
       keys' buckets, semi-joined to the changed keys;
    3. post-images    = same read at ``cur``;
    4. signed union   (+1 post, −1 pre) group-aggregates to the per-group
       delta; groups whose count reaches 0 become deletes;
    5. current aggregate rows for the dirty groups come from ``dst``
       pruned to the dirty groups' buckets, and the adjusted rows merge
       back through the normal exactly-once manifest (cursor = the
       manifest itself, as in :func:`sync_mirror`).

    Every scan is bucket-pruned to the touched keys/groups — O(changed),
    not O(table), on both ends. Requires ``dst`` keyed by ``group_col``
    with a ``count_col`` LongType column plus one column per entry of
    ``sum_cols`` (same names as upstream, summed).

    ``row_transform`` optionally DERIVES the rows being aggregated from
    the upstream rows (applied identically to the pre- and post-image
    frames): a 1->N per-row expansion such as exploding a document into
    its tokens or bigrams. The maintained invariant becomes ``dst ==
    row_transform(full table).groupBy(group_col).agg(count, sums)``.
    The transform MUST be per-upstream-row independent (each output row
    derives from exactly one input row — per-key groupBys like a
    per-document term frequency are fine, cross-key aggregation is not),
    because it only ever sees the changed keys' images."""
    sum_cols = sum_cols or []
    since = last_synced_version(dst, job_id)
    cur = src.snapshot().version
    if cur <= since:
        return MirrorResult(from_version=since, to_version=since, skipped=True)
    cols = [group_col, *sum_cols]

    def _image(img: DataFrame, sign: int) -> DataFrame:
        if row_transform is not None:
            img = row_transform(img)
        return img.select(*cols, F.lit(sign).alias("_sign"))

    with sync_window(src, images) as (imgs, pin):
        # the (changed, pre/post image) frames are cached once per window
        # and shared with every other view syncing this upstream
        _changed, pre_img, post_img = imgs.get(since, cur)
        # pinned: one row per dirty group; consumed by the dst-bucket
        # collect and the adjustment join
        delta = pin(
            _image(post_img, 1)
            .unionByName(_image(pre_img, -1))
            .groupBy(group_col)
            .agg(
                F.sum("_sign").alias("_d_n"),
                *[
                    F.sum(F.col(c) * F.col("_sign")).alias(f"_d_{c}")
                    for c in sum_cols
                ],
            )
        )
        old = dst.read_for(delta, group_col).select(
            group_col,
            F.col(count_col).alias("_old_n"),
            *[F.col(c).alias(f"_old_{c}") for c in sum_cols],
        )
        merged = (
            delta.join(old, on=group_col, how="left")
            .select(
                group_col,
                (F.coalesce("_old_n", F.lit(0)) + F.col("_d_n")).alias(count_col),
                *[
                    (
                        F.coalesce(f"_old_{c}", F.lit(0))
                        + F.coalesce(f"_d_{c}", F.lit(0))
                    ).alias(c)
                    for c in sum_cols
                ],
            )
            .withColumn("seq", F.lit(cur).cast("long"))
            .withColumn(
                "op", F.when(F.col(count_col) <= 0, F.lit("d")).otherwise(F.lit("u"))
            )
        )
        merge_batch(dst, merged, batch_id=f"v{cur}", job_id=job_id)
    return MirrorResult(from_version=since, to_version=cur)
