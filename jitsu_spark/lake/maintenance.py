"""Table maintenance: time-chunk re-sync (W3), orphan-file vacuum,
manifest folding, snapshot expiry, and ``maintain``, the one in-stream
step that runs whichever of them the snapshot descriptor shows is due.

``overwrite_where`` re-expresses the reference's SyncStore delete-then-
reload of one time interval (semantics per /root/reference/server/
storages/postgres.go:165-221 and adapters/delete_condition.go:24-33 —
re-derived): replace every row matching a predicate with a fresh chunk, in
ONE atomic snapshot, idempotently (same chunk_id re-synced twice converges
to the same state). On Iceberg this is `INSERT OVERWRITE ... WHERE` /
dynamic partition overwrite; here it is a predicate-scoped CoW rewrite.

``vacuum`` deletes data files not referenced by any retained snapshot —
commit retries and killed jobs leave orphan commit-token dirs by design
(the atomic metadata swap, not the file write, is the commit point).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, replace

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from jitsu_spark.lake import metadata as md
from jitsu_spark.lake.table import BUCKET_COL, LakeTable
from jitsu_spark.typesys.align import alignment_columns


@dataclass
class OverwriteResult:
    version: int
    skipped: bool = False
    n_inserted: int = 0


def overwrite_where(
    table: LakeTable,
    replacement: DataFrame,
    predicate: Column,
    chunk_id: str | None = None,
    job_id: str = "sync",
    prune: tuple[str, str, str] | None = None,
    max_commit_retries: int = 5,
) -> OverwriteResult:
    """Atomically replace all rows matching ``predicate`` with
    ``replacement`` (which must itself satisfy the predicate's intent —
    not enforced). Idempotent per (job_id, chunk_id), also after
    ``compact_manifest`` folded integer chunk ids. Retries on commit
    conflict (re-snapshot + recompute), so concurrent chunk syncs — the
    reference's worker pool — interleave safely; size
    ``max_commit_retries`` to at least the number of racing writers.

    **File-level pruning** (the 100 TB path): the layout is hash-bucketed
    by key, so a time-chunk predicate touches every bucket — but NOT
    every file. With ``prune=(col, lo, hi)`` (bounds implied by the
    predicate: no row outside [lo, hi) can match) and a table that
    records ``write.stats.column`` per-file min/max, files whose stat
    range cannot intersect the chunk are KEPT in place — never read,
    never rewritten. Only intersecting files (and files without stats,
    conservatively) are scanned, filtered, and rewritten. A steady-state
    interval re-sync then costs O(chunk), not O(table). Falls back to
    the full rewrite when the table carries MoR delta files (compact
    first).
    """
    return md.retry_commit(
        lambda: _overwrite_where_once(
            table, replacement, predicate, chunk_id, job_id, prune
        ),
        attempts=max_commit_retries,
    )


def _overwrite_where_once(
    table: LakeTable,
    replacement: DataFrame,
    predicate: Column,
    chunk_id: str | None,
    job_id: str,
    prune: tuple[str, str, str] | None,
) -> OverwriteResult:
    snap = table.snapshot()
    if chunk_id is not None and md.is_committed(snap, job_id, chunk_id):
        return OverwriteResult(version=snap.version, skipped=True)
    key = snap.key_field
    plan, schema_json = md.evolve_schema(snap, replacement.schema)
    target = plan.target

    has_delta = any(
        e.get("kind", "base") == "delta"
        for es in snap.files.values()
        for e in es
    )
    kept: dict[str, list[dict]] = {}
    if prune is not None and not has_delta:
        col, lo, hi = prune
        overlap: list[dict] = []
        for b, entries in snap.files.items():
            for e in entries:
                st = (e.get("stats") or {}).get(col)
                if st is not None and (st[1] < lo or st[0] >= hi):
                    kept.setdefault(b, []).append(e)
                else:
                    overlap.append(e)
        existing = table.scan_files(overlap, snap, target)
    else:
        existing = table.read(snap=snap)
        existing = existing.select(*alignment_columns(existing, target))
    survivors = existing.filter(~predicate)
    # r7: ONE Spark action per chunk (2 jobs under AQE, one per query
    # stage; pinned in tests/test_plans.py). The old shape ran
    # `fresh.count()` and then the write, each executing the full
    # replacement pipeline (for an interval sync that is the whole report
    # aggregation, twice per interval — the guide-§1.4 count trap). The
    # inserted-row count now rides the write job as an Observation on the
    # replacement branch.
    # Empty-branch safety was verified empirically on this Spark version
    # for exactly this plan shape (observe -> union -> repartition ->
    # parquet write): a runtime-empty AND a statically-empty replacement
    # both deliver {'n': 0} rather than losing the CollectMetrics node
    # (the hazard the merge kernel documents for AQE-emptied branches).
    from pyspark.sql import Observation

    obs = Observation()
    # The replacement rows are tagged and counted ABOVE the repartition
    # exchange (self-review r7): a CollectMetrics below a shuffle is an
    # accumulator in a map stage, and re-executed map tasks (fetch
    # failure on a cluster) would double-count; above the exchange the
    # count rides the result stage, whose successful-task updates Spark
    # applies exactly once (speculative execution is the remaining
    # caveat; LakeTable._observed refuses the read under it). The tag is
    # dropped before the write so the file schema is unchanged; its name
    # is derived to never collide with a real table column (withColumn
    # REPLACES same-named columns).
    tag = "_ow_fresh"
    taken = {f.name for f in target.fields}
    while tag in taken:
        tag += "_"
    fresh = replacement.select(
        *alignment_columns(replacement, target)
    ).withColumn(tag, F.lit(True))
    # Any bucket may receive replacement rows, so the bucket shuffle is
    # sized by n_buckets; LakeTable._by_bucket caps it at one task per
    # core and keeps one file per written bucket.
    tagged = (
        survivors.withColumn(tag, F.lit(False))
        .unionByName(fresh)
        .withColumn(BUCKET_COL, table.bucket_expr(F.col(key), snap=snap))
    )
    result = (
        table._by_bucket(tagged, snap.n_buckets)
        .observe(
            obs,
            F.coalesce(
                F.sum(F.when(F.col(tag), 1)), F.lit(0)
            ).alias("n"),
        )
        .drop(tag)
    )
    new_files = table._write_files(result)
    n_inserted = int(table._observed(obs)["n"])
    files = md.add_files(kept, table.build_entries(
        new_files, md.schema_id(snap, schema_json), snap
    ))
    new_snap = md.next_snapshot(
        snap, "overwrite_where", files,
        commit_key=md.commit_key(job_id, chunk_id),
        schema_json=schema_json,
        job_id=job_id,
        chunk_id=chunk_id,
        n_inserted=n_inserted,
    )
    md.commit_snapshot(table.root, new_snap)
    return OverwriteResult(version=new_snap.version, n_inserted=n_inserted)


def vacuum(
    table: LakeTable, keep_last: int = 1, min_age_s: float = 300.0
) -> list[str]:
    """Delete data files referenced by NO retained snapshot (the newest
    ``keep_last`` snapshots are retained; older snapshots lose time-travel).
    Orphans younger than ``min_age_s`` are kept: an in-flight concurrent
    commit writes its parquet files BEFORE the atomic metadata swap, so a
    zero grace period could delete just-written files of an unpublished
    snapshot. The 300 s default is conservative; pass 0 only on a
    single-writer, quiesced table. Returns deleted relative paths."""
    current = md.current_version(table.root)
    retained = range(max(0, current - keep_last + 1), current + 1)
    referenced: set[str] = set()
    for v in retained:
        snap = table.snapshot(v)
        for es in snap.files.values():
            referenced.update(e["path"] for e in es)
    deleted: list[str] = []
    data_root = os.path.join(table.root, "data")
    now = time.time()
    for dirpath, _, filenames in os.walk(data_root):
        for fn in filenames:
            full = os.path.join(dirpath, fn)
            rel = os.path.relpath(full, table.root)
            if rel in referenced or not fn.endswith(".parquet"):
                continue
            if now - os.path.getmtime(full) < min_age_s:
                continue
            os.unlink(full)
            deleted.append(rel)
    # remove empty commit dirs
    for dirpath, dirnames, filenames in list(os.walk(data_root, topdown=False)):
        if dirpath != data_root and not dirnames and not filenames:
            os.rmdir(dirpath)
    return deleted


def expire_snapshots(table: LakeTable, keep_last: int = 100) -> list[int]:
    """Delete version DESCRIPTORS older than the newest ``keep_last``
    (Iceberg expire_snapshots analog). ``compact_manifest`` bounds the
    SIZE of the current snapshot; this bounds the COUNT of v{N}.json
    files, which otherwise grows one per commit forever — 10^6 metadata
    files after 10^6 micro-batches.

    Contract: time travel (``snapshot(v)``) and ``changes()`` ranges
    reaching below the horizon raise afterwards — sync downstream
    consumers first (consume-before-expire, the same contract as data
    compaction and lineage archiving). ``full_history`` is unaffected
    (lineage lives in the archive + current snapshot, not in old
    descriptors).

    Safety: never expires at or above the on-disk hint, so the reader
    roll-forward chain (hint -> v{hint+1} -> ...) stays intact even if
    the hint is stale from a crashed writer. ``keep_last`` must be >= 2:
    with ``keep_last=1`` the horizon equals ``current``, so a concurrent
    reader that just resolved the previous version as current would lose
    its descriptor mid-read (in-stream expiry should keep the window
    comfortably above the number of commits a reader may lag). Temp
    descriptors of versions below the horizon, left by killed writers,
    are swept too. Returns expired versions."""
    if keep_last < 2:
        raise ValueError(
            "keep_last must be >= 2 (a concurrent reader may lag the "
            "current version by at least one commit)"
        )
    current = md.current_version(table.root)
    try:
        with open(os.path.join(table.root, "metadata", "version-hint.txt")) as f:
            hint = int(f.read().strip())
    except (OSError, ValueError):
        hint = current
    horizon = min(current - keep_last + 1, hint)
    # enumerate what actually exists (O(retained + expirable) per call)
    # instead of probing every version number since 0 (O(stream age))
    expired = sorted(v for v in md.versions(table.root) if v < horizon)
    for v in expired:
        os.unlink(os.path.join(table.root, "metadata", f"v{v}.json"))
    md.sweep_temp_descriptors(table.root, horizon)
    return expired


def expire_snapshots_safe(
    table: LakeTable,
    consumers: list[tuple[LakeTable, str]],
    keep_last: int = 100,
) -> list[int]:
    """Consumer-aware :func:`expire_snapshots`: floor the horizon at every
    registered downstream cursor (a mirror/aggregate's
    ``last_synced_version``), so a lagging consumer's next ``changes()``
    window is never expired out from under it. ``consumers`` is a list of
    ``(destination_table, job_id)`` pairs — the same identifiers their
    ``sync_mirror``/``sync_aggregate`` calls use."""
    from jitsu_spark.lake.mirror import last_synced_version

    current = md.current_version(table.root)
    floor = min(
        (last_synced_version(dst, job_id) for dst, job_id in consumers),
        default=current,
    )
    # horizon = current - keep_last + 1 must stay <= floor
    return expire_snapshots(
        table, keep_last=max(keep_last, current - floor + 1)
    )


#: what compact_manifest keeps: lineage entries, explicit ids per job
KEEP_LINEAGE = 200
KEEP_RECENT_BATCHES = 50


@dataclass
class ManifestCompactResult:
    version: int
    skipped: bool = False
    committed_before: int = 0
    committed_after: int = 0
    lineage_archived: int = 0


def compact_manifest(
    table: LakeTable,
    keep_lineage: int = KEEP_LINEAGE,
    keep_recent_batches: int = KEEP_RECENT_BATCHES,
) -> ManifestCompactResult:
    """Bound snapshot-metadata growth — the silent O(stream-age) cost of a
    long-lived CDC table.

    Every merge appends one ``job/batch`` manifest entry and one lineage
    record to the snapshot, and every commit rewrites the whole snapshot
    JSON: after 10^6 micro-batches each commit is rewriting megabytes of
    history, forever. This op:

    1. **Folds contiguous integer batch-id prefixes per job into a
       high-watermark marker** ``job/<=N`` (streaming epoch ids ARE
       contiguous from 0). Exactly-once is preserved: ``is_committed``
       treats the marker as membership for every id ≤ N, and the fold
       only covers a PROVEN contiguous prefix — a gap stops it, so an
       undelivered id can never be wrongly skipped. The most recent
       ``keep_recent_batches`` ids stay explicit for debuggability.
    2. **Archives lineage older than ``keep_lineage`` entries** to
       ``metadata/lineage-archive.jsonl`` (append-only; ``history()``
       still returns the full record). ``changes()`` ranges that reach
       into archived lineage raise — sync downstream consumers first,
       the same consume-before-compact contract as data compaction.

    Retries on commit conflict (:func:`maintain` calls this inline in
    foreachBatch while concurrent writers may be committing), recomputing
    the fold from a fresh snapshot. A retry may re-append already-archived
    lineage lines; ``full_history`` de-duplicates them by version.
    """
    return md.retry_commit(
        lambda: _compact_manifest_once(table, keep_lineage, keep_recent_batches)
    )


def _compact_manifest_once(
    table: LakeTable,
    keep_lineage: int,
    keep_recent_batches: int,
) -> ManifestCompactResult:
    snap = table.snapshot()
    new_committed, _ = _fold_committed(snap.committed, keep_recent_batches)
    n_archive = max(0, len(snap.lineage) - keep_lineage)
    archived, kept = snap.lineage[:n_archive], snap.lineage[n_archive:]
    res = ManifestCompactResult(
        version=snap.version, skipped=True,
        committed_before=len(snap.committed),
        committed_after=len(new_committed),
        lineage_archived=n_archive,
    )
    if len(new_committed) == len(snap.committed) and not archived:
        return res
    import json as _json

    with open(_archive_path(table), "a") as f:
        for e in archived:
            f.write(_json.dumps(e) + "\n")
    new_snap = md.next_snapshot(
        replace(snap, committed=new_committed, lineage=kept),
        "manifest_compact", snap.files,
        archived=n_archive,
        committed_folded=len(snap.committed) - len(new_committed),
    )
    md.commit_snapshot(table.root, new_snap)
    return replace(res, version=new_snap.version, skipped=False)


def _fold_committed(
    committed: list[str], keep_recent_batches: int
) -> tuple[list[str], int]:
    """The manifest with each job's contiguous integer batch-id prefix,
    bar the newest ``keep_recent_batches``, folded into a ``job/<=N``
    marker; and how many explicit ids the markers absorbed."""
    passthrough: list[str] = []
    per_job: dict[str, set[int]] = {}
    markers: dict[str, int] = {}
    for c in committed:
        job, sep, bid = c.rpartition("/")
        if not sep:
            passthrough.append(c)
            continue
        if bid.startswith("<="):
            try:
                markers[job] = max(markers.get(job, -1), int(bid[2:]))
                continue
            except ValueError:
                passthrough.append(c)
                continue
        try:
            per_job.setdefault(job, set()).add(int(bid))
        except ValueError:
            passthrough.append(c)
    new_committed = list(passthrough)
    folded = 0
    for job, ids in sorted(per_job.items()):
        hwm = markers.pop(job, -1)
        n = hwm
        while (n + 1) in ids:
            n += 1
        marker_hwm = max(n - keep_recent_batches, hwm)
        folded += marker_hwm - hwm
        if marker_hwm >= 0:
            new_committed.append(f"{job}/<={marker_hwm}")
        new_committed.extend(
            f"{job}/{i}" for i in sorted(ids) if i > marker_hwm
        )
    # markers for jobs with no remaining explicit ids survive as-is
    new_committed.extend(f"{job}/<={n}" for job, n in sorted(markers.items()))
    return new_committed, folded


def _archive_path(table: LakeTable) -> str:
    return os.path.join(table.root, "metadata", "lineage-archive.jsonl")


def full_history(table: LakeTable) -> list[dict]:
    """Complete lineage: archived entries + the snapshot's live tail.

    De-duplicates twice-archived entries by version — a crashed or
    conflict-retried compaction appends the same lines again (the archive
    write happens before the commit on purpose: archiving after would lose
    entries if the process dies between commit and append, since the new
    snapshot has already dropped them)."""
    import json as _json

    entries: list[dict] = []
    path = _archive_path(table)
    if os.path.exists(path):
        with open(path) as f:
            entries = [_json.loads(line) for line in f]
    out: list[dict] = []
    seen: set[int] = set()
    for e in entries + table.snapshot().lineage:
        if e["version"] not in seen:
            seen.add(e["version"])
            out.append(e)
    return out


def maintain(
    table: LakeTable,
    max_files_per_bucket: int,
    keep_snapshots: int | None = None,
) -> None:
    """The one in-stream maintenance step, run after each applied batch
    once its ``changes()`` consumers have synced (consume-before-compact).
    Each step fires on what the snapshot descriptor shows, so a healthy
    table costs one descriptor load and no Spark job: ``compact`` when a
    bucket holds over ``max_files_per_bucket`` files (it folds only those
    buckets); ``compact_manifest`` once its contiguous ids or its lineage
    reach twice what it keeps (one metadata commit per ~50 batches);
    ``expire_snapshots`` only when ``keep_snapshots`` is set."""
    snap = table.snapshot()
    if any(len(es) > max_files_per_bucket for es in snap.files.values()):
        table.compact(max_files_per_bucket=max_files_per_bucket)
    _, folded = _fold_committed(snap.committed, KEEP_RECENT_BATCHES)
    if folded >= KEEP_RECENT_BATCHES or len(snap.lineage) >= 2 * KEEP_LINEAGE:
        compact_manifest(table)
    if keep_snapshots is not None:
        # one maintain call can append up to TWO maintenance commits
        # (compact + manifest_compact) AFTER the merge a post_commit
        # consumer just synced to — its next window's pre-image read
        # needs that merge's snapshot descriptor, so the floor is
        # merge+compact+manifest_compact+headroom, not the plain-reader 2
        expire_snapshots(table, keep_last=max(keep_snapshots, 4))
