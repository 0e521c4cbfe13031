"""overwrite_where (W3 time-chunk re-sync) + vacuum (orphan cleanup)."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from jitsu_spark.lake import LakeTable
from jitsu_spark.lake.maintenance import overwrite_where, vacuum
from jitsu_spark.lake.merge import merge_batch
from tests.test_merge import TARGET_SCHEMA, batch, ev, make_table


def _day(d):
    return dt.datetime(2024, 1, d)


def test_overwrite_where_replaces_chunk_idempotently(spark, tmpdir_path):
    t = make_table(spark, tmpdir_path)
    merge_batch(
        t,
        batch(
            spark,
            [
                ev(1, "i", "a", [1], ts=_day(1)),
                ev(2, "i", "b", [2], ts=_day(1)),
                ev(3, "i", "c", [3], ts=_day(2)),
            ],
        ),
        batch_id=0,
    )
    # re-sync day 1 with a corrected chunk: b fixed, a gone, d new
    fresh = batch(
        spark,
        [ev(10, "i", "b", [2, 2], ts=_day(1)), ev(11, "i", "d", [4], ts=_day(1))],
    ).drop("seq", "op")
    pred = F.col("ts") < F.lit(_day(2))
    r1 = overwrite_where(t, fresh, pred, chunk_id="2024-01-01")
    rows = {r["doc_id"]: r["tokens"] for r in t.read().collect()}
    assert rows == {"b": [2, 2], "c": [3], "d": [4]}
    # idempotent: same chunk_id again is a no-op
    r2 = overwrite_where(t, fresh, pred, chunk_id="2024-01-01")
    assert r2.skipped and t.snapshot().version == r1.version
    # a different chunk_id re-applies (same final state — convergent)
    overwrite_where(t, fresh, pred, chunk_id="2024-01-01-retry")
    rows2 = {r["doc_id"]: r["tokens"] for r in t.read().collect()}
    assert rows2 == rows


def test_observed_counts_refuse_speculation(spark, tmpdir_path, monkeypatch):
    """The observed row counts of overwrite_where and of the MoR merge
    are exact only without speculative task copies: with
    spark.speculation on, both refuse and publish no snapshot."""
    cow = make_table(spark, tmpdir_path)
    mor = LakeTable.create(
        spark, os.path.join(tmpdir_path, "mor"), TARGET_SCHEMA, "doc_id",
        n_buckets=4, properties={"write.mode": "mor"},
    )
    rows = batch(spark, [ev(1, "i", "a", [1]), ev(2, "i", "b", [2])])
    merge_batch(cow, rows, batch_id=0)
    real_get = spark.conf.get

    def conf_get(key, *default):
        if key == "spark.speculation":
            return "true"
        return real_get(key, *default)

    monkeypatch.setattr(spark.conf, "get", conf_get)
    before = (cow.snapshot().version, mor.snapshot().version)
    with pytest.raises(ValueError, match="spark.speculation"):
        overwrite_where(
            cow, rows.drop("seq", "op"), F.col("doc_id") == "a", chunk_id="c0"
        )
    with pytest.raises(ValueError, match="spark.speculation"):
        merge_batch(mor, rows, batch_id=0)
    assert (cow.snapshot().version, mor.snapshot().version) == before


def test_overwrite_where_idempotent_after_manifest_fold(spark, tmpdir_path):
    """compact_manifest folds contiguous integer chunk ids into a
    ``job/<=N`` marker; re-running a folded chunk must still be a no-op
    (idempotent per (job_id, chunk_id)), even with a different
    replacement."""
    from jitsu_spark.lake.maintenance import compact_manifest

    t = make_table(spark, tmpdir_path, n_buckets=4)

    def chunk(d):
        return F.col("ts") >= F.lit(_day(d)), F.col("ts") < F.lit(_day(d + 1))

    for i in range(6):
        lo, hi = chunk(i + 1)
        fresh = batch(spark, [ev(i, "i", f"d{i}", [i], ts=_day(i + 1))])
        overwrite_where(t, fresh.drop("seq", "op"), lo & hi, chunk_id=str(i))
    compact_manifest(t, keep_recent_batches=1)
    snap = t.snapshot()
    assert "sync/<=4" in snap.committed and "sync/0" not in snap.committed
    rows = {r["doc_id"]: r["tokens"] for r in t.read().collect()}

    lo, hi = chunk(1)
    other = batch(spark, [ev(9, "i", "zz", [9, 9], ts=_day(1))])
    res = overwrite_where(t, other.drop("seq", "op"), lo & hi, chunk_id="0")
    assert res.skipped and t.snapshot().version == snap.version
    assert {r["doc_id"]: r["tokens"] for r in t.read().collect()} == rows


def test_vacuum_removes_orphans_keeps_referenced(spark, tmpdir_path):
    t = make_table(spark, tmpdir_path)
    for i in range(3):
        merge_batch(t, batch(spark, [ev(i, "i", f"k{i}", [i])]), batch_id=i)
    before = {r["doc_id"]: r["tokens"] for r in t.read().collect()}
    # plant an orphan file (failed-commit leftover)
    orphan_dir = os.path.join(t.root, "data", "c-orphan")
    os.makedirs(orphan_dir)
    orphan = os.path.join(orphan_dir, "part-dead.parquet")
    with open(orphan, "wb") as f:
        f.write(b"not a real parquet")
    # default grace period protects just-written files (a concurrent
    # in-flight commit writes parquet BEFORE the atomic metadata swap)
    assert vacuum(t, keep_last=1) == []
    assert os.path.exists(orphan)
    # min_age_s=0 is the single-writer quiesced-table escape hatch
    deleted = vacuum(t, keep_last=1, min_age_s=0)
    assert any("part-dead.parquet" in d for d in deleted)
    # older snapshots' superseded files are also gone, current state intact
    after = {r["doc_id"]: r["tokens"] for r in t.read().collect()}
    assert after == before
    # time travel beyond keep_last is sacrificed (files removed)
    assert not os.path.exists(orphan)


def test_crashed_commit_hint_rolls_forward(spark, tmpdir_path):
    """A writer killed between the publish of v{N}.json and the hint
    rename must not wedge the table: current_version detects the complete
    snapshot ahead of the hint and rolls forward, so the next commit gets
    version N+1 instead of CommitConflict forever."""
    from jitsu_spark.lake import metadata as md

    t = make_table(spark, tmpdir_path)
    merge_batch(t, batch(spark, [ev(1, "i", "a", [1])]), batch_id=0)
    v = md.current_version(t.root)
    # simulate the crash: complete v{N+1}.json exists, hint still at N
    snap = t.snapshot()
    snap.version = v + 1
    snap.parent = v
    with open(os.path.join(t.root, "metadata", f"v{v + 1}.json"), "w") as f:
        f.write(snap.to_json())
    assert md.current_version(t.root) == v + 1  # rolled forward
    # and the table accepts new commits on top of the orphaned version
    merge_batch(t, batch(spark, [ev(2, "u", "a", [2])]), batch_id=1)
    assert t.snapshot().version == v + 2
    assert t.read().collect()[0]["tokens"] == [2]
    # a writer killed mid-descriptor publishes nothing: no roll-forward
    from tests.test_commit_crash import kill_commit

    kill_commit(t.root, "mid_descriptor")
    assert md.current_version(t.root) == v + 2


def test_overwrite_where_file_level_pruning(spark, tmpdir_path):
    """With write.stats.column, a time-chunk overwrite keeps files whose
    per-file ts range cannot intersect the chunk — identical entries, no
    rewrite — and only replaces intersecting files. O(chunk), not
    O(table), on the hash-bucketed layout."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from jitsu_spark.lake.merge import append_batch

    schema = T.StructType(
        [
            T.StructField("rid", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "tbl"), schema, "rid",
        n_buckets=4, properties={"write.stats.column": "ts"},
    )

    def month_df(month, val):
        rows = [(f"{month}-r{i}", f"{month}-10 00:00:0{i}", val) for i in range(4)]
        return spark.createDataFrame(rows, ["rid", "ts_s", "v"]).select(
            "rid", F.col("ts_s").cast("timestamp").alias("ts"), "v"
        )

    for m, month in enumerate(["2024-01", "2024-02", "2024-03"]):
        append_batch(t, month_df(month, 1.0 + m), batch_id=m)

    before = t.snapshot()
    assert all(
        "stats" in e for es in before.files.values() for e in es
    ), "per-file ts stats must be recorded"
    feb_lo, feb_hi = "2024-02-01 00:00:00", "2024-03-01 00:00:00"

    def split_paths(snap):
        keep, touch = set(), set()
        for es in snap.files.values():
            for e in es:
                lo, hi = e["stats"]["ts"]
                (keep if hi < feb_lo or lo >= feb_hi else touch).add(e["path"])
        return keep, touch

    keep_before, touch_before = split_paths(before)
    assert keep_before and touch_before

    pred = (F.col("ts") >= F.lit(feb_lo).cast("timestamp")) & (
        F.col("ts") < F.lit(feb_hi).cast("timestamp")
    )
    overwrite_where(
        t, month_df("2024-02", 99.0), pred, chunk_id="feb-v2",
        prune=("ts", feb_lo, feb_hi),
    )
    after = t.snapshot()
    paths_after = {e["path"] for es in after.files.values() for e in es}
    # non-intersecting files survive AS-IS; intersecting ones are gone
    assert keep_before <= paths_after
    assert not (touch_before & paths_after)
    rows = {r["rid"]: r["v"] for r in t.read().collect()}
    assert len(rows) == 12
    assert all(v == 99.0 for k, v in rows.items() if k.startswith("2024-02"))
    assert all(v == 1.0 for k, v in rows.items() if k.startswith("2024-01"))
    assert all(v == 3.0 for k, v in rows.items() if k.startswith("2024-03"))


def test_hint_repair_never_regresses_newer_hint(spark, tmpdir_path):
    """The opportunistic hint repair must not overwrite a hint a concurrent
    commit advanced past the repairer's rolled-forward value (ADVICE r2:
    the unguarded os.replace made the hint non-monotone)."""
    from jitsu_spark.lake import metadata as md

    t = make_table(spark, tmpdir_path)
    merge_batch(t, batch(spark, [ev(1, "i", "a", [1])]), batch_id=0)
    hint_file = os.path.join(t.root, "metadata", "version-hint.txt")
    with open(hint_file) as f:
        now = int(f.read().strip())
    # a concurrent commit has already advanced the hint to now+5 ...
    with open(hint_file, "w") as f:
        f.write(str(now + 5))
    # ... so a repairer that read hint=now and rolled forward to now+1
    # must lose the race and leave the newer hint intact
    md._repair_hint(t.root, read_hint=now, rolled_v=now + 1)
    with open(hint_file) as f:
        assert int(f.read().strip()) == now + 5
    # the normal case (hint unchanged since read) still repairs
    with open(hint_file, "w") as f:
        f.write(str(now))
    md._repair_hint(t.root, read_hint=now, rolled_v=now + 1)
    with open(hint_file) as f:
        assert int(f.read().strip()) == now + 1
    # and no tmp litter is left behind either way
    assert not [
        p for p in os.listdir(os.path.join(t.root, "metadata"))
        if ".tmp." in p
    ]


def test_rebucket_grows_bucket_count_preserving_state(spark, tmpdir_path):
    """Bucket-count evolution: state identical before/after, new merges
    hash against the grown count and prune correctly, exactly-once
    manifest carries over, and changes() ranges crossing the resize raise
    (consume-before-resize, like compaction)."""
    import pytest

    from jitsu_spark.lake import LakeTable

    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "rb"), TARGET_SCHEMA, "doc_id",
        n_buckets=4, properties={"write.mode": "mor"},
    )
    merge_batch(
        t, batch(spark, [ev(i, "i", f"doc{i}", [i]) for i in range(40)]),
        batch_id=0,
    )
    merge_batch(t, batch(spark, [ev(100, "u", "doc0", [99])]), batch_id=1)
    before = {r["doc_id"]: r["tokens"] for r in t.read().collect()}
    v = t.snapshot().version

    res = t.rebucket(factor=4)
    assert res.version == v + 1
    snap = t.snapshot()
    assert snap.n_buckets == 16
    # every file entry is base (deltas folded) and in a valid new bucket
    assert all(
        e.get("kind", "base") == "base"
        for es in snap.files.values() for e in es
    )
    assert set(map(int, snap.files)) <= set(range(16))
    assert {r["doc_id"]: r["tokens"] for r in t.read().collect()} == before

    # bucket invariant: a single-bucket read returns exactly the keys that
    # hash there under the NEW count
    got_b = {r["doc_id"] for r in t.read(buckets=[3]).collect()}
    expect_b = {
        r["doc_id"]
        for r in t.read().withColumn(
            "_b", t.bucket_expr(F.col("doc_id"))
        ).filter("_b = 3").collect()
    }
    assert got_b == expect_b

    # exactly-once continuity: the pre-resize batch id still skips
    r = merge_batch(t, batch(spark, [ev(999, "u", "doc1", [1])]), batch_id=1)
    assert r.skipped
    # and new merges against the grown layout work + state stays exact
    merge_batch(t, batch(spark, [ev(200, "u", "doc5", [55])]), batch_id=2)
    after = {r["doc_id"]: r["tokens"] for r in t.read().collect()}
    assert after["doc5"] == [55] and after["doc0"] == [99]

    # changes() across the resize is not reconstructible
    with pytest.raises(ValueError, match="rebucket|not a delta merge"):
        t.changes(since_version=v - 1)
    # fresh post-resize ranges work again
    got = {r["doc_id"] for r in t.changes(since_version=res.version).collect()}
    assert got == {"doc5"}


def test_compact_manifest_bounds_metadata_growth(spark, tmpdir_path):
    """Contiguous integer batch ids fold to a high-watermark marker with
    exactly-once preserved (replays of folded AND explicit ids skip; a
    GAP in the ids is never covered); lineage archives beyond the keep
    window with full_history() still complete; changes() into archived
    lineage raises."""
    import pytest

    from jitsu_spark.lake.maintenance import compact_manifest, full_history

    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "cm"), TARGET_SCHEMA, "doc_id",
        n_buckets=4, properties={"write.mode": "mor"},
    )
    # 12 contiguous batches 0..11, plus one out-of-band string chunk id
    for b in range(12):
        merge_batch(t, batch(spark, [ev(b, "i" if b == 0 else "u", "a", [b])]),
                    batch_id=b, job_id="s")
    merge_batch(t, batch(spark, [ev(100, "i", "z", [1])]),
                batch_id="chunk-x", job_id="resync")
    before_rows = {r["doc_id"]: r["tokens"] for r in t.read().collect()}

    res = compact_manifest(t, keep_lineage=5, keep_recent_batches=3)
    assert not res.skipped
    snap = t.snapshot()
    assert "s/<=8" in snap.committed                 # 11 - 3
    assert "s/9" in snap.committed and "s/11" in snap.committed
    assert "s/0" not in snap.committed               # folded
    assert "resync/chunk-x" in snap.committed        # strings untouched
    assert res.committed_after < res.committed_before
    assert len(snap.lineage) <= 5 + 1                # tail + compact entry

    # exactly-once across the fold: folded id, explicit id, string id
    assert merge_batch(t, batch(spark, [ev(999, "u", "a", [0])]),
                       batch_id=2, job_id="s").skipped
    assert merge_batch(t, batch(spark, [ev(999, "u", "a", [0])]),
                       batch_id=10, job_id="s").skipped
    assert merge_batch(t, batch(spark, [ev(999, "u", "z", [0])]),
                       batch_id="chunk-x", job_id="resync").skipped
    assert {r["doc_id"]: r["tokens"] for r in t.read().collect()} == before_rows

    # a NEW batch id beyond the watermark still applies
    merge_batch(t, batch(spark, [ev(200, "u", "a", [42])]),
                batch_id=12, job_id="s")
    assert t.read().filter("doc_id = 'a'").collect()[0]["tokens"] == [42]

    # full_history is complete and ordered despite archiving
    hist = full_history(t)
    versions = [e["version"] for e in hist if "version" in e]
    assert versions == sorted(versions)
    assert len(hist) >= 14

    # changes() into the archived range raises; fresh range works
    with pytest.raises(ValueError, match="archived"):
        t.changes(since_version=1)
    v = t.snapshot().version
    merge_batch(t, batch(spark, [ev(300, "u", "a", [7])]),
                batch_id=13, job_id="s")
    got = {r["doc_id"] for r in t.changes(since_version=v).collect()}
    assert got == {"a"}


def test_compact_manifest_never_covers_gaps(spark, tmpdir_path):
    """A missing batch id stops the fold: ids {0,1,2,5,6} fold only <=2
    (minus the recent tail), so a late delivery of 3 or 4 still applies."""
    from jitsu_spark.lake.maintenance import compact_manifest

    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "gap"), TARGET_SCHEMA, "doc_id",
        n_buckets=4,
    )
    for b in [0, 1, 2, 5, 6]:
        merge_batch(t, batch(spark, [ev(b, "i", f"d{b}", [b])]),
                    batch_id=b, job_id="g")
    compact_manifest(t, keep_recent_batches=0)
    snap = t.snapshot()
    assert "g/<=2" in snap.committed
    assert "g/5" in snap.committed and "g/6" in snap.committed
    # the gap ids were never covered: they still apply
    r = merge_batch(t, batch(spark, [ev(3, "i", "d3", [3])]),
                    batch_id=3, job_id="g")
    assert not r.skipped
    assert "d3" in {x["doc_id"] for x in t.read().collect()}
    # idempotent second compaction is a no-op... after the new commit it
    # may fold again; just assert correctness of membership
    assert merge_batch(t, batch(spark, [ev(9, "u", "d0", [0])]),
                       batch_id=0, job_id="g").skipped


def test_maintenance_commits_retry_on_conflict(spark, tmpdir_path, monkeypatch):
    """A concurrent merge landing between a maintenance op's snapshot
    read and its commit must not raise out of the op (it runs inline in
    foreachBatch): compact_manifest and rebucket re-snapshot and retry,
    and the racing merge's manifest entry / rows survive the fold."""
    from jitsu_spark.lake import maintenance
    from jitsu_spark.lake.maintenance import compact_manifest, full_history
    from jitsu_spark.lake.merge import is_committed

    t = make_table(spark, tmpdir_path, n_buckets=4)
    for i in range(5):
        merge_batch(t, batch(spark, [ev(i, "i", f"k{i}", [i])]), batch_id=i)

    orig = maintenance.md.commit_snapshot
    fired = {"n": 0}
    racer = {"bid": 99, "doc": "racer"}

    def race(root, snap):
        # fire exactly once, only on the maintenance commit itself
        if (
            not fired["n"]
            and snap.lineage
            and snap.lineage[-1].get("kind") in ("manifest_compact", "rebucket")
        ):
            fired["n"] += 1
            merge_batch(
                t, batch(spark, [ev(racer["bid"], "i", racer["doc"], [9, 9])]),
                batch_id=racer["bid"], job_id="race",
            )
        return orig(root, snap)

    monkeypatch.setattr(maintenance.md, "commit_snapshot", race)
    res = compact_manifest(t, keep_lineage=2, keep_recent_batches=1)
    monkeypatch.setattr(maintenance.md, "commit_snapshot", orig)

    snap = t.snapshot()
    assert res.version == snap.version  # compaction committed after retry
    assert fired["n"] == 1
    # the racing merge survived the recomputed fold
    assert is_committed(snap, "race", 99)
    assert is_committed(snap, "stream", 3)  # folded or explicit, still member
    rows = {r["doc_id"]: r["tokens"] for r in t.read().collect()}
    assert rows["racer"] == [9, 9] and len(rows) == 6
    # a conflict-retried archive pass must not duplicate history entries
    hist = full_history(t)
    versions = [e["version"] for e in hist if "version" in e]
    assert len(versions) == len(set(versions))

    # same contract for rebucket
    fired["n"] = 0
    racer.update(bid=100, doc="racer2")
    monkeypatch.setattr(maintenance.md, "commit_snapshot", race)
    t.rebucket(factor=2)
    snap2 = t.snapshot()
    assert snap2.n_buckets == 8 and fired["n"] == 1
    assert is_committed(snap2, "race", 100)
    rows2 = {r["doc_id"]: r["tokens"] for r in t.read().collect()}
    assert rows2 == {**rows, "racer2": [9, 9]}


def test_expire_snapshots_bounds_metadata(spark, tmpdir_path):
    """Version-descriptor expiry: metadata file count is bounded, the
    current read path and future commits survive, expired versions lose
    time travel, and a stale hint floors the horizon (roll-forward chain
    never breaks)."""
    from jitsu_spark.lake.maintenance import expire_snapshots

    t = make_table(spark, tmpdir_path, n_buckets=4)
    for i in range(8):
        merge_batch(t, batch(spark, [ev(i, "i", f"k{i}", [i])]), batch_id=i)
    assert t.snapshot().version == 8

    expired = expire_snapshots(t, keep_last=3)
    assert expired == list(range(6))  # v0..v5 gone; v6,v7,v8 retained
    md_dir = os.path.join(t.root, "metadata")
    vfiles = sorted(
        f for f in os.listdir(md_dir)
        if f.endswith(".json") or f == "version-hint.txt"
    )
    assert vfiles == ["v6.json", "v7.json", "v8.json", "version-hint.txt"]

    # live read + time travel inside the horizon still work
    assert t.read().count() == 8
    assert t.snapshot(6).version == 6
    # beyond the horizon: gone
    try:
        t.snapshot(2)
        raise AssertionError("expected expired snapshot to be unreadable")
    except FileNotFoundError:
        pass

    # commits continue normally after expiry
    merge_batch(t, batch(spark, [ev(99, "i", "k99", [9])]), batch_id=99)
    assert t.snapshot().version == 9 and t.read().count() == 9

    # stale-hint safety: wind the hint back, expire aggressively. The
    # expiry's current_version() call first repairs the hint by rolling
    # forward (so expiring up to v8 is safe — the chain restarts at the
    # repaired hint); had the repair failed, the horizon would floor at
    # the stale hint instead. Either way the chain stays intact.
    hint_path = os.path.join(md_dir, "version-hint.txt")
    with open(hint_path, "w") as f:
        f.write("7")
    expired2 = expire_snapshots(t, keep_last=2)
    with open(hint_path) as f:
        hint_now = int(f.read().strip())
    # horizon = min(current - keep_last + 1, hint) = min(8, repaired hint)
    assert expired2 == list(range(6, min(8, hint_now)))
    # keep_last=1 is rejected outright: a concurrent reader may lag by one
    try:
        expire_snapshots(t, keep_last=1)
        raise AssertionError("expected keep_last=1 to be rejected")
    except ValueError:
        pass
    assert t.snapshot().version == 9
    assert t.read().count() == 9


def test_expire_snapshots_safe_respects_consumer_cursors(spark, tmpdir_path):
    """Consumer-aware expiry floors the horizon at the laggiest mirror's
    sync cursor: its next changes() window survives, and once it catches
    up the old descriptors become expirable."""
    from pyspark.sql import types as T

    from jitsu_spark.lake import sync_mirror
    from jitsu_spark.lake.maintenance import expire_snapshots_safe

    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "up"), TARGET_SCHEMA, "doc_id",
        n_buckets=4, properties={"write.mode": "mor"},
    )
    dst = LakeTable.create(
        spark, os.path.join(tmpdir_path, "mirror"), TARGET_SCHEMA,
        "doc_id", n_buckets=4,
    )
    merge_batch(t, batch(spark, [ev(0, "i", "k0", [0])]), batch_id=0)
    sync_mirror(t, dst, job_id="m")  # cursor -> v1
    for i in range(1, 6):
        merge_batch(t, batch(spark, [ev(i, "i", f"k{i}", [i])]), batch_id=i)
    assert t.snapshot().version == 6

    # aggressive expiry request, but the mirror sits at v1: nothing below
    # the cursor's window may go
    expired = expire_snapshots_safe(t, [(dst, "m")], keep_last=2)
    assert expired == [0]  # v1..v6 all retained for the consumer
    # the lagging mirror can still catch up exactly
    sync_mirror(t, dst, job_id="m")
    assert {r["doc_id"] for r in dst.read().collect()} == {
        f"k{i}" for i in range(6)
    }
    # caught up (cursor -> v6): old descriptors now expirable
    expired2 = expire_snapshots_safe(t, [(dst, "m")], keep_last=2)
    assert expired2 == list(range(1, 5))  # v5+v6 retained (min window)
    assert t.read().count() == 6


def test_metadata_soak_1000_commits_bounded(spark, tmpdir_path):
    """Metadata soak (r4 VERDICT item): 10^3 commits with manifest
    compaction + snapshot expiry on cadence. Asserts the three
    boundedness properties a long-lived stream depends on:

    - on-disk descriptor count stays O(keep_last + cadence window), not
      O(stream age);
    - per-commit metadata work stays O(1) amortized: descriptor SIZE is
      bounded (committed manifest folds to a watermark, lineage archives)
      instead of growing linearly with 10^3 batches;
    - exactly-once survives folding: every applied batch id — sampled
      across the full range — still reads as committed;
    - a CONCURRENT READER hammering current_version()/load_snapshot()
      throughout (hint flock + roll-forward + expiry floor interplay)
      never observes an error.

    The commits are synthetic metadata commits (one manifest entry + one
    lineage row, exactly what a merge appends); Spark data jobs would
    only slow the soak without exercising any additional metadata path —
    the real-merge interplay is covered by
    test_stream_auto_compaction_bounds_files."""
    import threading

    from jitsu_spark.lake import metadata as md
    from jitsu_spark.lake.maintenance import compact_manifest, expire_snapshots
    from jitsu_spark.lake.merge import is_committed

    t = make_table(spark, tmpdir_path, n_buckets=4)
    md_dir = os.path.join(t.root, "metadata")

    reader_errors: list[Exception] = []
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            try:
                v = md.current_version(t.root)
                snap = md.load_snapshot(t.root, v)
                assert snap.version == v
            except Exception as e:  # noqa: BLE001 - collected for assert
                reader_errors.append(e)
                return

    th = threading.Thread(target=reader, daemon=True)
    th.start()

    N = 1000
    max_desc_bytes = 0
    for i in range(N):
        snap = t.snapshot()
        new = md.Snapshot(
            version=snap.version + 1,
            key_field=snap.key_field,
            n_buckets=snap.n_buckets,
            schema_json=snap.schema_json,
            schemas=snap.schemas,
            current_schema_id=snap.current_schema_id,
            files=snap.files,
            committed=snap.committed + [f"soak/{i}"],
            lineage=snap.lineage
            + [{"version": snap.version + 1, "kind": "merge", "batch_id": i}],
            properties=snap.properties,
            parent=snap.version,
        )
        md.commit_snapshot(t.root, new)
        max_desc_bytes = max(
            max_desc_bytes,
            os.path.getsize(os.path.join(md_dir, f"v{new.version}.json")),
        )
        if (i + 1) % 50 == 0:
            compact_manifest(t, keep_lineage=100, keep_recent_batches=25)
            expire_snapshots(t, keep_last=20)

    stop.set()
    th.join(10)
    assert not reader_errors, reader_errors[:3]

    # descriptor COUNT bounded: keep_last + one cadence window of commits
    # (+ compaction's own commits), nowhere near the 10^3 written
    vfiles = [
        f for f in os.listdir(md_dir)
        if f.startswith("v") and f.endswith(".json")
    ]
    assert len(vfiles) <= 20 + 50 + 5, len(vfiles)

    # descriptor SIZE bounded: the manifest folded + lineage archived on
    # cadence, so no descriptor ever approached O(N) entries. Generous
    # ceiling: ~175 explicit manifest ids + ~150 lineage rows max between
    # compactions, far under even a conservative 100 KB.
    assert max_desc_bytes < 100_000, max_desc_bytes

    cur = t.snapshot()
    assert len(cur.committed) <= 1 + 25 + 50 + 2, len(cur.committed)
    assert len(cur.lineage) <= 100 + 50 + 2, len(cur.lineage)

    # exactly-once after folding: every id ever applied still committed
    for k in (0, 1, 499, 500, 950, N - 1):
        assert is_committed(cur, "soak", k), k
    assert not is_committed(cur, "soak", N)

    # full lineage record survives in the archive + current snapshot
    from jitsu_spark.lake.maintenance import full_history

    hist_ids = {
        e.get("batch_id") for e in full_history(t) if e.get("kind") == "merge"
    }
    assert set(range(N)) <= hist_ids


def test_regressed_hint_below_expiry_horizon_self_heals(spark, tmpdir_path):
    """The r4 review's wedge scenario: a stalled hint repairer regresses
    the hint to a version whose descriptor expire_snapshots has already
    deleted. Readers must recover (scan for the newest complete
    descriptor) instead of failing forever on the missing file."""
    from jitsu_spark.lake import metadata as md
    from jitsu_spark.lake.maintenance import expire_snapshots

    t = make_table(spark, tmpdir_path, n_buckets=4)
    for i in range(6):
        merge_batch(t, batch(spark, [ev(i, "i", f"k{i}", [i])]), batch_id=i)
    expire_snapshots(t, keep_last=2)  # v5, v6 remain

    # stalled repairer wakes up and writes a long-dead hint value
    hint_path = os.path.join(t.root, "metadata", "version-hint.txt")
    with open(hint_path, "w") as f:
        f.write("2")

    assert md.current_version(t.root) == 6  # recovered, not FileNotFound
    assert t.read().count() == 6
    # and the table accepts new commits afterwards
    merge_batch(t, batch(spark, [ev(9, "i", "k9", [9])]), batch_id=9)
    assert t.snapshot().version == 7 and t.read().count() == 7


def test_changes_window_crosses_background_compaction(spark, tmpdir_path):
    """A fully-caught-up consumer whose next window merely STARTS before a
    background compact/rebucket must keep working (the steady regime of a
    continuously-compacted stream); a LAGGING consumer — an unconsumed
    merge folded by the compaction — must still raise. manifest_compact is
    transparent either way (metadata-only)."""
    import pytest

    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "cc"), TARGET_SCHEMA, "doc_id",
        n_buckets=4, properties={"write.mode": "mor"},
    )
    merge_batch(t, batch(spark, [ev(1, "i", "a", [1]), ev(2, "i", "b", [2])]),
                batch_id=0)
    merge_batch(t, batch(spark, [ev(3, "u", "a", [9])]), batch_id=1)
    v_synced = t.snapshot().version  # consumer cursor after full sync

    t.compact(max_files_per_bucket=1)  # background fold of fragged buckets
    assert any(e.get("kind") == "compact" for e in t.snapshot().lineage)
    assert max(len(es) for es in t.snapshot().files.values()) == 1
    merge_batch(t, batch(spark, [ev(4, "i", "c", [3])]), batch_id=2)

    # caught-up consumer: window (v_synced, cur] spans the compact — OK
    got = {
        (r["doc_id"], r["_change_op"])
        for r in t.changes(since_version=v_synced).collect()
    }
    assert got == {("c", "i")}

    # lagging consumer: merge v2 was folded by the compact — must raise
    with pytest.raises(ValueError, match="not-yet-consumed"):
        t.changes(since_version=v_synced - 1)

    # manifest_compact inside the window is transparent even when lagging
    from jitsu_spark.lake.maintenance import compact_manifest

    v2 = t.snapshot().version
    merge_batch(t, batch(spark, [ev(5, "u", "c", [7])]), batch_id=3)
    compact_manifest(t, keep_lineage=200, keep_recent_batches=50)
    merge_batch(t, batch(spark, [ev(6, "d", "b")]), batch_id=4)
    got = {
        (r["doc_id"], r["_change_op"])
        for r in t.changes(since_version=v2).collect()
    }
    assert got == {("c", "u"), ("b", "d")}


def test_mirror_sync_survives_in_stream_compaction(spark, tmpdir_path):
    """The combination that used to wedge: CdcStreamJob with
    in-stream maintenance + a post_commit mirror sync. post_commit fires
    BEFORE the compaction (cursor = the merge version), so every later
    sync window starts at a merge and only ever CROSSES fold commits —
    legal now, and the mirror stays exact."""
    from jitsu_spark.changelog import CHANGELOG_SCHEMA, changelog_df
    from jitsu_spark.lake.mirror import sync_mirror
    from jitsu_spark.streaming import CdcStreamJob

    log = changelog_df(spark, n_events=1200, n_docs=100, seed=23)
    src = os.path.join(tmpdir_path, "log")
    for i in range(4):
        log.filter(
            (F.col("seq") >= i * 300) & (F.col("seq") < (i + 1) * 300)
        ).coalesce(1).write.mode("append").parquet(src)

    table = LakeTable.create(
        spark, os.path.join(tmpdir_path, "tbl"), TARGET_SCHEMA, "doc_id",
        n_buckets=4, properties={"write.mode": "mor"},
    )
    mirror = LakeTable.create(
        spark, os.path.join(tmpdir_path, "mir"), TARGET_SCHEMA, "doc_id",
        n_buckets=4, properties={"write.mode": "mor"},
    )
    job = CdcStreamJob(
        table=table,
        source_dir=src,
        checkpoint_dir=os.path.join(tmpdir_path, "ckpt"),
        source_schema=CHANGELOG_SCHEMA,
        max_files_per_trigger=1,
        job_id="compmir",
        compact_max_files_per_bucket=1,  # fold at every 2nd file — worst case
        # keep=2 would expire the merge snapshot the mirror's next window
        # reads as its pre-image base (compact + manifest_compact commits
        # land after it) — the runner clamps to >= 4 for exactly this
        expire_snapshots_keep=2,
        post_commit=lambda bid: sync_mirror(table, mirror),
    )
    job.run_available_now(spark)
    assert any(e.get("kind") == "compact" for e in table.snapshot().lineage)
    up = {r["doc_id"]: r["tokens"] for r in table.read().collect()}
    mi = {r["doc_id"]: r["tokens"] for r in mirror.read().collect()}
    assert mi == up and len(up) > 0


def test_stream_maintenance_folds_only_buckets_over_threshold(
    spark, tmpdir_path
):
    """CdcStreamJob maintenance is triggered by the layout, not a batch
    count: with compact_max_files_per_bucket=D, post_commit (which runs
    after the merge and before maintenance) never sees a bucket holding
    more than D+1 files, and every compact commit folds exactly the
    buckets that were over D after the merge before it."""
    from jitsu_spark.changelog import (
        CHANGELOG_SCHEMA,
        assert_matches_oracle,
        changelog_df,
        dict_replay,
    )
    from jitsu_spark.streaming import CdcStreamJob

    D, n_batches, per = 2, 10, 8
    log = changelog_df(spark, n_events=n_batches * per, n_docs=40, seed=31)
    expected = dict_replay([r.asDict(recursive=True) for r in log.collect()])
    src = os.path.join(tmpdir_path, "log")
    for i in range(n_batches):
        log.filter(
            (F.col("seq") >= i * per) & (F.col("seq") < (i + 1) * per)
        ).coalesce(1).write.mode("append").parquet(src)

    table = LakeTable.create(
        spark, os.path.join(tmpdir_path, "tbl"), TARGET_SCHEMA, "doc_id",
        n_buckets=16, properties={"write.mode": "mor"},
    )
    counts: dict[int, dict[str, int]] = {}  # merge version -> files/bucket

    def check(batch_id):
        snap = table.snapshot()
        counts[snap.version] = {b: len(es) for b, es in snap.files.items()}
        assert max(counts[snap.version].values()) <= D + 1, counts

    CdcStreamJob(
        table=table,
        source_dir=src,
        checkpoint_dir=os.path.join(tmpdir_path, "ckpt"),
        source_schema=CHANGELOG_SCHEMA,
        max_files_per_trigger=1,
        job_id="maint",
        compact_max_files_per_bucket=D,
        post_commit=check,
    ).run_available_now(spark)
    assert len(counts) == n_batches
    assert_matches_oracle(table.read(), expected)

    folds = [e for e in table.history() if e["kind"] == "compact"]
    assert folds
    for e in folds:
        before = counts[e["version"] - 1]
        over = sorted(b for b, n in before.items() if n > D)
        assert sorted(e["buckets"]) == over, (e, before)
        assert len(over) < len(before)  # the healthy buckets stay put


def test_maintain_soak_1000_commits_bounded(spark, tmpdir_path):
    """The metadata soak driven by maintain after every commit instead of
    a fixed cadence: descriptor count, manifest ids and lineage stay
    bounded, the manifest folds at most once per ~50 commits (a fold
    is due only once the contiguous ids reach twice the 50 it keeps),
    and exactly-once survives the folds."""
    from jitsu_spark.lake import metadata as md
    from jitsu_spark.lake.maintenance import full_history, maintain
    from jitsu_spark.lake.merge import is_committed

    t = make_table(spark, tmpdir_path, n_buckets=4)
    md_dir = os.path.join(t.root, "metadata")
    N = 1000
    for i in range(N):
        snap = t.snapshot()
        md.commit_snapshot(t.root, md.next_snapshot(
            snap, "merge", snap.files, commit_key=f"soak/{i}", batch_id=i,
        ))
        maintain(t, max_files_per_bucket=8, keep_snapshots=20)

    vfiles = [
        f for f in os.listdir(md_dir)
        if f.startswith("v") and f.endswith(".json")
    ]
    assert len(vfiles) <= 20, len(vfiles)
    cur = t.snapshot()
    assert len(cur.committed) <= 1 + 2 * 50, len(cur.committed)
    assert len(cur.lineage) <= 2 * 200 + 2, len(cur.lineage)

    hist = full_history(t)
    n_folds = sum(e["kind"] == "manifest_compact" for e in hist)
    assert 1 <= n_folds <= -(-N // 50) + 1, n_folds
    for k in (0, 1, 499, 500, 950, N - 1):
        assert is_committed(cur, "soak", k), k
    assert not is_committed(cur, "soak", N)
    merged = {e.get("batch_id") for e in hist if e["kind"] == "merge"}
    assert set(range(N)) <= merged
