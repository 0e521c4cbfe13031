"""Merge-on-read write mode: append-only delta merges, read-time
reconciliation, compaction folding, schema evolution — must match the same
dict oracle as CoW (the two modes are plan-level choices, not semantics)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from jitsu_spark.changelog import (
    CHANGELOG_SCHEMA,
    assert_matches_oracle,
    changelog_df,
    dict_replay,
    evolving_phases,
)
from jitsu_spark.lake import LakeTable
from jitsu_spark.lake.merge import merge_batch
from tests.test_merge import TARGET_SCHEMA, batch, ev


def make_mor(spark, root, n_buckets=8) -> LakeTable:
    return LakeTable.create(
        spark, os.path.join(root, "mor"), TARGET_SCHEMA, "doc_id",
        n_buckets=n_buckets, properties={"write.mode": "mor"},
    )


def test_mor_basic_upsert_delete(spark, tmpdir_path):
    t = make_mor(spark, tmpdir_path)
    merge_batch(t, batch(spark, [ev(1, "i", "a", [1]), ev(2, "i", "b", [2])]), batch_id=0)
    merge_batch(t, batch(spark, [ev(3, "u", "a", [9, 9]), ev(4, "d", "b")]), batch_id=1)
    rows = {r["doc_id"]: r["tokens"] for r in t.read().collect()}
    assert rows == {"a": [9, 9]}
    # delta entries recorded, no base rewrite happened
    snap = t.snapshot()
    kinds = {e.get("kind", "base") for es in snap.files.values() for e in es}
    assert kinds == {"delta"}


def test_mor_oracle_replay_and_compaction(spark, tmpdir_path):
    t = make_mor(spark, tmpdir_path)
    log = changelog_df(spark, n_events=3000, n_docs=250, seed=21, dup_pct=0.04)
    expected = dict_replay([r.asDict(recursive=True) for r in log.collect()])
    per = 300
    for i in range(10):
        part = log.filter((F.col("seq") >= i * per) & (F.col("seq") < (i + 1) * per))
        merge_batch(t, part, batch_id=i)
        if i == 5:  # fold deltas mid-stream; state must be unaffected
            t.compact(max_files_per_bucket=2)
    assert_matches_oracle(t.read(), expected)
    t.compact(max_files_per_bucket=1)
    assert_matches_oracle(t.read(), expected)
    snap = t.snapshot()
    assert all(len(es) <= 1 for es in snap.files.values())
    kinds = {e.get("kind", "base") for es in snap.files.values() for e in es}
    assert kinds <= {"base"}


def test_mor_rebucket_writes_one_file_per_bucket(spark, tmpdir_path):
    """Rebucketing folds deltas into base and still leaves one file per new
    bucket: the reconciled rows of delta-bearing buckets leave the LWW
    aggregate in arbitrary tasks and must be regrouped by new bucket,
    while clean buckets split narrowly. Covers an all-dirty table, then
    one dirty bucket among clean ones. AQE coalescing is off so that the
    reconcile's output spans every shuffle partition, as a large table's
    does; coalesced into one task, this small one would hide the bug."""
    coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    was = spark.conf.get(coalesce)
    spark.conf.set(coalesce, "false")
    try:
        _rebucket_one_file_per_bucket(spark, tmpdir_path)
    finally:
        spark.conf.set(coalesce, was)


def _rebucket_one_file_per_bucket(spark, tmpdir_path):
    t = make_mor(spark, tmpdir_path, n_buckets=4)
    log = changelog_df(spark, n_events=3000, n_docs=250, seed=5, dup_pct=0.04)
    rows = [r.asDict(recursive=True) for r in log.collect()]
    for i in range(3):
        merge_batch(
            t, log.filter((F.col("seq") >= i * 1000) & (F.col("seq") < (i + 1) * 1000)),
            batch_id=i,
        )

    def rebucket_and_check(n):
        t.rebucket(factor=2)
        snap = t.snapshot()
        assert snap.n_buckets == n and len(snap.files) == n
        assert all(len(es) == 1 for es in snap.files.values()), snap.files
        assert_matches_oracle(t.read(), dict_replay(rows))

    rebucket_and_check(8)
    late = ev(10_000, "u", rows[0]["doc_id"], [7])
    merge_batch(t, batch(spark, [late]), batch_id=3)
    rows.append(late)
    rebucket_and_check(16)


def _with_evolved_columns(v: dict) -> dict:
    """An oracle row in the logical schema evolving_phases ends with."""
    for c in ("lang", "quality", "published_at"):
        v.setdefault(c, None)
    if v["quality"] is not None:
        v["quality"] = float(v["quality"])
    return v


def _assert_changes_match(ch, batches, norm=lambda v: v):
    """``ch`` (a changes() frame) holds, per committed batch, each key's
    latest event of that batch: its op, payload and commit version.
    ``batches`` is [(commit version, event rows)]."""
    expected = {}
    for version, rows in batches:
        for r in sorted(rows, key=lambda r: r["seq"]):
            payload = {c: v for c, v in r.items() if c not in ("seq", "op")}
            expected[f"{r['doc_id']}@{version}"] = norm(
                {**payload, "_change_op": r["op"], "_commit_version": version}
            )
    key = F.concat_ws("@", "doc_id", F.col("_commit_version").cast("string"))
    assert_matches_oracle(ch.withColumn("_ck", key), expected, key="_ck")


def test_mor_schema_evolution(spark, tmpdir_path):
    t = make_mor(spark, tmpdir_path)
    phases = evolving_phases(spark, n_events=600, n_docs=60, seed=8)
    all_rows = []
    for i, p in enumerate(phases):
        merge_batch(t, p, batch_id=i)
        all_rows += [r.asDict(recursive=True) for r in p.collect()]
    expected = dict_replay(all_rows)
    for v in expected.values():
        _with_evolved_columns(v)
    assert t.schema()["quality"].dataType.simpleString() == "double"
    assert_matches_oracle(t.read(), expected)


def test_mor_root_with_space_and_percent(spark, tmpdir_path):
    """Spark URL-encodes the file paths it reports (a space becomes %20,
    a '%' becomes %25); the reconcile must still find every file's commit
    sequence under such a table root."""
    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "a b%20c", "mor"), TARGET_SCHEMA,
        "doc_id", n_buckets=4, properties={"write.mode": "mor"},
    )
    log = changelog_df(spark, n_events=1200, n_docs=100, seed=5, dup_pct=0.04)
    rows = [r.asDict(recursive=True) for r in log.collect()]
    per, window = 200, []
    for i in range(6):
        part = [r for r in rows if i * per <= r["seq"] < (i + 1) * per]
        merge_batch(t, batch(spark, part), batch_id=i)
        if i == 1:
            t.compact(max_files_per_bucket=0)
            v_fold = t.snapshot().version
        elif i > 1:
            window.append((t.snapshot().version, part))
    expected = dict_replay(rows)
    assert_matches_oracle(t.read(), expected)
    _assert_changes_match(t.changes(since_version=v_fold), window)
    t.compact(max_files_per_bucket=0)
    assert_matches_oracle(t.read(), expected)


def test_mor_user_column_named_metadata(spark, tmpdir_path):
    """A payload column named ``_metadata`` does not shadow the file
    metadata the reconcile takes commit sequences from."""
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("k", T.StringType()),
                           T.StructField("_metadata", T.StringType())])
    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "m"), schema, "k", n_buckets=2,
        properties={"write.mode": "mor"},
    )
    events = T.StructType(schema.fields + [T.StructField("seq", T.LongType()),
                                           T.StructField("op", T.StringType())])
    merge_batch(t, spark.createDataFrame(
        [("a", "x", 1, "i"), ("b", "y", 2, "i")], events), batch_id=0)
    merge_batch(t, spark.createDataFrame(
        [("a", "z", 3, "u"), ("b", None, 4, "d")], events), batch_id=1)
    assert [tuple(r) for r in t.read().collect()] == [("a", "z")]
    assert {tuple(r) for r in t.changes(since_version=0).collect()} == {
        ("a", "x", "i", 1), ("b", "y", "i", 1), ("a", "z", "u", 2),
        ("b", None, "d", 2),
    }


def test_mor_compacted_base_under_older_schema_than_deltas(spark, tmpdir_path):
    """A dirty bucket whose compacted base file was written under an older
    schema id than its deltas reads and emits changes exactly: the base
    file meets deltas of two newer schemas in one reconcile."""
    t = make_mor(spark, tmpdir_path, n_buckets=4)
    phases = evolving_phases(spark, n_events=600, n_docs=60, seed=8)
    first = [r.asDict(recursive=True) for r in phases[0].collect()]
    half = sorted(r["seq"] for r in first)[len(first) // 2]
    merge_batch(t, batch(spark, [r for r in first if r["seq"] < half]), batch_id=0)
    merge_batch(t, batch(spark, [r for r in first if r["seq"] >= half]), batch_id=1)
    t.compact(max_files_per_bucket=0)
    v_fold = t.snapshot().version
    window = []
    for i, p in enumerate(phases[1:], start=2):
        merge_batch(t, p, batch_id=i)
        rows = [r.asDict(recursive=True) for r in p.collect()]
        window.append((t.snapshot().version, rows))
    snap = t.snapshot()
    base_sids = {e["schema_id"] for es in snap.files.values() for e in es
                 if e.get("kind", "base") == "base"}
    delta_sids = {e["schema_id"] for es in snap.files.values() for e in es
                  if e.get("kind") == "delta"}
    assert base_sids == {"0"} and len(delta_sids) == 2 and "0" not in delta_sids
    expected = dict_replay(first + [r for _, rows in window for r in rows])
    for v in expected.values():
        _with_evolved_columns(v)
    assert_matches_oracle(t.read(), expected)
    _assert_changes_match(
        t.changes(since_version=v_fold), window, norm=_with_evolved_columns
    )


def test_mor_duplicate_batch_skipped(spark, tmpdir_path):
    t = make_mor(spark, tmpdir_path)
    merge_batch(t, batch(spark, [ev(1, "i", "a", [1])]), batch_id=3)
    r = merge_batch(t, batch(spark, [ev(9, "u", "a", [9])]), batch_id=3)
    assert r.skipped
    assert t.read().collect()[0]["tokens"] == [1]


def test_mor_time_travel(spark, tmpdir_path):
    t = make_mor(spark, tmpdir_path)
    merge_batch(t, batch(spark, [ev(1, "i", "a", [1])]), batch_id=0)
    v1 = t.snapshot().version
    merge_batch(t, batch(spark, [ev(2, "u", "a", [2])]), batch_id=1)
    assert t.read(version=v1).collect()[0]["tokens"] == [1]
    assert t.read().collect()[0]["tokens"] == [2]


def test_incremental_changes_read(spark, tmpdir_path):
    """changes(since, to) returns exactly the delta rows of the in-range
    commits (CDC-out); compaction inside the range raises."""
    import pytest

    t = make_mor(spark, tmpdir_path, n_buckets=4)
    merge_batch(t, batch(spark, [ev(1, "i", "a", [1]), ev(2, "i", "b", [2])]), batch_id=0)
    v1 = t.snapshot().version
    merge_batch(t, batch(spark, [ev(3, "u", "a", [9]), ev(4, "d", "b")]), batch_id=1)
    merge_batch(t, batch(spark, [ev(5, "i", "c", [5])]), batch_id=2)
    v3 = t.snapshot().version

    ch = t.changes(since_version=v1).collect()
    got = {(r["doc_id"], r["_change_op"], r["_commit_version"]) for r in ch}
    assert got == {("a", "u", v1 + 1), ("b", "d", v1 + 1), ("c", "i", v3)}
    assert {f.name for f in t.changes(v1).schema.fields} >= {
        "doc_id", "tokens", "_change_op", "_commit_version"
    }
    # full-history changes from version 0
    assert len(t.changes(since_version=0).collect()) == 5

    # a compaction inside the range makes row-level changes unavailable
    t.compact(max_files_per_bucket=0)
    with pytest.raises(ValueError, match="compact"):
        t.changes(since_version=v1)
    # ...but a fresh range after the compaction works again
    vc = t.snapshot().version
    merge_batch(t, batch(spark, [ev(6, "u", "c", [6])]), batch_id=3)
    got2 = {(r["doc_id"], r["_change_op"]) for r in t.changes(since_version=vc).collect()}
    assert got2 == {("c", "u")}


def test_read_with_stats_prune_skips_clean_files(spark, tmpdir_path):
    """read(prune=...) must skip clean-bucket files excluded by stats and
    never file-prune delta-bearing buckets (reconcile sees everything)."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from jitsu_spark.lake import LakeTable
    from jitsu_spark.lake.merge import append_batch

    schema = T.StructType(
        [
            T.StructField("rid", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "pt"), schema, "rid",
        n_buckets=2, properties={"write.stats.column": "ts"},
    )
    for m, month in enumerate(["2024-01", "2024-02"]):
        df = spark.createDataFrame(
            [(f"{month}-r{i}", f"{month}-10 00:00:0{i}", 1.0) for i in range(3)],
            ["rid", "ts_s", "v"],
        ).select("rid", F.col("ts_s").cast("timestamp").alias("ts"), "v")
        append_batch(t, df, batch_id=m)
    pruned = t.read(prune=("ts", "2024-02-01 00:00:00", "2024-03-01 00:00:00"))
    # superset semantics: only February files were opened
    assert {r["rid"][:7] for r in pruned.collect()} == {"2024-02"}
    assert t.read().count() == 6  # unpruned read unchanged


def test_mirror_sync_incremental(spark, tmpdir_path):
    """A projected mirror maintained ONLY from changes() equals the
    upstream state after every sync; syncs are incremental (cursor from
    the destination manifest) and idempotent on redelivery."""
    from pyspark.sql import types as T

    from jitsu_spark.lake import LakeTable
    from jitsu_spark.lake.mirror import last_synced_version, sync_mirror

    src = make_mor(spark, tmpdir_path, n_buckets=4)
    dst_schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("n_tok", T.IntegerType()),
        ]
    )
    dst = LakeTable.create(
        spark, os.path.join(tmpdir_path, "mirror"), dst_schema, "doc_id",
        n_buckets=4,
    )
    project = lambda ch: ch.select(  # noqa: E731
        "doc_id", "n_tok", "_change_op", "_commit_version"
    )

    merge_batch(src, batch(spark, [ev(1, "i", "a", [1]), ev(2, "i", "b", [2, 2])]), batch_id=0)
    r1 = sync_mirror(src, dst, transform=project)
    assert (r1.from_version, r1.to_version) == (0, 1)
    assert {r["doc_id"]: r["n_tok"] for r in dst.read().collect()} == {"a": 1, "b": 2}

    # more upstream commits; only the delta is consumed
    merge_batch(src, batch(spark, [ev(3, "u", "a", [9, 9, 9]), ev(4, "d", "b")]), batch_id=1)
    merge_batch(src, batch(spark, [ev(5, "i", "c", [5])]), batch_id=2)
    r2 = sync_mirror(src, dst, transform=project)
    assert (r2.from_version, r2.to_version) == (1, 3)
    assert {r["doc_id"]: r["n_tok"] for r in dst.read().collect()} == {"a": 3, "c": 1}
    assert last_synced_version(dst) == 3

    # nothing new -> no-op; redelivered sync of the same range -> no-op
    assert sync_mirror(src, dst, transform=project).skipped
    v = dst.snapshot().version
    assert dst.snapshot().version == v


def _agg_expected(src):
    return {
        r["source"]: (r["n"], r["s"])
        for r in src.read()
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_tok").alias("s"))
        .collect()
    }


def _agg_state(dst):
    return {
        r["source"]: (r["n_rows"], r["n_tok"])
        for r in dst.read().collect()
    }


def _make_agg_dst(spark, root, name="agg", n_buckets=4):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("source", T.StringType()),
            T.StructField("n_rows", T.LongType()),
            T.StructField("n_tok", T.LongType()),
        ]
    )
    return LakeTable.create(
        spark, os.path.join(root, name), schema, "source", n_buckets=n_buckets
    )


def test_sync_aggregate_incremental_view_maintenance(spark, tmpdir_path):
    """A downstream per-source aggregate maintained ONLY from changes()
    (post-image minus pre-image of the changed keys) equals a full
    recompute after every sync — inserts, updates that MOVE a key across
    groups, deletes, and group-count-to-zero deletions — and every scan is
    bucket-pruned (asserted on the read calls)."""
    from jitsu_spark.lake.mirror import sync_aggregate

    src = make_mor(spark, tmpdir_path, n_buckets=8)
    dst = _make_agg_dst(spark, tmpdir_path)

    read_buckets = []
    in_sync = []
    orig_read = src.read

    def spy_read(*a, **kw):
        if in_sync:
            read_buckets.append(kw.get("buckets"))
        return orig_read(*a, **kw)

    src.read = spy_read

    def run_sync():
        in_sync.append(1)
        try:
            return sync_aggregate(src, dst, "source", sum_cols=["n_tok"])
        finally:
            in_sync.pop()

    merge_batch(src, batch(spark, [
        ev(1, "i", "a", [1], source="s1"),
        ev(2, "i", "b", [2, 2], source="s1"),
        ev(3, "i", "c", [3, 3, 3], source="s2"),
    ]), batch_id=0)
    r1 = run_sync()
    assert (r1.from_version, r1.to_version) == (0, 1)
    assert _agg_state(dst) == {"s1": (2, 3), "s2": (1, 3)} == _agg_expected(src)

    # update moves 'b' from s1 to s2 AND grows it; delete 'c' empties
    # nothing yet; insert 'd' in a new group
    merge_batch(src, batch(spark, [
        ev(4, "u", "b", [9, 9, 9, 9], source="s2"),
        ev(5, "i", "d", [7], source="s3"),
    ]), batch_id=1)
    merge_batch(src, batch(spark, [ev(6, "d", "c")]), batch_id=2)
    r2 = run_sync()
    assert (r2.from_version, r2.to_version) == (1, 3)
    assert _agg_state(dst) == _agg_expected(src) == {
        "s1": (1, 1), "s2": (1, 4), "s3": (1, 1),
    }

    # delete the last s3 row: the aggregate row must disappear
    merge_batch(src, batch(spark, [ev(7, "d", "d")]), batch_id=3)
    run_sync()
    assert _agg_state(dst) == _agg_expected(src) == {
        "s1": (1, 1), "s2": (1, 4),
    }

    # no new upstream commits -> skip; state and version unchanged
    v = dst.snapshot().version
    assert run_sync().skipped
    assert dst.snapshot().version == v

    # O(changed), not O(table): every upstream read was bucket-pruned
    # (buckets=[] is the bootstrap pre-image at version 0 — scan NOTHING,
    # the strictest prune; None would mean an unpruned full read)
    assert read_buckets and all(
        b is not None and len(b) < 8 for b in read_buckets
    ), read_buckets
    assert any(b for b in read_buckets)  # steady windows do prune to >0


def test_cdc_stream_chains_downstream_aggregate(spark, tmpdir_path):
    """End-to-end CDC-out composition inside the streaming runner: each
    applied micro-batch triggers an incremental sync of the downstream
    aggregate through post_commit; the aggregate tracks the upstream
    exactly, and a checkpoint redelivery leaves both tables untouched."""
    from jitsu_spark.lake.mirror import sync_aggregate
    from jitsu_spark.streaming import CdcStreamJob

    src_dir = os.path.join(tmpdir_path, "log")
    rows_a = [ev(i, "i", f"doc{i}", [1] * (i + 1), source=f"s{i % 2}")
              for i in range(6)]
    rows_b = [ev(6, "u", "doc0", [5, 5], source="s1"),   # moves s0 -> s1
              ev(7, "d", "doc1")]
    batch(spark, rows_a).coalesce(1).write.mode("append").parquet(src_dir)
    batch(spark, rows_b).coalesce(1).write.mode("append").parquet(src_dir)

    table = LakeTable.create(
        spark, os.path.join(tmpdir_path, "tbl"), TARGET_SCHEMA, "doc_id",
        n_buckets=4, properties={"write.mode": "mor"},
    )
    agg = _make_agg_dst(spark, tmpdir_path)
    syncs = []

    def make_job():
        return CdcStreamJob(
            table=table,
            source_dir=src_dir,
            checkpoint_dir=os.path.join(tmpdir_path, "ckpt"),
            source_schema=CHANGELOG_SCHEMA,
            max_files_per_trigger=1,
            job_id="cdc-chain",
            post_commit=lambda bid: syncs.append(
                sync_aggregate(table, agg, "source", sum_cols=["n_tok"])
            ),
        )

    make_job().run_available_now(spark)
    assert len([s for s in syncs if not s.skipped]) == 2  # one per batch
    assert _agg_state(agg) == _agg_expected(table)
    v_tbl, v_agg = table.snapshot().version, agg.snapshot().version

    # full redelivery: merges skip via manifest, post_commit never fires
    make_job().run_available_now(spark)
    assert table.snapshot().version == v_tbl
    assert agg.snapshot().version == v_agg
    assert _agg_state(agg) == _agg_expected(table)


def test_sync_aggregate_pins_one_dst_snapshot(spark, tmpdir_path, monkeypatch):
    """sync_aggregate loads the destination snapshot three times: the
    sync cursor, ONE load shared by the dirty groups' bucket ids and the
    pruned read of their current rows (a concurrent rebucket cannot pair
    two layouts), and the merge."""
    from jitsu_spark.lake import metadata as md
    from jitsu_spark.lake.mirror import sync_aggregate

    src = make_mor(spark, tmpdir_path, n_buckets=8)
    dst = _make_agg_dst(spark, tmpdir_path)
    merge_batch(src, batch(spark, [
        ev(1, "i", "a", [1], source="s1"),
        ev(2, "i", "b", [2, 2], source="s2"),
    ]), batch_id=0)

    loads = []
    load = md.load_snapshot
    monkeypatch.setattr(
        md, "load_snapshot", lambda root, v=None: loads.append(root) or load(root, v)
    )
    sync_aggregate(src, dst, "source", sum_cols=["n_tok"])
    assert loads.count(dst.root) == 3
    assert _agg_state(dst) == {"s1": (1, 1), "s2": (1, 2)}


def test_failed_sync_releases_cached_frames(spark, tmpdir_path):
    """A sync that raises leaves no persisted frame behind: the window
    images, the aggregate delta and the private WindowImages are all
    released on the way out. Inputs: a steady-state sync_aggregate whose
    ``count_col`` names no destination column (raises after the delta
    is persisted), and a sync_derived_rows whose ``derive`` raises."""
    import pytest
    from pyspark.errors import AnalysisException

    from jitsu_spark.lake.mirror import sync_aggregate, sync_derived_rows

    src = make_mor(spark, tmpdir_path, n_buckets=8)
    dst = _make_agg_dst(spark, tmpdir_path)
    merge_batch(src, batch(spark, [
        ev(1, "i", "a", [1], source="s1"),
        ev(2, "i", "b", [2, 2], source="s2"),
    ]), batch_id=0)
    sync_aggregate(src, dst, "source", sum_cols=["n_tok"])
    merge_batch(src, batch(spark, [
        ev(3, "u", "a", [1, 1, 1], source="s2"),
    ]), batch_id=1)

    def persisted() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    before = persisted()
    with pytest.raises(AnalysisException):
        sync_aggregate(src, dst, "source", sum_cols=["n_tok"],
                       count_col="no_such_col")
    assert persisted() == before

    def derive(df):
        raise RuntimeError("derive failed")

    with pytest.raises(RuntimeError, match="derive failed"):
        sync_derived_rows(src, dst, derive)
    assert persisted() == before
    # the failed syncs committed nothing; a correct one still lands
    sync_aggregate(src, dst, "source", sum_cols=["n_tok"])
    assert _agg_state(dst) == _agg_expected(src)
