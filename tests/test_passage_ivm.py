"""Incremental passage-dedup maintenance (text/passage_ivm.py) vs the
full recompute (text/passages.py) after every upstream batch — inserts,
updates, deletes, shared boilerplate, winner handoffs, empty/NULL text."""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jitsu_spark.lake.merge import merge_batch
from jitsu_spark.lake.table import BUCKET_PREFIX_SEP_PROP, LakeTable
from jitsu_spark.text.passage_ivm import PassageDedupView
from jitsu_spark.text.passages import dedup_passages

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)

W = 3  # passage window: small so short texts span several passages

HEADER = "alpha beta gamma"  # one full shared boilerplate passage
BODY = ["lorem ipsum dolor", "sit amet consectetur", "adipiscing elit sed",
        "do eiusmod tempor", "incididunt ut labore"]


def _mk_src(spark, root):
    return LakeTable.create(
        spark, root, DOC_SCHEMA, "doc_id", n_buckets=8,
        properties={"write.mode": "mor"},
    )


def _apply(src, spark, rows, seq0):
    """rows: list of (doc_id, text_or_None_payload, op)."""
    data = [
        (int(d), t, seq0 + i, op) for i, (d, t, op) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "doc_id long, text string, seq long, op string"
    )
    merge_batch(src, df, batch_id=f"b{seq0}", job_id="up")


def _expected(src):
    return {
        r["doc_id"]: (r["n_passages"], r["n_kept"], r["clean_text"])
        for r in dedup_passages(
            src.read().select("doc_id", "text"), window=W
        ).collect()
    }


def _actual(view):
    return {
        r["doc_id"]: (r["n_passages"], r["n_kept"], r["clean_text"])
        for r in view.read().collect()
    }


def test_prefix_bucketing_colocates_and_prunes(spark, tmpdir_path):
    t = LakeTable.create(
        spark,
        os.path.join(tmpdir_path, "pfx"),
        T.StructType(
            [
                T.StructField("k", T.StringType()),
                T.StructField("v", T.LongType()),
            ]
        ),
        "k",
        n_buckets=16,
        properties={BUCKET_PREFIX_SEP_PROP: "#"},
    )
    rows = [(f"p{p}#{i}", p * 100 + i) for p in range(5) for i in range(6)]
    df = spark.createDataFrame(rows, "k string, v long").select(
        "k", "v", F.lit(1).alias("seq"), F.lit("u").alias("op")
    )
    merge_batch(t, df, batch_id=0, job_id="j")
    # every key of one prefix maps to that prefix's own bucket
    for p in range(5):
        b = t.read().filter(F.col("k").startswith(f"p{p}#")).select(
            t.bucket_expr(F.col("k")).alias("b")
        ).distinct().collect()
        assert len(b) == 1
        probe = spark.range(1).select(
            t.bucket_expr(F.lit(f"p{p}")).alias("b")
        ).collect()[0]["b"]
        assert probe == b[0]["b"]
        got = sorted(
            r["v"] for r in t.read(buckets=[probe])
            .filter(F.col("k").startswith(f"p{p}#")).collect()
        )
        assert got == [p * 100 + i for i in range(6)]
    # rebucket preserves the prefix rule (prefix probe still finds all)
    pre = t.snapshot()
    t.rebucket(2)
    probe = spark.range(1).select(
        t.bucket_expr(F.lit("p3")).alias("b")
    ).collect()[0]["b"]
    assert (
        t.read(buckets=[probe]).filter(F.col("k").startswith("p3#")).count()
        == 6
    )
    # read_for prunes with the layout of the snapshot it reads: pinned to
    # the pre-rebucket snapshot it uses that snapshot's 16 buckets, even
    # for a prefix whose bucket id moved under the current 32
    def bucket(p, snap):
        return spark.range(1).select(
            t.bucket_expr(F.lit(p), snap=snap).alias("b")
        ).collect()[0]["b"]

    moved = [f"p{p}" for p in range(5)
             if bucket(f"p{p}", pre) != bucket(f"p{p}", None)]
    assert moved and pre.n_buckets == 16
    for p, snap in ((moved[0], pre), (moved[0], None), ("p3", None)):
        probes = spark.createDataFrame([(p,)], "k string")
        got = t.read_for(probes, "k", snap=snap).filter(
            F.col("k").startswith(f"{p}#")
        )
        assert got.count() == 6


def test_prefix_bucketing_requires_string_key(spark, tmpdir_path):
    with pytest.raises(ValueError, match="string key"):
        LakeTable.create(
            spark,
            os.path.join(tmpdir_path, "bad"),
            T.StructType([T.StructField("k", T.LongType())]),
            "k",
            properties={BUCKET_PREFIX_SEP_PROP: "#"},
        )


def test_ivm_matches_full_recompute_over_mixed_batches(spark, tmpdir_path):
    src = _mk_src(spark, os.path.join(tmpdir_path, "up"))
    view = PassageDedupView.create(
        spark, os.path.join(tmpdir_path, "view"), window=W, n_buckets=8
    )
    # batch 1: docs sharing the HEADER passage; doc 1 is the winner
    _apply(src, spark, [
        (1, f"{HEADER} {BODY[0]}", "u"),
        (2, f"{HEADER} {BODY[1]}", "u"),
        (3, f"{HEADER} {BODY[0]}", "u"),   # body dup of doc 1 too
        (4, "", "u"),                      # empty doc
        (5, None, "u"),                    # NULL text
    ], 100)
    view.sync(src)
    assert _actual(view) == _expected(src)

    # batch 2: DELETE the winner doc 1 -> header/body winners hand off
    _apply(src, spark, [(1, None, "d"), (6, f"{HEADER} {BODY[2]}", "u")], 200)
    view.sync(src)
    assert _actual(view) == _expected(src)

    # batch 3: UPDATE doc 2 so it no longer holds the header; doc 3
    # update makes its body unique
    _apply(src, spark, [
        (2, f"{BODY[3]} {BODY[4]}", "u"),
        (3, f"{HEADER} {BODY[4]} extra words here", "u"),
    ], 300)
    view.sync(src)
    assert _actual(view) == _expected(src)

    # batch 4: delete everything holding the header
    _apply(src, spark, [(3, None, "d"), (6, None, "d")], 400)
    view.sync(src)
    assert _actual(view) == _expected(src)
    # state tables stay minimal: occurrences only for live docs
    live = {r["doc_id"] for r in src.read().collect()}
    occ_docs = {r["doc"] for r in view.occ.read().collect()}
    assert occ_docs == {d for d in live}


def test_ivm_randomized_batches(spark, tmpdir_path):
    rnd = random.Random(41)
    vocab = ["w%d" % i for i in range(12)]

    def text():
        n = rnd.randrange(0, 10)
        return " ".join(rnd.choice(vocab) for _ in range(n))

    src = _mk_src(spark, os.path.join(tmpdir_path, "up"))
    view = PassageDedupView.create(
        spark, os.path.join(tmpdir_path, "view"), window=W, n_buckets=8
    )
    live: set[int] = set()
    next_id = 0
    for batch in range(5):
        rows = []
        for _ in range(rnd.randrange(3, 9)):
            kind = rnd.random()
            if live and kind < 0.25:
                d = rnd.choice(sorted(live))
                rows.append((d, None, "d"))
                live.discard(d)
            elif live and kind < 0.55:
                d = rnd.choice(sorted(live))
                rows.append((d, text(), "u"))
            else:
                rows.append((next_id, text(), "u"))
                live.add(next_id)
                next_id += 1
        _apply(src, spark, rows, 1000 * (batch + 1))
        view.sync(src)
        assert _actual(view) == _expected(src), f"batch {batch}"


def test_ivm_retry_after_partial_crash(spark, tmpdir_path):
    """Crash window: occ merged for v2, winners/result not — then MORE
    upstream commits land before the retry. The per-stage cursors must
    converge to the full recompute, with no stale occurrence rows."""
    src = _mk_src(spark, os.path.join(tmpdir_path, "up"))
    view = PassageDedupView.create(
        spark, os.path.join(tmpdir_path, "view"), window=W, n_buckets=8
    )
    _apply(src, spark, [(1, f"{HEADER} {BODY[0]}", "u"),
                        (2, f"{HEADER} {BODY[1]}", "u")], 100)
    view.sync(src)

    # upstream commit v2: doc 2 rewritten
    _apply(src, spark, [(2, f"{BODY[2]} {BODY[3]}", "u")], 200)
    cur = src.snapshot().version
    # simulate the crashed first half of sync(v2): occ stage only
    ch = src.changes(since_version=2 - 1, to_version=cur)  # since=v1
    # (reproduce stage 1 via the real code path, then "crash")
    crashed = PassageDedupView(
        view.occ, view.winners, view.result, W, view.job_id
    )
    occ_since = 1
    ch1 = ch.select("doc_id").distinct()
    pre1 = (
        src.read(version=occ_since)
        .join(ch1, "doc_id", "semi").select("doc_id", "text")
    )
    post1 = (
        src.read(version=cur)
        .join(ch1, "doc_id", "semi").select("doc_id", "text")
    )
    occ_batch = crashed._occurrences(pre1, "doc_id").select(
        "k", "passage_h", "doc", "pos", "passage",
        F.lit(2 * cur).cast("long").alias("seq"), F.lit("d").alias("op"),
    ).unionByName(
        crashed._occurrences(post1, "doc_id").select(
            "k", "passage_h", "doc", "pos", "passage",
            F.lit(2 * cur + 1).cast("long").alias("seq"),
            F.lit("u").alias("op"),
        )
    )
    merge_batch(view.occ, occ_batch, batch_id=f"v{cur}", job_id=view.job_id)

    # doc 2 rewritten AGAIN before the retry (upstream v3)
    _apply(src, spark, [(2, f"{HEADER} {BODY[4]}", "u"), (3, BODY[2], "u")],
           300)
    view.sync(src)  # the retry: occ window (v2, v3], winners/result (v1, v3]
    assert _actual(view) == _expected(src)
    # no stale occurrence rows from the crashed v2 batch linger
    occ_p = {
        (r["doc"], r["passage"]) for r in view.occ.read().collect()
    }
    assert (2, BODY[2]) not in occ_p and (2, BODY[3]) not in occ_p


def test_view_load_reads_persisted_window(spark, tmpdir_path):
    """The passage window is a STRUCTURAL parameter of the persisted
    state (occurrence keys embed window-sized passages), so load() reads
    it from the table properties instead of trusting the caller — a
    mismatched window would compute retraction keys that match nothing
    and silently corrupt the index."""
    src = _mk_src(spark, os.path.join(tmpdir_path, "up"))
    root = os.path.join(tmpdir_path, "view")
    view = PassageDedupView.create(spark, root, window=W, n_buckets=8)
    _apply(src, spark, [
        (1, f"{HEADER} {BODY[0]}", "u"),
        (2, f"{HEADER} {BODY[1]}", "u"),
    ], 100)
    view.sync(src)

    loaded = PassageDedupView.load(spark, root)
    assert loaded.window == W
    _apply(src, spark, [(1, None, "d"), (3, f"{HEADER} {BODY[2]}", "u")], 200)
    loaded.sync(src)
    assert _actual(loaded) == _expected(src)


def test_view_load_rejects_non_view_dir(spark, tmpdir_path):
    root = os.path.join(tmpdir_path, "notview")
    LakeTable.create(
        spark, os.path.join(root, "result"), DOC_SCHEMA, "doc_id"
    )
    with pytest.raises(ValueError, match="passage_ivm.window"):
        PassageDedupView.load(spark, root)


def test_sync_pins_state_table_snapshots(spark, tmpdir_path, monkeypatch):
    """One steady-state sync loads each state table's snapshot a pinned
    number of times. Every pruned read takes its bucket ids and its
    files from ONE load (LakeTable.read_for), so a concurrent rebucket
    cannot pair two layouts. winners: the stage-2 cursor, the old-winner
    read and the merge; in stage 3 one current snapshot (lineage lookup,
    new-winner docs and the kept-set join) plus the pinned pre-state.
    occ: the cursor, the merge and the displaced-passage read. upstream:
    the current version, then the window's two ends, each loaded once
    (changes() takes the window's loaded upper snapshot)."""
    from jitsu_spark.lake import metadata as md

    src = _mk_src(spark, os.path.join(tmpdir_path, "up"))
    view = PassageDedupView.create(
        spark, os.path.join(tmpdir_path, "view"), window=W, n_buckets=8
    )
    _apply(src, spark, [(1, f"{HEADER} {BODY[0]}", "u"),
                        (2, f"{HEADER} {BODY[1]}", "u")], 100)
    view.sync(src)
    # doc 1 loses the shared header (a displaced winner), doc 3 is new
    _apply(src, spark, [(1, BODY[2], "u"), (3, f"{HEADER} {BODY[3]}", "u")],
           200)

    loads = []
    load = md.load_snapshot
    monkeypatch.setattr(
        md, "load_snapshot",
        lambda root, v=None: loads.append((root, v)) or load(root, v),
    )
    view.sync(src)

    def versions(table):
        return [v for root, v in loads if root == table.root]

    # the pinned pre-state is the winners version after the v2 batch
    assert versions(view.winners) == [None] * 4 + [1]
    assert versions(view.occ) == [None] * 3
    assert versions(view.result) == [None] * 2
    assert versions(src) == [None, 1, 2]
    assert _actual(view) == _expected(src)
