"""Incrementally maintained MinHash-LSH band index (dedup/lsh_index.py)
and the generic derived-row IVM primitive (lake/mirror.sync_derived_rows)
vs full recomputes after every upstream batch — inserts, band-changing
updates (stale-band retraction), deletes, probe queries, persisted
banding params, and redelivery idempotence."""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jitsu_spark.dedup.lsh_index import (
    create_lsh_index,
    index_pairs,
    load_lsh_index,
    probe_lsh_index,
    sync_lsh_index,
)
from jitsu_spark.dedup.minhash import band_rows, lsh_candidate_pairs
from jitsu_spark.lake.merge import merge_batch
from jitsu_spark.lake.mirror import sync_derived_rows
from jitsu_spark.lake.table import LakeTable

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)

K, BANDS, NGRAM = 8, 4, 2

WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
         "theta", "iota", "kappa"]


def _text(rng, n):
    return " ".join(rng.choice(WORDS) for _ in range(n))


def _mk_src(spark, root):
    return LakeTable.create(
        spark, root, DOC_SCHEMA, "doc_id", n_buckets=8,
        properties={"write.mode": "mor"},
    )


def _apply(src, spark, rows, seq0):
    data = [(int(d), t, seq0 + i, op) for i, (d, t, op) in enumerate(rows)]
    df = spark.createDataFrame(
        data, "doc_id long, text string, seq long, op string"
    )
    merge_batch(src, df, batch_id=f"b{seq0}", job_id="up")


def _expected_pairs(src):
    return {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(
            src.read().select("doc_id", "text"), "doc_id", "text",
            k=K, bands=BANDS, shingle_n=NGRAM,
        ).collect()
    }


def _actual_pairs(index):
    return {(r["id_a"], r["id_b"]) for r in index_pairs(index).collect()}


def test_index_tracks_batch_answer_through_cdc_history(spark, tmpdir_path):
    """After every upstream batch (inserts, band-changing updates,
    deletes), the index's full pair emission equals the batch LSH over
    the upstream's current state."""
    rng = random.Random(7)
    src = _mk_src(spark, os.path.join(tmpdir_path, "src"))
    index = create_lsh_index(
        spark, os.path.join(tmpdir_path, "ix"),
        k=K, bands=BANDS, shingle_n=NGRAM, n_buckets=8,
    )
    base = _text(rng, 12)
    batches = [
        # b0: seed corpus with a near-dup cluster (1,2,3) + singletons
        [(1, base, "u"), (2, base + " omega", "u"), (3, base, "u"),
         (4, _text(rng, 12), "u"), (5, _text(rng, 12), "u")],
        # b1: update 2 to something unrelated (bands must retract),
        # insert a new near-dup of 4
        [(2, _text(rng, 15), "u"), (6, None, "d"),
         (7, None, "d")],  # deletes of absent keys are no-ops
        [(8, _text(rng, 12), "u"), (4, base, "u")],
        # b3: delete a cluster member, re-insert 2 as a dup of base
        [(3, None, "d"), (2, base + " omega", "u")],
    ]
    seq = 0
    for b in batches:
        _apply(src, spark, b, seq)
        seq += len(b)
        res = sync_lsh_index(src, index)
        assert not res.skipped
        assert _actual_pairs(index) == _expected_pairs(src)


def test_update_retracts_stale_band_rows(spark, tmpdir_path):
    """A full text rewrite must leave ZERO of the old band hashes in the
    index — exactly `bands` rows per live doc, all with current hashes."""
    src = _mk_src(spark, os.path.join(tmpdir_path, "src"))
    index = create_lsh_index(
        spark, os.path.join(tmpdir_path, "ix"),
        k=K, bands=BANDS, shingle_n=NGRAM, n_buckets=8,
    )
    _apply(src, spark, [(1, "alpha beta gamma delta", "u")], 0)
    sync_lsh_index(src, index)
    old = {r["bh"] for r in index.read().select("bh").collect()}
    _apply(src, spark, [(1, "zeta eta theta iota kappa", "u")], 1)
    sync_lsh_index(src, index)
    rows = index.read().select("bh", "band_no", "doc").collect()
    assert len(rows) == BANDS
    assert all(r["doc"] == 1 for r in rows)
    assert {r["band_no"] for r in rows} == set(range(BANDS))
    assert not old & {r["bh"] for r in rows}
    # delete retracts everything
    _apply(src, spark, [(1, None, "d")], 2)
    sync_lsh_index(src, index)
    assert index.read().count() == 0


def test_probe_finds_indexed_near_dups(spark, tmpdir_path):
    rng = random.Random(11)
    src = _mk_src(spark, os.path.join(tmpdir_path, "src"))
    index = create_lsh_index(
        spark, os.path.join(tmpdir_path, "ix"),
        k=K, bands=BANDS, shingle_n=NGRAM, n_buckets=8,
    )
    corpus = [(i, _text(rng, 12), "u") for i in range(1, 21)]
    _apply(src, spark, corpus, 0)
    sync_lsh_index(src, index)

    # probes: an exact copy of doc 5, a fresh doc, and doc 9 itself
    probes = spark.createDataFrame(
        [(101, corpus[4][1]), (102, _text(rng, 12)), (9, corpus[8][1])],
        DOC_SCHEMA,
    )
    got = {
        (r["probe_id"], r["match_doc"])
        for r in probe_lsh_index(index, probes, "doc_id", "text").collect()
    }
    # expected: band-join of probe band rows vs corpus band rows
    pb = band_rows(probes, "doc_id", "text", K, BANDS, NGRAM).collect()
    cb = band_rows(
        src.read().select("doc_id", "text"), "doc_id", "text",
        K, BANDS, NGRAM,
    ).collect()
    by_band = {}
    for r in cb:
        by_band.setdefault((r["band_no"], r["bh"]), set()).add(r["doc_id"])
    want = {
        (p["doc_id"], m)
        for p in pb
        for m in by_band.get((p["band_no"], p["bh"]), ())
    }
    assert got == want
    assert (101, 5) in got          # copy matches its original
    assert (9, 9) in got            # self-match documented behavior


def test_params_persisted_and_load_guard(spark, tmpdir_path):
    src = _mk_src(spark, os.path.join(tmpdir_path, "src"))
    index = create_lsh_index(
        spark, os.path.join(tmpdir_path, "ix"),
        k=K, bands=BANDS, shingle_n=NGRAM, n_buckets=8,
    )
    _apply(src, spark, [(1, "alpha beta gamma delta", "u")], 0)
    sync_lsh_index(src, index)
    # a FRESH load must resync under the persisted params, not defaults
    reloaded = load_lsh_index(spark, os.path.join(tmpdir_path, "ix"))
    _apply(src, spark, [(1, "zeta eta theta iota", "u")], 1)
    sync_lsh_index(src, reloaded)
    assert reloaded.read().count() == BANDS
    assert _actual_pairs(reloaded) == _expected_pairs(src)
    with pytest.raises(ValueError):
        load_lsh_index(spark, os.path.join(tmpdir_path, "src"))
    with pytest.raises(ValueError):
        create_lsh_index(spark, os.path.join(tmpdir_path, "bad"), k=8, bands=3)


def test_sync_redelivery_is_idempotent(spark, tmpdir_path):
    src = _mk_src(spark, os.path.join(tmpdir_path, "src"))
    index = create_lsh_index(
        spark, os.path.join(tmpdir_path, "ix"),
        k=K, bands=BANDS, shingle_n=NGRAM, n_buckets=8,
    )
    _apply(src, spark, [(1, "alpha beta gamma delta", "u")], 0)
    assert not sync_lsh_index(src, index).skipped
    v = index.snapshot().version
    res = sync_lsh_index(src, index)
    assert res.skipped and index.snapshot().version == v


def test_sync_derived_rows_generic_inverted_index(spark, tmpdir_path):
    """The primitive itself, on a plain token inverted index: dst must
    equal derive(full upstream) after inserts, updates, and deletes."""
    src = _mk_src(spark, os.path.join(tmpdir_path, "src"))
    dst = LakeTable.create(
        spark, os.path.join(tmpdir_path, "inv"),
        T.StructType(
            [
                T.StructField("ik", T.StringType()),
                T.StructField("token", T.StringType()),
                T.StructField("doc", T.LongType()),
            ]
        ),
        "ik",
        n_buckets=8,
        properties={"write.mode": "mor"},
    )

    def derive(docs):
        tok = docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("token")
        ).distinct()
        return tok.select(
            F.concat_ws("#", "token", F.col("doc_id").cast("string"))
            .alias("ik"),
            "token",
            F.col("doc_id").alias("doc"),
        )

    def expected():
        out = set()
        for r in src.read().collect():
            for t in set((r["text"] or "").split(" ")):
                out.add((t, r["doc_id"]))
        return out

    batches = [
        [(1, "a b c", "u"), (2, "b c d", "u")],
        [(1, "x y", "u"), (3, "a a b", "u")],
        [(2, None, "d")],
    ]
    seq = 0
    for b in batches:
        _apply(src, spark, b, seq)
        seq += len(b)
        sync_derived_rows(src, dst, derive, job_id="inv")
        got = {
            (r["token"], r["doc"])
            for r in dst.read().select("token", "doc").collect()
        }
        assert got == expected()


def test_shared_window_images_across_views(spark, tmpdir_path):
    """One WindowImages serves every view of the same upstream in one
    sync round (stats + LSH index + chunk table): results identical to
    independent syncs, and a lagging view (skipped one round) misses the
    cache and self-heals from its own window."""
    from jitsu_spark.lake.mirror import WindowImages
    from jitsu_spark.text.chunk import chunk_documents
    from jitsu_spark.text.chunk_ivm import create_chunk_table, sync_chunks
    from jitsu_spark.text.passage_ivm import PassageDedupView
    from jitsu_spark.text.passages import dedup_passages
    from jitsu_spark.text.term_stats import create_corpus_stats, sync_corpus_stats

    src = _mk_src(spark, os.path.join(tmpdir_path, "src"))
    passages = PassageDedupView.create(
        spark, os.path.join(tmpdir_path, "pv"), window=3, n_buckets=8,
    )
    index = create_lsh_index(
        spark, os.path.join(tmpdir_path, "ix"),
        k=K, bands=BANDS, shingle_n=NGRAM, n_buckets=8,
    )
    chunks = create_chunk_table(
        spark, os.path.join(tmpdir_path, "ch"), window=4, stride=3,
        n_buckets=8,
    )
    stats = create_corpus_stats(
        spark, os.path.join(tmpdir_path, "st"), n_buckets=8,
        with_bigrams=False,
    )
    rng = random.Random(3)
    batches = [
        [(i, _text(rng, 10), "u") for i in range(1, 9)],
        [(2, _text(rng, 6), "u"), (3, None, "d"), (9, _text(rng, 10), "u")],
        [(9, _text(rng, 4), "u"), (1, None, "d")],
    ]
    seq = 0
    for i, b in enumerate(batches):
        _apply(src, spark, b, seq)
        seq += len(b)
        img = WindowImages(src)
        sync_corpus_stats(src, stats, images=img)
        sync_lsh_index(src, index, images=img)
        passages.sync(src, images=img)
        if i != 1:  # chunk view skips round 1 -> lags, heals on round 2
            sync_chunks(src, chunks, images=img)
        img.release()
    assert _actual_pairs(index) == _expected_pairs(src)
    want_pass = {
        (r["doc_id"], r["n_passages"], r["n_kept"], r["clean_text"])
        for r in dedup_passages(
            src.read().select("doc_id", "text"), window=3
        ).collect()
    }
    got_pass = {
        (r["doc_id"], r["n_passages"], r["n_kept"], r["clean_text"])
        for r in passages.result.read().collect()
    }
    assert got_pass == want_pass
    cur = src.read().select("doc_id", "text")
    want_chunks = {
        (r["doc_id"], r["chunk_no"], r["chunk_text"])
        for r in chunk_documents(cur, 4, 3).collect()
    }
    got_chunks = {
        (r["doc_id"], r["chunk_no"], r["chunk_text"])
        for r in chunks.read().collect()
    }
    assert got_chunks == want_chunks
    want_stats = {}
    for r in cur.collect():
        if r["text"]:
            seen = {}
            for t in r["text"].split(" "):
                seen[t] = seen.get(t, 0) + 1
            for t, c in seen.items():
                df_tf = want_stats.setdefault(t, [0, 0])
                df_tf[0] += 1
                df_tf[1] += c
    got_stats = {
        r["token"]: [r["df"], r["tf"]]
        for r in stats["stats"].read().collect()
    }
    assert got_stats == want_stats


def test_sync_window_crosses_rebucket(spark, tmpdir_path):
    """A background rebucket lands between two syncs: the next window's
    PRE-image read must resolve bucket ids against the OLD layout (the
    current layout's ids don't exist in the old snapshot — pruning with
    them would silently drop retractions). Updates of pre-rebucket docs
    must fully retract their stale derived rows."""
    from jitsu_spark.lake.mirror import WindowImages
    from jitsu_spark.text.chunk import chunk_documents
    from jitsu_spark.text.chunk_ivm import create_chunk_table, sync_chunks

    src = LakeTable.create(
        spark, os.path.join(tmpdir_path, "src"), DOC_SCHEMA, "doc_id",
        n_buckets=4, properties={"write.mode": "mor"},
    )
    index = create_lsh_index(
        spark, os.path.join(tmpdir_path, "ix"),
        k=K, bands=BANDS, shingle_n=NGRAM, n_buckets=8,
    )
    chunks = create_chunk_table(
        spark, os.path.join(tmpdir_path, "ch"), window=4, stride=3,
        n_buckets=8,
    )
    rng = random.Random(19)
    docs = [(i, _text(rng, 10), "u") for i in range(1, 17)]
    _apply(src, spark, docs, 0)
    img = WindowImages(src)
    sync_lsh_index(src, index, images=img)
    sync_chunks(src, chunks, images=img)
    img.release()

    src.rebucket(factor=4)  # 4 -> 16 buckets, folds deltas

    # update docs whose pre-images live under the OLD layout, delete one,
    # shrink another (chunk retraction beyond the new chunk count)
    _apply(src, spark, [
        (1, _text(rng, 12), "u"), (2, None, "d"), (3, _text(rng, 3), "u"),
        (17, _text(rng, 10), "u"),
    ], 20)
    img = WindowImages(src)
    sync_lsh_index(src, index, images=img)
    sync_chunks(src, chunks, images=img)
    img.release()

    assert _actual_pairs(index) == _expected_pairs(src)
    cur = src.read().select("doc_id", "text")
    got = {
        (r["doc_id"], r["chunk_no"], r["chunk_text"])
        for r in chunks.read().collect()
    }
    want = {
        (r["doc_id"], r["chunk_no"], r["chunk_text"])
        for r in chunk_documents(cur, 4, 3).collect()
    }
    assert got == want
    # no stale index rows for the deleted doc
    assert not any(
        r["doc"] == 2 for r in index.read().select("doc").collect()
    )


def test_shared_images_reject_wrong_upstream(spark, tmpdir_path):
    from jitsu_spark.lake.mirror import WindowImages

    a = _mk_src(spark, os.path.join(tmpdir_path, "a"))
    b = _mk_src(spark, os.path.join(tmpdir_path, "b"))
    index = create_lsh_index(
        spark, os.path.join(tmpdir_path, "ix"),
        k=K, bands=BANDS, shingle_n=NGRAM, n_buckets=8,
    )
    _apply(b, spark, [(1, "alpha beta gamma delta", "u")], 0)
    with pytest.raises(ValueError, match="one upstream"):
        sync_lsh_index(b, index, images=WindowImages(a))


def test_chunk_table_rejects_key_containing_prefix_separator(spark, tmpdir_path):
    """The bucket.prefix_sep contract requires the prefix component to be
    separator-free; a STRING doc id containing '#' would silently hash a
    different prefix than probe pruning expects, so sync must fail
    loudly at derive time instead."""
    from jitsu_spark.text.chunk_ivm import create_chunk_table, sync_chunks

    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
    src = LakeTable.create(
        spark, os.path.join(tmpdir_path, "src"), schema, "doc_id",
        n_buckets=4, properties={"write.mode": "mor"},
    )
    chunks = create_chunk_table(
        spark, os.path.join(tmpdir_path, "ch"), window=4, stride=3,
        key_type=T.StringType(), n_buckets=4,
    )
    ok = spark.createDataFrame(
        [("doc-1", "alpha beta gamma delta epsilon", 0, "u")],
        "doc_id string, text string, seq long, op string",
    )
    merge_batch(src, ok, batch_id="b0", job_id="up")
    sync_chunks(src, chunks)  # separator-free ids are fine
    assert chunks.read().count() > 0

    bad = spark.createDataFrame(
        [("doc#2", "alpha beta gamma delta epsilon", 1, "u")],
        "doc_id string, text string, seq long, op string",
    )
    merge_batch(src, bad, batch_id="b1", job_id="up")
    with pytest.raises(Exception, match="must not contain"):
        sync_chunks(src, chunks)


def test_probe_pins_one_index_snapshot(spark, tmpdir_path, monkeypatch):
    """The probe loads the index snapshot twice: once for the banding
    parameters and once shared by the bucket ids and the pruned read (a
    concurrent rebucket cannot pair two layouts)."""
    from jitsu_spark.lake import metadata as md

    rng = random.Random(13)
    src = _mk_src(spark, os.path.join(tmpdir_path, "src"))
    index = create_lsh_index(
        spark, os.path.join(tmpdir_path, "ix"),
        k=K, bands=BANDS, shingle_n=NGRAM, n_buckets=8,
    )
    _apply(src, spark, [(i, _text(rng, 12), "u") for i in range(1, 11)], 0)
    sync_lsh_index(src, index)

    loads = []
    load = md.load_snapshot
    monkeypatch.setattr(
        md, "load_snapshot", lambda root, v=None: loads.append(root) or load(root, v)
    )
    probes = spark.createDataFrame([(101, _text(rng, 12))], DOC_SCHEMA)
    probe_lsh_index(index, probes, "doc_id", "text").collect()
    assert loads.count(index.root) == 2
