"""The composed training-data stack, end to end: documents stream in as
CDC micro-batches and FOUR derived views — corpus stats (idf/LM model
state), LSH band index, chunk table, passage-dedup result — stay
continuously fresh via post_commit, all synced through ONE shared
WindowImages per batch, with in-stream compaction folding the stream
table's deltas after EVERY batch (the regime that used to wedge
changes() consumers). Final state of every view == its batch recompute;
checkpoint redelivery touches nothing."""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from jitsu_spark.dedup.lsh_index import (
    create_lsh_index,
    index_pairs,
    sync_lsh_index,
)
from jitsu_spark.dedup.minhash import lsh_candidate_pairs
from jitsu_spark.lake.mirror import WindowImages
from jitsu_spark.lake.table import LakeTable
from jitsu_spark.streaming import CdcStreamJob
from jitsu_spark.text.chunk import chunk_documents
from jitsu_spark.text.chunk_ivm import create_chunk_table, sync_chunks
from jitsu_spark.text.passage_ivm import PassageDedupView
from jitsu_spark.text.passages import dedup_passages
from jitsu_spark.text.term_stats import create_corpus_stats, sync_corpus_stats

LOG_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("seq", T.LongType()),
        T.StructField("op", T.StringType()),
    ]
)
DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def test_tokens_stack_stays_fresh_through_stream(spark, tmpdir_path):
    base = "alpha beta gamma delta epsilon zeta"
    b1 = [
        (1, base + " one two three", 0, "u"),
        (2, base + " four five six", 1, "u"),
        (3, "unrelated words entirely here now", 2, "u"),
        (4, "", 3, "u"),
    ]
    b2 = [
        (1, "rewritten completely different text now", 4, "u"),
        (3, None, 5, "d"),
        (5, base + " seven eight nine", 6, "u"),
    ]
    b3 = [(2, None, 7, "d"), (6, base + " four five six", 8, "u")]
    src_dir = os.path.join(tmpdir_path, "log")
    for b in (b1, b2, b3):
        spark.createDataFrame(b, LOG_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)

    table = LakeTable.create(
        spark, os.path.join(tmpdir_path, "tbl"), DOC_SCHEMA, "doc_id",
        n_buckets=4, properties={"write.mode": "mor"},
    )
    stats = create_corpus_stats(
        spark, os.path.join(tmpdir_path, "stats"), n_buckets=4
    )
    index = create_lsh_index(
        spark, os.path.join(tmpdir_path, "lsh"), k=8, bands=4, shingle_n=2,
        n_buckets=4,
    )
    chunks = create_chunk_table(
        spark, os.path.join(tmpdir_path, "ch"), window=4, stride=3,
        n_buckets=4,
    )
    passages = PassageDedupView.create(
        spark, os.path.join(tmpdir_path, "pv"), window=3, n_buckets=4,
    )

    def sync_all(batch_id):
        img = WindowImages(table)
        try:
            sync_corpus_stats(table, stats, images=img)
            sync_lsh_index(table, index, images=img)
            sync_chunks(table, chunks, images=img)
            passages.sync(table, images=img)
        finally:
            img.release()

    def make_job():
        return CdcStreamJob(
            table=table,
            source_dir=src_dir,
            checkpoint_dir=os.path.join(tmpdir_path, "ckpt"),
            source_schema=LOG_SCHEMA,
            max_files_per_trigger=1,
            job_id="stack",
            post_commit=sync_all,
            compact_max_files_per_bucket=1,  # fold any bucket past 1 file
        )

    make_job().run_available_now(spark)
    assert any(e.get("kind") == "compact" for e in table.snapshot().lineage)

    cur = table.read().select("doc_id", "text")

    # LSH index == batch LSH over the live corpus
    got_pairs = {(r["id_a"], r["id_b"]) for r in index_pairs(index).collect()}
    want_pairs = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(
            cur, "doc_id", "text", k=8, bands=4, shingle_n=2
        ).collect()
    }
    assert got_pairs == want_pairs
    assert not any(2 in p for p in got_pairs)  # doc 2 was deleted

    # chunk table == batch chunking
    got_ch = {
        (r["doc_id"], r["chunk_no"], r["chunk_text"])
        for r in chunks.read().collect()
    }
    want_ch = {
        (r["doc_id"], r["chunk_no"], r["chunk_text"])
        for r in chunk_documents(cur, 4, 3).collect()
    }
    assert got_ch == want_ch

    # passage result == batch dedup
    got_pass = {
        (r["doc_id"], r["n_kept"], r["clean_text"])
        for r in passages.result.read().collect()
    }
    want_pass = {
        (r["doc_id"], r["n_kept"], r["clean_text"])
        for r in dedup_passages(cur, window=3).collect()
    }
    assert got_pass == want_pass

    # corpus stats == batch df/tf recompute
    want_stats = {}
    live = [(r["doc_id"], r["text"]) for r in cur.collect() if r["text"]]
    for _, text in live:
        seen = {}
        for t in text.split(" "):
            seen[t] = seen.get(t, 0) + 1
        for t, c in seen.items():
            e = want_stats.setdefault(t, [0, 0])
            e[0] += 1
            e[1] += c
    got_stats = {
        r["token"]: [r["df"], r["tf"]]
        for r in stats["stats"].read().collect()
    }
    assert got_stats == want_stats
    assert [r["n_docs"] for r in stats["meta"].read().collect()] == [len(live)]

    # checkpoint redelivery: every table version untouched
    versions = (
        [t.snapshot().version for t in stats.values()]
        + [index.snapshot().version, chunks.snapshot().version,
           passages.result.snapshot().version]
    )
    make_job().run_available_now(spark)
    assert versions == (
        [t.snapshot().version for t in stats.values()]
        + [index.snapshot().version, chunks.snapshot().version,
           passages.result.snapshot().version]
    )
