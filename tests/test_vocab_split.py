"""Vocab build/encode + corpus split (jitsu_spark/text/{vocab,split}.py)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from jitsu_spark.text.split import split_corpus
from jitsu_spark.text.vocab import OOV_ID, build_vocab, encode_documents


def test_vocab_order_and_ids(spark):
    df = spark.createDataFrame(
        [(1, "b b b a a c"), (2, "a b d")], "doc_id int, text string"
    )
    v = {r["token"]: r for r in build_vocab(df, 3).collect()}
    # counts: b=4, a=3, c=1, d=1 -> top3 = b(0), a(1), c(2) (tie c<d)
    assert set(v) == {"b", "a", "c"}
    assert v["b"]["token_id"] == 0 and v["b"]["n_occurrences"] == 4
    assert v["a"]["token_id"] == 1
    assert v["c"]["token_id"] == 2


def test_encode_preserves_order_and_counts_oov(spark):
    df = spark.createDataFrame(
        [(1, "b a zz b"), (2, "zz yy")], "doc_id int, text string"
    )
    vocab = build_vocab(df, 2)  # b(0) count2, then tie a/yy/zz... count1
    enc = {r["doc_id"]: r for r in encode_documents(df, vocab).collect()}
    v = {r["token"]: r["token_id"] for r in vocab.collect()}
    assert v["b"] == 0
    other = next(t for t in v if t != "b")
    e1 = enc[1]
    assert e1["n_tokens"] == 4
    expect = [v.get("b"), v.get("a", OOV_ID), v.get("zz", OOV_ID), v.get("b")]
    assert list(e1["token_ids"]) == expect
    assert e1["n_oov"] == sum(1 for x in expect if x == OOV_ID)
    assert enc[2]["n_tokens"] == 2
    # ids are dense 0..V-1
    assert sorted(v.values()) == [0, 1]
    assert other in ("a", "yy", "zz")


def test_encode_deterministic_across_partitioning(spark):
    rows = [(i, f"t{i % 7} t{i % 3} t{i % 7}") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    vocab = build_vocab(df, 5)
    a = encode_documents(df.repartition(1), vocab).select(
        "doc_id", F.col("token_ids").cast("string").alias("s")
    )
    b = encode_documents(df.repartition(8, "doc_id"), vocab).select(
        "doc_id", F.col("token_ids").cast("string").alias("s")
    )
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_split_partitions_and_fractions(spark):
    df = spark.createDataFrame(
        [(i,) for i in range(2000)], "doc_id long"
    )
    out = split_corpus(df, {"train": 0.8, "val": 0.1, "test": 0.1}, seed=3)
    by = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(by) == {"train", "val", "test"}
    assert sum(by.values()) == 2000  # exactly one split per doc
    assert 1500 <= by["train"] <= 1700
    assert 120 <= by["val"] <= 280 and 120 <= by["test"] <= 280
    # deterministic: same seed same assignment
    again = split_corpus(df, {"train": 0.8, "val": 0.1, "test": 0.1}, seed=3)
    assert out.exceptAll(again).count() == 0


def test_split_rejects_bad_fractions(spark):
    df = spark.createDataFrame([(1,)], "doc_id long")
    with pytest.raises(ValueError):
        split_corpus(df, {"a": 0.5, "b": 0.4})
    with pytest.raises(ValueError):
        split_corpus(df, {"a": 1.5, "b": -0.5})


def test_shard_corpus_balanced_and_deterministic(spark):
    from jitsu_spark.text.shard import shard_corpus

    df = spark.createDataFrame([(i,) for i in range(4000)], "doc_id long")
    out = shard_corpus(df, 8, seed=2).cache()
    sizes = {r["shard"]: r["n"] for r in out.groupBy("shard").agg(F.count("*").alias("n")).collect()}
    assert set(sizes) == set(range(8))
    assert all(350 <= n <= 650 for n in sizes.values())  # ~500 each
    # pos_in_shard is dense 0..n-1 per shard
    dense = out.groupBy("shard").agg(
        F.max("pos_in_shard").alias("mx"), F.count("*").alias("n"), F.min("pos_in_shard").alias("mn")
    )
    assert dense.filter((F.col("mx") != F.col("n") - 1) | (F.col("mn") != 0)).count() == 0
    # stable across partitioning
    again = shard_corpus(df.repartition(13), 8, seed=2)
    assert out.exceptAll(again).count() == 0 and again.exceptAll(out.select(*again.columns)).count() == 0
    # different seed -> different layout
    other = shard_corpus(df, 8, seed=3)
    assert out.exceptAll(other).count() > 0
    out.unpersist()


def test_shard_corpus_rejects_bad_n(spark):
    from jitsu_spark.text.shard import shard_corpus

    df = spark.createDataFrame([(1,)], "doc_id long")
    with pytest.raises(ValueError):
        shard_corpus(df, 0)


def test_encode_map_and_join_paths_equivalent(spark, monkeypatch):
    """The map-literal and the broadcast-dict UDF encodes both answer
    exactly like a pure-Python dict encode, NULL text included; a vocab
    over MAX_VOCAB_ROWS is refused, never collected."""
    from jitsu_spark.text import vocab as vocab_mod

    rows = [(i, f"t{i % 9} zz t{i % 4} t{i % 9}") for i in range(200)] + [
        (999, None)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    vocab = build_vocab(df, 6)
    ids = {r["token"]: r["token_id"] for r in vocab.collect()}
    expected = {}
    for doc_id, text in rows:
        enc = [ids.get(w, OOV_ID) for w in (text or "").split(" ")]
        expected[doc_id] = (len(enc), enc.count(OOV_ID), enc)

    def encoded():
        return {
            r["doc_id"]: (r["n_tokens"], r["n_oov"], list(r["token_ids"]))
            for r in encode_documents(df, vocab).collect()
        }

    assert encoded() == expected  # 6 rows <= MAP_LITERAL_MAX: map literal
    monkeypatch.setattr(vocab_mod, "MAP_LITERAL_MAX", 2)
    assert encoded() == expected  # above the map cap: the Arrow UDF
    monkeypatch.setattr(vocab_mod, "MAX_VOCAB_ROWS", 5)
    with pytest.raises(ValueError, match="MAX_VOCAB_ROWS"):
        encode_documents(df, vocab)
