"""Training-data pipeline ops: text analysis, dedup family, ANN, multimodal
plumbing. Correctness vs small hand-checkable fixtures + recall checks of
approximate paths against exact baselines."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from jitsu_spark.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signature,
    ngram_jaccard_pairs,
    simhash,
)
from jitsu_spark.dedup.simhash import simhash_near_pairs
from jitsu_spark.multimodal import (
    decode_features,
    frame_sample_offsets,
    synthetic_media_df,
)
from jitsu_spark.similarity import cosine_topk, cosine_topk_lsh, embedding_near_dups
from jitsu_spark.text import langid_expr, quality_features, bpe_ish_token_count


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
            Row(doc_id=2, text="the quick brown fox jumps over the lazy dog"),  # dup
            Row(doc_id=3, text="the quick brown fox leaps over the lazy dog"),  # near
            Row(doc_id=4, text="completely different content about spark engines"),
            Row(doc_id=5, text="der schnelle braune fuchs springt"),
        ]
    )


def test_exact_dedup(spark, docs):
    out = exact_dedup(docs, ["text"], "doc_id")
    rows = {r["keep_id"]: r["n_dups"] for r in out.collect()}
    assert rows[1] == 2  # docs 1+2 collapsed, min id kept
    assert rows[3] == 1 and rows[4] == 1
    assert out.count() == 4


def test_minhash_lsh_finds_near_dups(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(docs, "doc_id", "text", k=8, bands=4).collect()
    }
    assert (1, 2) in pairs  # exact dup always collides
    assert (1, 3) in pairs or (2, 3) in pairs  # near dup collides on >=1 band
    assert (1, 4) not in pairs  # unrelated docs don't


def test_short_docs_survive_shingling(spark):
    """Docs with fewer words than shingle_n (incl. empty) must not crash
    the n-gram pipeline — they collapse to one whole-doc shingle (pre-fix:
    F.sequence went negative and slice raised INVALID_PARAMETER_VALUE)."""
    short = spark.createDataFrame(
        [
            Row(doc_id=1, text=""),
            Row(doc_id=2, text="one"),
            Row(doc_id=3, text="two words"),
            Row(doc_id=4, text="two words"),  # exact dup of 3
            Row(doc_id=5, text="a normal length document with many words here"),
        ]
    )
    sig = minhash_signature(short, "text", k=4, shingle_n=3)
    assert sig.filter(F.col("mh0").isNull()).count() == 0
    pairs = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(
            short, "doc_id", "text", k=8, bands=4, shingle_n=3
        ).collect()
    }
    assert (3, 4) in pairs
    j = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            short, "doc_id", "text", shingle_n=3
        ).collect()
    }
    assert j[(3, 4)] == 1.0


def test_minhash_signature_deterministic(spark, docs):
    a = minhash_signature(docs, "text", k=4).collect()
    b = minhash_signature(docs, "text", k=4).collect()
    assert sorted(map(str, a)) == sorted(map(str, b))


def test_ngram_jaccard(spark, docs):
    j = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", shingle_n=3).collect()
    }
    assert j[(1, 2)] == 1.0  # identical docs
    if (1, 3) in j:
        assert 0 < j[(1, 3)] < 1.0


def test_simhash_near_pairs(spark, docs):
    fp = {r["doc_id"]: r["simhash"] for r in simhash(docs, "doc_id", "text").collect()}
    assert fp[1] == fp[2]  # identical text, identical fingerprint
    assert 0 <= fp[1] < (1 << 16)
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_pairs(docs, "doc_id", "text", max_hamming=4).collect()
    }
    assert pairs.get((1, 2)) == 0


def test_quality_and_langid(spark, docs):
    q = {r["doc_id"]: r for r in quality_features(docs, "text").collect()}
    assert q[1]["n_words"] == 9
    assert q[1]["is_short"] is True
    langs = {
        r["doc_id"]: r["lang"]
        for r in docs.withColumn("lang", langid_expr(F.col("text"))).collect()
    }
    assert langs[1] == "en" and langs[5] == "de"
    bpe = docs.select(bpe_ish_token_count(F.col("text")).alias("n")).collect()
    assert all(r["n"] > 0 for r in bpe)


@pytest.fixture(scope="module")
def embeddings(spark):
    import numpy as np

    rng = np.random.RandomState(0)
    base = rng.standard_normal((20, 16)).astype("float32")
    base[1] = base[0] + 0.01 * rng.standard_normal(16).astype("float32")  # near-dup
    rows = [Row(vec_id=i, embedding=[float(x) for x in base[i]]) for i in range(20)]
    return spark.createDataFrame(rows)


def test_cosine_topk_exact(spark, embeddings):
    out = cosine_topk(
        embeddings.filter(F.col("vec_id") == 0), embeddings, "vec_id", "vec_id", k=3
    ).collect()
    assert len(out) == 3
    assert out[0]["vec_id_c"] == 1 and out[0]["sim"] > 0.99  # planted neighbor
    assert [r["rank"] for r in out] == [1, 2, 3]
    assert out[0]["sim"] >= out[1]["sim"] >= out[2]["sim"]


def test_cosine_topk_caps_collected_query_side(spark, embeddings, monkeypatch):
    """The block kernel collects its small side on the Spark driver: above
    MAX_SIDE_ROWS rows it raises, naming the cap, instead of collecting."""
    from jitsu_spark.similarity import ann

    monkeypatch.setattr(ann, "MAX_SIDE_ROWS", 4)
    with pytest.raises(ValueError, match="MAX_SIDE_ROWS=4"):
        cosine_topk(
            embeddings.filter(F.col("vec_id") < 5), embeddings, "vec_id", "vec_id"
        )
    at_cap = cosine_topk(
        embeddings.filter(F.col("vec_id") < 4), embeddings, "vec_id", "vec_id", k=1
    )
    assert at_cap.count() == 4


def test_cosine_topk_lsh_recall(spark, embeddings):
    queries = embeddings.filter(F.col("vec_id") < 5)
    exact = cosine_topk(queries, embeddings, "vec_id", "vec_id", k=3)
    approx = cosine_topk_lsh(
        queries, embeddings, "vec_id", "vec_id", k=3, n_planes=4, n_probes=4
    )
    e = {(r["vec_id_q"], r["vec_id_c"]) for r in exact.collect()}
    a = {(r["vec_id_q"], r["vec_id_c"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # random gaussian vectors have no angular clusters, so LSH recall is
    # bounded by the probed fraction of buckets (~5/16 here); the planted
    # genuinely-near pair below is the semantic guarantee.
    assert recall >= 0.2, f"LSH recall too low: {recall}"
    # the planted near-identical pair must be found even approximately
    assert (0, 1) in a


def test_embedding_near_dups(spark, embeddings):
    pairs = embedding_near_dups(
        embeddings, "vec_id", threshold=0.95, n_planes=6
    ).collect()
    assert any((r["id_a"], r["id_b"]) == (0, 1) for r in pairs)


def test_multimodal_plumbing(spark):
    media = synthetic_media_df(spark, 50, seed=1)
    assert media.schema["payload"].dataType.simpleString() == "binary"
    feats = decode_features(media)
    rows = feats.collect()
    assert len(rows) == 50
    assert all(len(r["features"]) == 16 for r in rows)
    assert all(r["n_bytes"] == 32 for r in rows)
    # determinism of the stub decode (replay-safe)
    again = {r["media_id"]: r["features"] for r in decode_features(media).collect()}
    first = {r["media_id"]: r["features"] for r in rows}
    assert first == again
    frames = frame_sample_offsets(media, every_ms=10000)
    f = frames.collect()
    assert len(f) > 0 and all(r["frame_ms"] >= 0 for r in f)


def test_ivf_topk_full_probe_equals_exact(spark, embeddings):
    """Probing every cell makes IVF candidates = the whole corpus, so the
    result must equal brute-force top-k exactly; default probing keeps
    recall@5 high."""
    from jitsu_spark.similarity import cosine_topk, ivf_topk

    queries = embeddings.filter(F.col("vec_id") < 5)
    exact = {
        (r["vec_id_q"], r["vec_id_c"])
        for r in cosine_topk(
            queries, embeddings, "vec_id", "vec_id", "embedding", k=5
        ).collect()
    }
    n_cells = 10
    full = {
        (r["vec_id_q"], r["vec_id_c"])
        for r in ivf_topk(
            queries, embeddings, "vec_id", "vec_id", "embedding",
            k=5, n_centroids=n_cells, n_probe=n_cells,
        ).collect()
    }
    assert full == exact
    probed = {
        (r["vec_id_q"], r["vec_id_c"])
        for r in ivf_topk(
            queries, embeddings, "vec_id", "vec_id", "embedding",
            k=5, n_centroids=n_cells, n_probe=3,
        ).collect()
    }
    recall = len(probed & exact) / len(exact)
    assert recall >= 0.5, recall


def test_pack_tokens_matches_reference_packing(spark):
    """Packing must equal the doc_id-ordered concatenate-then-chunk
    reference for every pack, across partition and document boundaries."""
    from jitsu_spark.text.packing import pack_tokens

    docs = [(f"d{i:03d}", list(range(i * 100, i * 100 + (i % 7) + 1))) for i in range(40)]
    df = spark.createDataFrame(docs, ["doc_id", "tokens"]).repartition(5)
    max_len = 10
    out = {
        r["pack_id"]: r["tokens"]
        for r in pack_tokens(df, max_len=max_len, n_partitions=4).collect()
    }
    stream = []
    for _, toks in sorted(docs):
        stream.extend(toks)
    expected = {
        g: stream[g * max_len : (g + 1) * max_len]
        for g in range(0, (len(stream) + max_len - 1) // max_len)
    }
    assert out == expected
    assert all(len(t) == max_len for pid, t in out.items() if pid != max(out))


def test_pack_tokens_handles_empty_and_null(spark):
    from pyspark.sql import types as T

    from jitsu_spark.text.packing import pack_tokens

    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("tokens", T.ArrayType(T.IntegerType())),
        ]
    )
    df = spark.createDataFrame(
        [("a", [1, 2, 3]), ("b", []), ("c", None), ("d", [4, 5])], schema
    )
    out = {r["pack_id"]: r["tokens"] for r in pack_tokens(df, max_len=4).collect()}
    assert out == {0: [1, 2, 3, 4], 1: [5]}


def test_connected_components_transitive_groups(spark):
    """A~B and B~C collapse into one component even without an A~C pair;
    disjoint pairs stay separate; a chain converges within max_iter."""
    from jitsu_spark.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8), (10, 11), (11, 12), (12, 13), (13, 14)],
        ["id_a", "id_b"],
    )
    comp = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[7] == comp[8] == 7
    assert comp[10] == comp[11] == comp[12] == comp[13] == comp[14] == 10
    assert len(set(comp.values())) == 3


def test_near_dup_components_end_to_end(spark, docs):
    """The full pipeline groups the exact+near duplicates (docs 1,2,3)
    and marks the min id as keeper."""
    from jitsu_spark.dedup import near_dup_components

    out = {r["doc_id"]: r for r in near_dup_components(
        docs, "doc_id", "text", min_jaccard=0.3
    ).collect()}
    assert set(out) >= {1, 2, 3}
    assert out[1]["component"] == out[2]["component"] == out[3]["component"] == 1
    assert out[1]["is_keeper"] and not out[2]["is_keeper"]
    assert 4 not in out and 5 not in out  # unrelated docs form no group


def test_select_training_corpus_gates(spark):
    """Each gate (quality, language, exact dup, near dup) must
    independently knock a doc out; survivors are selected."""
    from jitsu_spark.text import select_training_corpus

    long_en = ("the quick brown fox jumps over the lazy dog and then " * 3).strip()
    docs = spark.createDataFrame(
        [
            (1, long_en),                      # keeper
            (2, long_en),                      # exact dup of 1 -> dropped
            (3, "the short one"),              # too short -> dropped
            (4, ("der schnelle braune fuchs springt ueber den faulen hund " * 3).strip()),  # not en
            (5, long_en.replace("lazy", "idle")),  # near dup of 1 -> dropped
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in select_training_corpus(
        docs, min_words=16, languages=("en",), min_jaccard=0.5
    ).collect()}
    assert out[1]["selected"]
    assert not out[2]["selected"] and not out[2]["is_exact_keeper"]
    assert not out[3]["selected"] and out[3]["n_words"] < 16
    assert not out[4]["selected"] and out[4]["lang"] == "de"
    assert not out[5]["selected"] and not out[5]["is_near_keeper"]
    assert out[5]["is_exact_keeper"]  # dropped only by the near-dup gate


def test_ivf_topk_with_kmeans_centroids(spark, embeddings):
    """KMeans coarse quantizer plugs into the same IVF plumbing; the
    planted near-identical pair must land in the same cell and be found."""
    from jitsu_spark.similarity import ivf_topk, kmeans_centroids

    cent = kmeans_centroids(embeddings, "embedding", n_centroids=4, seed=7)
    assert cent.count() == 4
    queries = embeddings.filter(F.col("vec_id") == 0)
    out = ivf_topk(
        queries, embeddings, "vec_id", "vec_id", "embedding",
        k=3, n_probe=1, centroids=cent,
    ).collect()
    assert out and out[0]["vec_id_c"] == 1 and out[0]["sim"] > 0.99


def test_connected_components_long_chain_converges(spark):
    """A 64-node path has diameter 63 — plain neighbor-min propagation
    would need 63 rounds; pointer jumping must close it within the
    default max_iter (O(log d) rounds)."""
    from jitsu_spark.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 163)], ["id_a", "id_b"]
    )
    comp = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert set(comp.values()) == {100}
    assert len(comp) == 64


def test_lsh_bucket_cap_bounds_degenerate_buckets(spark):
    """10k identical docs put ALL rows in one bucket per band; without the
    cap the self-join is 4 x 10k^2 = 4*10^8 rows. With the cap the query
    completes in bounded time, returns no pairs, and lsh_bucket_stats
    reports the exact skipped inventory (never a silent cap)."""
    import time

    from jitsu_spark.dedup.minhash import lsh_bucket_stats

    docs = spark.range(10_000).select(
        F.concat(F.lit("d"), F.format_string("%05d", "id")).alias("doc_id"),
        F.lit("the same boilerplate sentence repeated everywhere").alias("text"),
    )
    t0 = time.time()
    pairs = lsh_candidate_pairs(
        docs, "doc_id", "text", k=8, bands=4, max_bucket_size=100,
    )
    assert pairs.count() == 0
    assert time.time() - t0 < 60
    stats = lsh_bucket_stats(
        docs, "doc_id", "text", k=8, bands=4, max_bucket_size=100
    )
    assert stats["skipped_buckets"] == 4           # one degenerate bucket/band
    assert stats["rows_in_skipped_buckets"] == 40_000
    assert stats["max_bucket"] == 10_000

    # mixed corpus: real near-dup pairs in small buckets still surface
    mixed = docs.limit(200).unionByName(
        spark.createDataFrame(
            [("u1", "alpha beta gamma delta"), ("u2", "alpha beta gamma delta")],
            "doc_id string, text string",
        )
    )
    found = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(
            mixed, "doc_id", "text", k=8, bands=4, max_bucket_size=100
        ).collect()
    }
    assert ("u1", "u2") in found
    assert all(a.startswith("u") for a, b in found)


def test_pack_tokens_reliable_mode_identical(spark, tmp_path):
    """reliable=True (durable checkpoint / DISK_ONLY persist) must produce
    byte-identical packs to the localCheckpoint default — it only changes
    WHERE the pinned partitioning is materialized."""
    from jitsu_spark.text import pack_tokens

    docs = spark.range(300).select(
        F.concat(F.lit("d"), F.format_string("%04d", "id")).alias("doc_id"),
        F.sequence(F.lit(0), (F.col("id") % 37).cast("int")).alias("tokens"),
    )

    def packs(df):
        return {
            r["pack_id"]: (r["tokens"], r["n_tok"])
            for r in pack_tokens(df, max_len=128, n_partitions=4).collect()
        }

    base = packs(docs)
    got_persist = {
        r["pack_id"]: (r["tokens"], r["n_tok"])
        for r in pack_tokens(
            docs, max_len=128, n_partitions=4, reliable=True
        ).collect()
    }
    assert got_persist == base

    # with a checkpoint dir set, reliable=True takes the checkpoint path
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        got_ckpt = {
            r["pack_id"]: (r["tokens"], r["n_tok"])
            for r in pack_tokens(
                docs, max_len=128, n_partitions=4, reliable=True
            ).collect()
        }
    finally:
        spark.sparkContext.setCheckpointDir(None)
    assert got_ckpt == base


def test_cc_star_equals_pointer_jumping_on_random_graphs(spark):
    """Property: on seeded random graphs both CC algorithms produce the
    same partition with the same min-id component labels."""
    import random

    from jitsu_spark.dedup import connected_components

    for seed in (1, 7, 42):
        rnd = random.Random(seed)
        n = 60
        edges = [
            (f"n{rnd.randrange(n):03d}", f"n{rnd.randrange(n):03d}")
            for _ in range(45)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        pairs = spark.createDataFrame(edges, "id_a string, id_b string")
        jump = {
            r["node"]: r["component"]
            for r in connected_components(pairs, algorithm="jump").collect()
        }
        star = {
            r["node"]: r["component"]
            for r in connected_components(pairs, algorithm="star").collect()
        }
        assert jump == star, f"seed={seed}"
        # labels are genuine minima of their components
        assert all(v <= k for k, v in star.items())


def test_cc_star_converges_on_pathological_chain(spark):
    """A 200-node path graph: label propagation alone would need ~200
    rounds and even pointer jumping needs ~8; the star variant collapses
    it within its round budget and labels every node with the chain head."""
    import pytest

    from jitsu_spark.dedup import connected_components

    chain = [(f"c{i:04d}", f"c{i + 1:04d}") for i in range(200)]
    pairs = spark.createDataFrame(chain, "id_a string, id_b string")

    comp = {
        r["node"]: r["component"]
        for r in connected_components(pairs, algorithm="star").collect()
    }
    assert len(comp) == 201
    assert set(comp.values()) == {"c0000"}

    # the jump variant with a starved round budget raises instead of
    # silently under-merging — the star variant is the documented swap
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(pairs, algorithm="jump", max_iter=2)


def test_ngram_contamination_exact_and_hash_equivalence(spark):
    """Hand-built corpus with known trigram overlaps; hashed-key and
    raw-string joins must agree; the bench probe must be a broadcast
    join (the corpus side never shuffles to find hits)."""
    from jitsu_spark.text.decontam import ngram_contamination

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], ["doc_id", "text"]
    )
    # bench trigrams: {the quick brown, quick brown fox, brown fox jumps}
    train = spark.createDataFrame(
        [
            (1, "a the quick brown fox ran"),  # hits: 2 (the quick brown, quick brown fox)
            (2, "totally unrelated words here"),  # hits: 0
            (3, "brown fox jumps brown fox jumps x"),  # 4 DISTINCT shingles; 1 bench hit
            (4, "hi"),  # short doc -> whole-doc shingle, 0 hits
        ],
        ["doc_id", "text"],
    )
    out = ngram_contamination(train, bench, n=3)
    got = {r["doc_id"]: (r["n_shingles"], r["n_hit"]) for r in out.collect()}
    assert got == {1: (4, 2), 2: (2, 0), 3: (4, 1), 4: (1, 0)}

    raw = ngram_contamination(train, bench, n=3, hash_shingles=False)
    assert {tuple(r) for r in raw.collect()} == {tuple(r) for r in out.collect()}

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_cluster_assign_and_balanced_sample(spark, embeddings):
    from pyspark.sql import functions as F

    from jitsu_spark.similarity.curation import (
        assign_clusters,
        cluster_balanced_sample,
    )

    from jitsu_spark.similarity import sampled_centroids

    e = embeddings.select("vec_id", "embedding")
    a = assign_clusters(e, "vec_id").cache()
    # exactly one cluster per vector; the default centroid count is
    # isqrt(N), independent of any stride knob
    assert a.count() == e.count()
    assert a.groupBy("vec_id").count().filter("count != 1").count() == 0
    cent_ids = {
        r["_cent_id"] for r in sampled_centroids(e, "vec_id").collect()
    }
    import math

    assert len(cent_ids) == math.isqrt(e.count())
    # centroids land in their own cluster with sim ~1
    own = a.filter(F.col("vec_id").isin(*cent_ids))
    assert own.count() == len(cent_ids)
    assert own.filter(F.col("cluster") != F.col("vec_id")).count() == 0
    assert own.filter(F.col("cluster_sim") < 0.999999).count() == 0

    s = cluster_balanced_sample(e, "vec_id", cap=3).cache()
    sizes = s.groupBy("cluster").count()
    assert sizes.filter("count > 3").count() == 0
    # clusters smaller than the cap keep every member
    asize = {r["cluster"]: r["n"] for r in a.groupBy("cluster").agg(F.count("*").alias("n")).collect()}
    ssize = {r["cluster"]: r["count"] for r in sizes.collect()}
    for c, n in asize.items():
        assert ssize.get(c, 0) == min(n, 3)
    # deterministic under repartitioning
    s2 = cluster_balanced_sample(e.repartition(7), "vec_id", cap=3)
    assert s.exceptAll(s2).count() == 0 and s2.exceptAll(s.select(*s2.columns)).count() == 0
    a.unpersist(); s.unpersist()


def test_cluster_balanced_sample_rejects_bad_cap(spark, embeddings):
    import pytest as _pt

    from jitsu_spark.similarity.curation import cluster_balanced_sample

    with _pt.raises(ValueError):
        cluster_balanced_sample(embeddings, "vec_id", cap=0)
