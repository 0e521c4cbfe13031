"""Incrementally maintained IVF ANN index (similarity/ivf_index.py) vs
full recomputes after every upstream batch — inserts, cell-moving
updates (stale-cell retraction), deletes, probe-vs-batch-ivf_topk
equality, persisted centroids, NULL vectors, and redelivery idempotence;
the cell kernel against a pure-Python brute force, and degenerate
(zero-norm, NULL, off-dim) vectors across the whole similarity family.
"""

from __future__ import annotations

import json
import math
import os
import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jitsu_spark.lake.merge import merge_batch
from jitsu_spark.lake.table import LakeTable
from jitsu_spark.similarity.ann import ivf_topk
from jitsu_spark.similarity.curation import assign_clusters
from jitsu_spark.similarity.ivf_index import (
    PARAMS_PROP,
    create_ivf_index,
    index_assignments,
    index_centroids,
    load_ivf_index,
    probe_ivf_index,
    sync_ivf_index,
)

VEC_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)

DIM = 4


def _vec(rng):
    return [round(rng.uniform(-1, 1), 3) for _ in range(DIM)]


def _mk_src(spark, root):
    return LakeTable.create(
        spark, root, VEC_SCHEMA, "vec_id", n_buckets=8,
        properties={"write.mode": "mor"},
    )


def _apply(src, spark, rows, seq0):
    data = [(int(i), v, seq0 + n, op) for n, (i, v, op) in enumerate(rows)]
    df = spark.createDataFrame(
        data, "vec_id long, embedding array<float>, seq long, op string"
    )
    merge_batch(src, df, batch_id=f"b{seq0}", job_id="up")


def _centroid_frame(spark, vecs):
    return spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in vecs],
        "_cent_id long, _cent_vec array<double>",
    )


def _cos(a, b):
    na = math.sqrt(math.fsum(x * x for x in a))
    nb = math.sqrt(math.fsum(x * x for x in b))
    if na == 0.0 or nb == 0.0:
        return None
    return math.fsum(x * y for x, y in zip(a, b)) / (na * nb)


def _brute_assign(rows, cent):
    """Independent reference for the cell kernel, in pure Python:
    {(vec_id, cell, cell_sim)} with the 6dp-rounded cosine, ties to the
    smaller centroid id; a vector without a defined sim gets no cell."""
    cents = sorted((r["_cent_id"], r["_cent_vec"]) for r in cent.collect())
    out = set()
    for vid, vec in rows:
        if vec is None:
            continue
        sims = [
            (round(s, 6), cid)
            for cid, cv in cents
            if (s := _cos(vec, cv)) is not None
        ]
        if sims:
            sim, cid = min(sims, key=lambda t: (-t[0], t[1]))
            out.add((vid, cid, sim))
    return out


def _expected_assign(src, cent):
    rows = [
        (r["vec_id"], r["embedding"])
        for r in src.read().select("vec_id", "embedding").collect()
    ]
    return {(vid, cid) for vid, cid, _ in _brute_assign(rows, cent)}


def _actual_assign(index):
    return {
        (r["vec_id"], r["cell"]) for r in index_assignments(index).collect()
    }


def test_index_tracks_batch_assignment_through_cdc_history(
    spark, tmpdir_path
):
    rng = random.Random(7)
    src = _mk_src(spark, os.path.join(tmpdir_path, "src"))
    cent = _centroid_frame(
        spark, [(i, _vec(rng)) for i in range(4)]
    )
    index = create_ivf_index(
        spark, os.path.join(tmpdir_path, "ix"), cent, n_buckets=8
    )
    batches = [
        [(i, _vec(rng), "u") for i in range(1, 9)],
        # updates move vectors between cells; delete one; no-op delete
        [(2, _vec(rng), "u"), (5, _vec(rng), "u"), (3, None, "d"),
         (99, None, "d")],
        [(9, _vec(rng), "u"), (1, None, "d"), (2, _vec(rng), "u")],
    ]
    seq = 0
    for b in batches:
        _apply(src, spark, b, seq)
        seq += len(b)
        res = sync_ivf_index(src, index)
        assert not res.skipped
        assert _actual_assign(index) == _expected_assign(src, cent)
    # exactly one index row per live vector
    assert index.read().count() == src.read().count()


def test_update_retracts_stale_cell_row(spark, tmpdir_path):
    """Force a cell move with hand-picked vectors: the old cell's row
    must vanish, exactly one row survives, in the new cell."""
    src = _mk_src(spark, os.path.join(tmpdir_path, "src"))
    cent = _centroid_frame(
        spark, [(0, [1, 0, 0, 0]), (1, [0, 1, 0, 0])]
    )
    index = create_ivf_index(
        spark, os.path.join(tmpdir_path, "ix"), cent, n_buckets=8
    )
    _apply(src, spark, [(1, [0.9, 0.1, 0.0, 0.0], "u")], 0)
    sync_ivf_index(src, index)
    assert _actual_assign(index) == {(1, 0)}
    _apply(src, spark, [(1, [0.1, 0.9, 0.0, 0.0], "u")], 1)
    sync_ivf_index(src, index)
    assert _actual_assign(index) == {(1, 1)}
    assert index.read().count() == 1
    # delete retracts everything
    _apply(src, spark, [(1, None, "d")], 2)
    sync_ivf_index(src, index)
    assert index.read().count() == 0


def test_probe_matches_batch_ivf_topk(spark, tmpdir_path):
    rng = random.Random(11)
    src = _mk_src(spark, os.path.join(tmpdir_path, "src"))
    cent = _centroid_frame(spark, [(i, _vec(rng)) for i in range(5)])
    index = create_ivf_index(
        spark, os.path.join(tmpdir_path, "ix"), cent, n_buckets=8
    )
    # a NULL-embedding corpus row must not break probe==batch parity:
    # both surfaces drop rows without an embedding
    corpus = [(i, _vec(rng), "u") for i in range(1, 31)] + [(99, None, "u")]
    _apply(src, spark, corpus, 0)
    sync_ivf_index(src, index)

    queries = spark.createDataFrame(
        [(i, v) for i, v, _ in corpus[:4]], VEC_SCHEMA
    )
    got = {
        (r["vec_id_q"], r["vec_id_c"], r["sim"], r["rank"])
        for r in probe_ivf_index(
            index, queries, "vec_id", k=3, n_probe=2
        ).collect()
    }
    want = {
        (r["vec_id_q"], r["vec_id_c"], r["sim"], r["rank"])
        for r in ivf_topk(
            queries, src.read().select("vec_id", "embedding"),
            "vec_id", "vec_id", k=3, n_probe=2, centroids=cent,
        ).collect()
    }
    assert got == want and got


def test_centroids_persisted_and_load_guard(spark, tmpdir_path):
    rng = random.Random(13)
    src = _mk_src(spark, os.path.join(tmpdir_path, "src"))
    cent = _centroid_frame(spark, [(i, _vec(rng)) for i in range(3)])
    index = create_ivf_index(
        spark, os.path.join(tmpdir_path, "ix"), cent, n_buckets=8
    )
    _apply(src, spark, [(1, _vec(rng), "u"), (2, _vec(rng), "u")], 0)
    sync_ivf_index(src, index)
    # a FRESH load must resync under the persisted centroids
    reloaded = load_ivf_index(spark, os.path.join(tmpdir_path, "ix"))
    got_cent = {
        (r["_cent_id"], tuple(r["_cent_vec"]))
        for r in index_centroids(reloaded).collect()
    }
    want_cent = {
        (r["_cent_id"], tuple(r["_cent_vec"])) for r in cent.collect()
    }
    assert got_cent == want_cent
    _apply(src, spark, [(3, _vec(rng), "u")], 2)
    sync_ivf_index(src, reloaded)
    assert _actual_assign(reloaded) == _expected_assign(src, cent)
    with pytest.raises(ValueError):
        load_ivf_index(spark, os.path.join(tmpdir_path, "src"))


def test_null_vector_indexes_nothing(spark, tmpdir_path):
    """An upsert with a NULL embedding is a doc without an embedding:
    it must not appear in the index, and updating a live vector to NULL
    must retract its row."""
    rng = random.Random(17)
    src = _mk_src(spark, os.path.join(tmpdir_path, "src"))
    cent = _centroid_frame(spark, [(i, _vec(rng)) for i in range(2)])
    index = create_ivf_index(
        spark, os.path.join(tmpdir_path, "ix"), cent, n_buckets=8
    )
    _apply(src, spark, [(1, _vec(rng), "u"), (2, None, "u")], 0)
    sync_ivf_index(src, index)
    assert {r["vec_id"] for r in index_assignments(index).collect()} == {1}
    _apply(src, spark, [(1, None, "u")], 2)
    sync_ivf_index(src, index)
    assert index.read().count() == 0


def test_kernel_assignment_matches_brute_force(spark, tmpdir_path):
    """The Arrow/numpy cell kernel must agree with a pure-Python cosine
    under the 6dp-rounding contract — cells AND sims — both as a batch
    operator (assign_clusters) and through the index sync, including
    NULL vectors and a tie. An index whose params name the removed
    "sql" kernel is refused."""
    rng = random.Random(31)
    src = _mk_src(spark, os.path.join(tmpdir_path, "src"))
    base_cents = [(i, _vec(rng)) for i in range(5)]
    # centroid 5 DUPLICATES centroid 0: cells 0 and 5 score identically
    # for every vector, so any vector nearest to that direction
    # exercises the tie-break (must pick the smaller id, 0)
    cent = _centroid_frame(spark, base_cents + [(5, base_cents[0][1])])
    rows = [(i, _vec(rng), "u") for i in range(1, 41)] + [
        (41, None, "u"),
        # a vector exactly equal to the duplicated centroid: guaranteed
        # top-sim tie between cells 0 and 5
        (42, base_cents[0][1], "u"),
    ]
    _apply(src, spark, rows, 0)
    cur = src.read().select("vec_id", "embedding")

    got = {
        (r["vec_id"], r["cluster"], r["cluster_sim"])
        for r in assign_clusters(
            cur, "vec_id", "embedding", centroids=cent
        ).collect()
    }
    want = _brute_assign(
        [(r["vec_id"], r["embedding"]) for r in cur.collect()], cent
    )
    assert got == want
    assert 41 not in {r[0] for r in got}  # the NULL vector has no cell
    # the tied vector resolved to the SMALLER of the two identical cells
    assert {r[1] for r in got if r[0] == 42} == {0}

    # through the sync path: the same cells
    ix = create_ivf_index(
        spark, os.path.join(tmpdir_path, "ix"), cent, n_buckets=8
    )
    sync_ivf_index(src, ix)
    assert _actual_assign(ix) == {(r[0], r[1]) for r in want}
    assert "sql" not in json.loads(ix.snapshot().properties[PARAMS_PROP]).values()

    # an index assigned by the removed SQL kernel is refused: its stored
    # cells may differ at rounding boundaries, so a sync could retract
    # against the wrong cells
    old = LakeTable.create(
        spark,
        os.path.join(tmpdir_path, "old"),
        ix.schema(),
        "ik",
        n_buckets=8,
        properties={
            **ix.snapshot().properties,
            PARAMS_PROP: json.dumps({"n_centroids": 6, "assign_via": "sql"}),
        },
    )
    with pytest.raises(ValueError, match="rebuild"):
        sync_ivf_index(src, old)


def test_probe_read_prunes_to_probed_cells_buckets(spark, tmpdir_path):
    """The probe's index scan must pass an explicit bucket list — exactly
    the buckets of its n_probe nearest cells (metadata-level prefix
    prune, O(candidates) not O(corpus))."""
    rng = random.Random(29)
    src = _mk_src(spark, os.path.join(tmpdir_path, "src"))
    cent = _centroid_frame(spark, [(i, _vec(rng)) for i in range(6)])
    index = create_ivf_index(
        spark, os.path.join(tmpdir_path, "ix"), cent, n_buckets=8
    )
    _apply(src, spark, [(i, _vec(rng), "u") for i in range(1, 25)], 0)
    sync_ivf_index(src, index)

    read_buckets = []
    orig_read = index.read

    def spy_read(*a, **kw):
        read_buckets.append(kw.get("buckets"))
        return orig_read(*a, **kw)

    index.read = spy_read
    queries = spark.createDataFrame([(101, _vec(rng))], VEC_SCHEMA)
    got = probe_ivf_index(index, queries, "vec_id", k=3, n_probe=2)
    assert got.count() >= 0
    assert len(read_buckets) == 1 and read_buckets[0] is not None
    # one query x n_probe=2 cells -> at most 2 distinct buckets, never
    # the full layout
    assert 1 <= len(read_buckets[0]) <= 2 < index.snapshot().n_buckets


def test_index_stays_fresh_through_embedding_stream(spark, tmpdir_path):
    """Embeddings stream in as CDC micro-batches; the IVF index stays
    continuously fresh via post_commit with in-stream compaction folding
    the stream table's deltas after every batch. Final index == batch
    assignment; checkpoint redelivery touches nothing."""
    from jitsu_spark.streaming import CdcStreamJob

    rng = random.Random(23)
    log_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("seq", T.LongType()),
            T.StructField("op", T.StringType()),
        ]
    )
    b1 = [(i, _vec(rng), i, "u") for i in range(1, 7)]
    b2 = [(2, _vec(rng), 7, "u"), (3, None, 8, "d"),
          (7, _vec(rng), 9, "u")]
    b3 = [(5, None, 10, "d"), (8, _vec(rng), 11, "u")]
    src_dir = os.path.join(tmpdir_path, "log")
    for b in (b1, b2, b3):
        spark.createDataFrame(b, log_schema).coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)

    table = _mk_src(spark, os.path.join(tmpdir_path, "tbl"))
    cent = _centroid_frame(spark, [(i, _vec(rng)) for i in range(3)])
    index = create_ivf_index(
        spark, os.path.join(tmpdir_path, "ix"), cent, n_buckets=8
    )

    def make_job():
        return CdcStreamJob(
            table=table,
            source_dir=src_dir,
            checkpoint_dir=os.path.join(tmpdir_path, "ckpt"),
            source_schema=log_schema,
            max_files_per_trigger=1,
            job_id="ivfstream",
            post_commit=lambda batch_id: sync_ivf_index(table, index),
            compact_max_files_per_bucket=1,
        )

    make_job().run_available_now(spark)
    assert any(e.get("kind") == "compact" for e in table.snapshot().lineage)
    assert _actual_assign(index) == _expected_assign(table, cent)

    v = index.snapshot().version
    make_job().run_available_now(spark)  # redelivery: no-op
    assert index.snapshot().version == v


def test_sync_redelivery_is_idempotent(spark, tmpdir_path):
    rng = random.Random(19)
    src = _mk_src(spark, os.path.join(tmpdir_path, "src"))
    cent = _centroid_frame(spark, [(0, _vec(rng))])
    index = create_ivf_index(
        spark, os.path.join(tmpdir_path, "ix"), cent, n_buckets=8
    )
    _apply(src, spark, [(1, _vec(rng), "u")], 0)
    assert not sync_ivf_index(src, index).skipped
    v = index.snapshot().version
    res = sync_ivf_index(src, index)
    assert res.skipped and index.snapshot().version == v


def test_probe_loads_index_snapshot_once(spark, tmpdir_path, monkeypatch):
    """The probe's bucket ids and its pruned read come from ONE snapshot
    load, so a concurrent rebucket cannot pair one snapshot's bucket
    count with another's file layout."""
    from jitsu_spark.lake import metadata as md

    rng = random.Random(31)
    src = _mk_src(spark, os.path.join(tmpdir_path, "src"))
    cent = _centroid_frame(spark, [(i, _vec(rng)) for i in range(6)])
    index = create_ivf_index(
        spark, os.path.join(tmpdir_path, "ix"), cent, n_buckets=8
    )
    _apply(src, spark, [(i, _vec(rng), "u") for i in range(1, 25)], 0)
    sync_ivf_index(src, index)

    loads = []
    load = md.load_snapshot
    monkeypatch.setattr(
        md, "load_snapshot", lambda root, v=None: loads.append(root) or load(root, v)
    )
    queries = spark.createDataFrame([(101, _vec(rng))], VEC_SCHEMA)
    probe_ivf_index(index, queries, "vec_id", k=3, n_probe=2).collect()
    assert loads.count(index.root) == 1


def test_degenerate_vectors_across_similarity_family(spark, tmpdir_path):
    """A zero-norm vector in the corpus, in the queries and among the
    centroids, plus a NULL and an off-dim corpus vector, must raise
    nowhere in the similarity family: under ANSI a cosine that divides
    by a zero norm raises DIVIDE_BY_ZERO. Degenerate rows carry NULL
    sims or get no cell, a NULL vector joins no LSH bucket, and the
    zero-norm centroid never wins a cell."""
    from jitsu_spark.similarity.ann import (
        cosine_topk,
        cosine_topk_lsh,
        embedding_near_dups,
    )

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    rng = random.Random(37)
    zero = [0.0] * DIM
    vecs = [(i, _vec(rng)) for i in range(1, 21)] + [(50, zero)]
    corpus = spark.createDataFrame(vecs, VEC_SCHEMA)
    # the corpus plus a NULL and an off-dim vector
    corpus_x = corpus.union(
        spark.createDataFrame([(51, None), (52, [1.0, 0.0, 0.0])], VEC_SCHEMA)
    )
    queries = spark.createDataFrame(vecs[:3] + [(60, zero)], VEC_SCHEMA)
    cent = _centroid_frame(spark, [(i, _vec(rng)) for i in range(4)] + [(9, zero)])
    degenerate = {50, 51, 52, 60}

    def rows(df):
        return [tuple(r) for r in df.collect()]

    exact = rows(cosine_topk(queries, corpus_x, "vec_id", "vec_id", k=25))
    assert {r[0] for r in exact} == {1, 2, 3, 60}
    for q, c, sim, _ in exact:
        assert (sim is None) == (q in degenerate or c in degenerate)

    lsh = rows(
        cosine_topk_lsh(
            queries, corpus_x, "vec_id", "vec_id", k=25, n_planes=2, n_probes=2
        )
    )
    assert 60 in {r[0] for r in lsh} and 50 in {r[1] for r in lsh}
    assert 51 not in {r[1] for r in lsh}  # NULL signature: no bucket
    for q, c, sim, _ in lsh:
        assert (sim is None) == (q in degenerate or c in degenerate)

    dups = rows(embedding_near_dups(corpus_x, "vec_id", threshold=-1.0, n_planes=2))
    assert dups and not {50, 51, 52} & {i for a, b, _ in dups for i in (a, b)}

    batch_ivf = rows(
        ivf_topk(
            queries, corpus_x, "vec_id", "vec_id", k=3, n_probe=2,
            centroids=cent,
        )
    )
    assert batch_ivf
    assert not degenerate & {i for q, c, _, _ in batch_ivf for i in (q, c)}
    assert all(sim is not None for *_, sim, _ in batch_ivf)

    assigned = rows(assign_clusters(corpus_x, "vec_id", centroids=cent))
    assert {r[0] for r in assigned} == set(range(1, 21))
    assert 9 not in {r[1] for r in assigned}
    assert all(r[2] is not None for r in assigned)

    src = _mk_src(spark, os.path.join(tmpdir_path, "src"))
    _apply(
        src, spark,
        [(i, v, "u") for i, v in vecs + [(51, None), (52, [1.0, 0.0, 0.0])]],
        0,
    )
    index = create_ivf_index(
        spark, os.path.join(tmpdir_path, "ix"), cent, n_buckets=8
    )
    sync_ivf_index(src, index)
    assert _actual_assign(index) == {(r[0], r[1]) for r in assigned}
    probed = rows(probe_ivf_index(index, queries, "vec_id", k=3, n_probe=2))
    assert set(probed) == set(batch_ivf)
