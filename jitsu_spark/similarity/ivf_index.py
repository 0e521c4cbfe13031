"""Incrementally maintained IVF (inverted-file) ANN index over a CDC
vector table — the embedding-modality sibling of ``dedup/lsh_index``.

The batch ``ivf_topk`` re-assigns every corpus vector to its coarse cell
per run; at 100 TB the standing question is: *a batch of new/updated
embeddings just landed — keep the ANN index correct without rebuilding
it.* This module keeps the inverted file — one row per vector, keyed
``cell # vec_id`` — continuously correct from the upstream table's
``changes()`` feed (``sync_derived_rows``: retract the pre-image's row,
assert the post-image's, O(change) per sync), so a probe answers by
scoring ONLY its ``n_probe`` nearest cells' buckets.

Index layout: key ``cell # vec_id`` with ``bucket.prefix_sep='#'``, so
every vector of a cell co-locates in the bucket determined by ``cell``
alone (the lsh_index trick) — a probe prunes to exactly its probed
cells' buckets at the metadata level, reading O(candidates), never
O(corpus). The stored row carries the vector itself (a raw-vector
inverted list), so re-ranking needs no join back to the upstream.

The coarse centroids are STRUCTURAL: every row was assigned under them,
so they persist as a sidecar parquet under ``<root>/aux/centroids``
(outside the snapshot-managed ``data/`` walk) and are read back by
``load_ivf_index`` — never re-supplied by a caller (a mismatch would
retract nothing and probe the wrong cells). Assignment is shared with
the batch operator's shape (broadcast centroids + partial-combining
``min_by`` argmax, sims 6dp-rounded before the argmax) — identical
cells by construction, so the ``ivf_probe`` gate query answers the SAME
oracle as the batch ``ivf_topk``.

Reference parity note: the reference engine has no ANN surface; this is
part of the training-data extension family (SURVEY.md LLM-ops), design
following the standard IVF construction (Jégou et al., "Product
Quantization for Nearest Neighbor Search", the coarse-quantizer level).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jitsu_spark.lake.mirror import MirrorResult, WindowImages, sync_derived_rows
from jitsu_spark.lake.table import BUCKET_PREFIX_SEP_PROP, LakeTable
from jitsu_spark.similarity.ann import cosine_expr

SEP = "#"  # never appears inside a LONG cell id rendered as decimal

PARAMS_PROP = "ivf_index.params"
_CENTROID_DIR = os.path.join("aux", "centroids")


def create_ivf_index(
    spark: SparkSession,
    root: str,
    centroids: DataFrame,
    key_type: T.DataType = T.LongType(),
    n_buckets: int = 16,
    assign_via: str = "sql",
) -> LakeTable:
    """Create the index table with a FROZEN coarse quantizer.

    ``centroids`` must be ``(_cent_id long, _cent_vec array<numeric>)``
    — e.g. ``ann.sampled_centroids`` (deterministic, SQL-oracle-able) or
    ``ann.kmeans_centroids`` (tighter cells). It is materialized to the
    sidecar BEFORE the table commit (overwrite mode, so a crash between
    the two is retryable — the table dir is what ``load`` keys on).

    ``assign_via`` ("sql" or "numpy") is STRUCTURAL, exactly like the
    centroids: retraction recomputes the pre-image's cells, so every
    sync must use the kernel the stored rows were assigned under — the
    two kernels can differ in the last ulps at 6dp rounding boundaries,
    and a mixed history would leave permanently stale rows (delete
    targeting a cell the stored row isn't in). It persists as a table
    property; ``sync_ivf_index`` reads it back and refuses an
    explicit override that disagrees."""
    if assign_via not in ("sql", "numpy"):
        raise ValueError(f"unknown assignment path {assign_via!r}")
    # ADVICE r6: creating over an EXISTING index must fail BEFORE touching
    # the sidecar — the old code overwrote the frozen quantizer (stored
    # rows were assigned under it) and only then hit CommitConflict,
    # leaving a live index whose future syncs retract against the wrong
    # cells. Overwrite mode below stays only for the crash-retry window
    # (sidecar written, table create never committed).
    if os.path.exists(os.path.join(root, "metadata")):
        raise ValueError(
            f"IVF index already exists at {root!r}; its quantizer is "
            "frozen — create a new root instead of re-creating this one"
        )
    cent = centroids.select(
        F.col("_cent_id").cast("long").alias("_cent_id"),
        F.col("_cent_vec")
        .cast(T.ArrayType(T.DoubleType()))
        .alias("_cent_vec"),
    )
    cent.write.mode("overwrite").parquet(os.path.join(root, _CENTROID_DIR))
    n_cent = spark.read.parquet(os.path.join(root, _CENTROID_DIR)).count()
    return LakeTable.create(
        spark,
        root,
        T.StructType(
            [
                T.StructField("ik", T.StringType()),
                T.StructField("cell", T.LongType()),
                T.StructField("vec_id", key_type),
                T.StructField("vec", T.ArrayType(T.FloatType())),
            ]
        ),
        "ik",
        n_buckets=n_buckets,
        properties={
            "write.mode": "mor",
            BUCKET_PREFIX_SEP_PROP: SEP,
            PARAMS_PROP: json.dumps(
                {"n_centroids": int(n_cent), "assign_via": assign_via}
            ),
        },
    )


def load_ivf_index(spark: SparkSession, root: str) -> LakeTable:
    t = LakeTable.load(spark, root)
    if t.snapshot().properties.get(PARAMS_PROP) is None:
        raise ValueError(f"{root} lacks {PARAMS_PROP!r} — not an IVF index")
    return t


def index_centroids(index: LakeTable) -> DataFrame:
    """The frozen quantizer as ``(_cent_id, _cent_vec)``."""
    return index.spark.read.parquet(os.path.join(index.root, _CENTROID_DIR))


def _assign(
    rows: DataFrame, key: str, vec_col: str, cent: DataFrame,
    numpy_udf=None,
) -> DataFrame:
    """(key, vec, cell, cell_sim): nearest frozen centroid by cosine —
    sims 6dp-rounded before the argmax so float epsilons cannot flip a
    cell across engines, ties to the smaller centroid id (same contract
    as ``ann.nearest_centroid``). NULL/absent vectors index nothing.

    Default: broadcast against the C-row centroid set, argmax via a
    partial-combining ``min_by`` — one exchanged row per vector, never
    the N*C sim pairs; pure-SQL, oracle-auditable. With ``numpy_udf`` (a
    prebuilt ``ann.centroid_assign_udf`` — built ONCE per sync, not per
    derive call): ONE Arrow-vectorized matmul per batch — the scale
    path when assignment compute dominates (large C·d); same 6dp
    contract, but numpy's summation order can differ from the SQL fold
    in the last ulps (and zero-norm inputs are never selected, where
    the SQL NULL ordering may select them — degenerate vectors)."""
    if numpy_udf is not None:
        out = (
            rows.select(F.col(key), F.col(vec_col).alias("_v"))
            .filter(F.col("_v").isNotNull())
            .select(key, "_v", numpy_udf(F.col("_v")).alias("_a"))
        )
        return out.select(
            F.col(key),
            F.col("_v").alias("_vec"),
            F.col("_a.cluster").alias("cell"),
            F.col("_a.cluster_sim").alias("cell_sim"),
        )
    sims = (
        rows.select(F.col(key), F.col(vec_col).alias("_v"))
        .filter(F.col(vec_col).isNotNull())
        .crossJoin(F.broadcast(cent.select("_cent_id", "_cent_vec")))
        .select(
            key,
            "_v",
            "_cent_id",
            F.round(cosine_expr(F.col("_v"), F.col("_cent_vec")), 6).alias(
                "_cs"
            ),
        )
    )
    best = sims.groupBy(key).agg(
        F.min_by(
            F.struct(F.col("_cent_id"), F.col("_cs")),
            F.struct((-F.col("_cs")).alias("s"), F.col("_cent_id").alias("t")),
        ).alias("_best"),
        F.first("_v").alias("_vec"),
    )
    return best.select(
        F.col(key),
        F.col("_vec"),
        F.col("_best._cent_id").alias("cell"),
        F.col("_best._cs").alias("cell_sim"),
    )


def sync_ivf_index(
    src: LakeTable,
    index: LakeTable,
    vec_col: str = "embedding",
    job_id: str = "ivf-index",
    images: WindowImages | None = None,
    assign_via: str | None = None,
) -> MirrorResult:
    """Advance the index to the upstream's current version — the frozen
    centroids AND the assignment kernel come from the index's own
    metadata (both are structural: retraction recomputes the pre-image's
    cells, so a kernel mismatch could delete against cells the stored
    rows aren't in). Pass a shared ``images`` when syncing several views
    of the same upstream in one run (the window scan/reads run once
    across all of them). ``assign_via`` may be passed only as a
    consistency assertion — a value that disagrees with the index's
    persisted kernel raises."""
    pinned = json.loads(index.snapshot().properties[PARAMS_PROP]).get(
        "assign_via", "sql"
    )
    if assign_via is not None and assign_via != pinned:
        raise ValueError(
            f"index at {index.root} was created with assign_via="
            f"{pinned!r}; syncing with {assign_via!r} would retract "
            "against the wrong cells on rounding-boundary vectors"
        )
    key = src.snapshot().key_field
    cent = index_centroids(index)
    numpy_udf = None
    if pinned == "numpy":
        from jitsu_spark.similarity.ann import centroid_assign_udf

        # built ONCE per sync: derive() runs twice (pre + post image),
        # and the UDF construction collects the C x d centroid set
        numpy_udf = centroid_assign_udf(cent)

    def derive(rows: DataFrame) -> DataFrame:
        a = _assign(rows, key, vec_col, cent, numpy_udf=numpy_udf)
        return a.select(
            F.concat(
                F.col("cell").cast("string"),
                F.lit(SEP),
                F.col(key).cast("string"),
            ).alias("ik"),
            "cell",
            F.col(key).alias("vec_id"),
            F.col("_vec").cast(T.ArrayType(T.FloatType())).alias("vec"),
        )

    return sync_derived_rows(src, index, derive, job_id=job_id, images=images)


def index_assignments(index: LakeTable) -> DataFrame:
    """Current (vec_id, cell) — the full inverted-file membership, equal
    to the batch assignment over the upstream's current state (asserted
    by the ``ivf_index_ivm`` gate oracle)."""
    return index.read().select("vec_id", "cell")


def probe_ivf_index(
    index: LakeTable,
    queries: DataFrame,
    query_id: str,
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 3,
    corpus_id_name: str = "vec_id",
    include_self: bool = False,
) -> DataFrame:
    """ANN top-k against the maintained index: score each query against
    the frozen centroids (broadcast; the row_number window is over
    |Q|*C pairs — bounded by the query batch), take its ``n_probe``
    nearest cells, then read ONLY those cells' buckets (metadata-level
    prefix prune — O(candidates), not O(corpus)) and exact-cosine
    re-rank. Output matches the batch ``ivf_topk`` surface:
    ``(<query_id>_q, <corpus_id_name>_c, sim, rank)``."""
    from pyspark.sql.window import Window

    cent = index_centroids(index)
    # ADVICE r6: a NULL query embedding yields NULL sims that would still
    # receive row_number ranks; drop it up front, mirroring ivf_topk —
    # keeps the probe==batch-oracle contract on degenerate data
    queries = queries.filter(F.col(vec_col).isNotNull())
    q = queries.select(
        F.col(query_id).alias("_qid"), F.col(vec_col).alias("_qvec")
    )
    q_sims = q.crossJoin(F.broadcast(cent)).select(
        "_qid",
        "_qvec",
        "_cent_id",
        F.round(cosine_expr(F.col("_qvec"), F.col("_cent_vec")), 6).alias(
            "_cs"
        ),
    )
    wq = Window.partitionBy("_qid").orderBy(F.desc("_cs"), F.asc("_cent_id"))
    q_cells = (
        q_sims.withColumn("_cr", F.row_number().over(wq))
        .filter(F.col("_cr") <= n_probe)
        .select("_qid", "_qvec", F.col("_cent_id").alias("cell"))
        .persist()
    )
    try:
        snap = index.snapshot()  # bucket ids and read share one layout
        buckets = sorted(
            r["b"]
            for r in q_cells.select(
                index.bucket_expr(F.col("cell").cast("string"), snap=snap)
                .alias("b")
            )
            .distinct()
            .collect()
        )
        cand = index.read(buckets=buckets, snap=snap).join(q_cells, "cell")
        if not include_self:
            cand = cand.filter(F.col("_qid") != F.col("vec_id"))
        sims = cand.select(
            "_qid",
            F.col("vec_id").alias("_cid"),
            F.round(cosine_expr(F.col("_qvec"), F.col("vec")), 4).alias(
                "sim"
            ),
        ).dropDuplicates(["_qid", "_cid"])
        w = Window.partitionBy("_qid").orderBy(F.desc("sim"), F.asc("_cid"))
        out = (
            sims.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(
                F.col("_qid").alias(query_id + "_q"),
                F.col("_cid").alias(corpus_id_name + "_c"),
                "sim",
                "rank",
            )
        )
        out = out.localCheckpoint(eager=True)
    finally:
        q_cells.unpersist()
    return out
