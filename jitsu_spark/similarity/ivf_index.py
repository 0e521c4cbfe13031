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
retract nothing and probe the wrong cells). Assignment and probing run
the batch operator's kernel (``ann.nearest_cells``: one matmul per
Arrow batch against the collected centroids, sims 6dp-rounded before
the argmax) — identical cells by construction, so the ``ivf_probe``
gate query answers the SAME oracle as the batch ``ivf_topk``.

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
from jitsu_spark.similarity.ann import nearest_cells, rerank_topk

SEP = "#"  # never appears inside a LONG cell id rendered as decimal

PARAMS_PROP = "ivf_index.params"
_CENTROID_DIR = os.path.join("aux", "centroids")


def create_ivf_index(
    spark: SparkSession,
    root: str,
    centroids: DataFrame,
    key_type: T.DataType = T.LongType(),
    n_buckets: int = 16,
) -> LakeTable:
    """Create the index table with a FROZEN coarse quantizer.

    ``centroids`` must be ``(_cent_id long, _cent_vec array<numeric>)``
    — e.g. ``ann.sampled_centroids`` (deterministic, SQL-oracle-able) or
    ``ann.kmeans_centroids`` (tighter cells). It is materialized to the
    sidecar BEFORE the table commit (overwrite mode, so a crash between
    the two is retryable — the table dir is what ``load`` keys on)."""
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
            PARAMS_PROP: json.dumps({"n_centroids": int(n_cent)}),
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


def sync_ivf_index(
    src: LakeTable,
    index: LakeTable,
    vec_col: str = "embedding",
    job_id: str = "ivf-index",
    images: WindowImages | None = None,
) -> MirrorResult:
    """Advance the index to the upstream's current version under the
    frozen centroids read from the index's own sidecar: retraction
    recomputes the pre-image's cell, so it must be the cell the stored
    row was assigned under. A vector without a defined sim (NULL,
    zero-norm, off-dim) indexes nothing. Pass a shared ``images`` when
    syncing several views of the same upstream in one run (the window
    scan/reads run once across all of them).

    An index whose params name the ``"sql"`` kernel was assigned by the
    removed SQL cosine fold, whose cells can differ in the last ulps at
    6dp rounding boundaries; it is refused: rebuild it."""
    params = json.loads(index.snapshot().properties[PARAMS_PROP])
    if "sql" in params.values():
        raise ValueError(
            f"index at {index.root} was assigned by the removed SQL cosine "
            "kernel; syncing it could retract against the wrong cells — "
            "rebuild it with create_ivf_index"
        )
    key = src.snapshot().key_field
    # built ONCE per sync: derive() runs twice (pre + post image), and
    # the kernel collects the C x d centroid set
    cells = nearest_cells(index_centroids(index))

    def derive(rows: DataFrame) -> DataFrame:
        return rows.select(
            F.col(key), F.col(vec_col), cells(F.col(vec_col), 1)
        ).select(
            F.concat(
                F.col("cell").cast("string"),
                F.lit(SEP),
                F.col(key).cast("string"),
            ).alias("ik"),
            "cell",
            F.col(key).alias("vec_id"),
            F.col(vec_col).cast(T.ArrayType(T.FloatType())).alias("vec"),
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
    the frozen centroids (``ann.nearest_cells``; a query without a
    defined sim probes nothing), take its ``n_probe`` nearest cells,
    then read ONLY those cells' buckets (metadata-level prefix prune —
    O(candidates), not O(corpus)) and exact-cosine re-rank. Output
    matches the batch ``ivf_topk`` surface:
    ``(<query_id>_q, <corpus_id_name>_c, sim, rank)``."""
    cells = nearest_cells(index_centroids(index))
    q_cells = (
        queries.select(
            F.col(query_id).alias("_qid"),
            F.col(vec_col).alias("_qvec"),
            cells(F.col(vec_col), n_probe),
        )
        .drop("cell_sim")
        .persist()
    )
    try:
        cand = (
            index.read_for(q_cells, F.col("cell").cast("string"))
            .select(
                "cell", F.col("vec_id").alias("_cid"), F.col("vec").alias("_cvec")
            )
            .join(q_cells, "cell")
        )
        if not include_self:
            cand = cand.filter(F.col("_qid") != F.col("_cid"))
        out = rerank_topk(cand, k, query_id, corpus_id_name)
        out = out.localCheckpoint(eager=True)
    finally:
        q_cells.unpersist()
    return out
