"""Incrementally maintained MinHash-LSH band index over a CDC corpus.

The batch near-dup pipeline (``lsh_candidate_pairs``) recomputes every
signature per run; at 100 TB the question is the other one: *an hour of
new/updated documents just landed — which EXISTING documents are they
near-duplicates of?* This module keeps the band index — one row per
(document, LSH band) — continuously correct from the upstream table's
``changes()`` feed (``sync_derived_rows``: retract the pre-image's band
rows, assert the post-image's, O(change) per sync), so that question is
answered by hashing ONLY the probe docs and reading ONLY the index
buckets their band hashes land in.

Index table layout: key ``bh # band_no # doc`` with
``bucket.prefix_sep='#'``, so every document sharing a band hash
co-locates in the bucket determined by ``bh`` alone (the passage_ivm
trick) — a probe prunes to exactly its band hashes' buckets, and the
full-pair emission groups within co-located data.

The banding parameters (k, bands, shingle_n) are STRUCTURAL: rows were
hashed under them, so they persist as table properties and are read
back by ``load`` — never re-supplied by a caller (a mismatch would
retract nothing and probe garbage).

Banding itself is shared with the batch operator (``minhash.band_rows``)
— identical collisions by construction; the ``lsh_index_ivm`` gate query
answers the SAME oracle as the batch ``lsh_candidates``.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jitsu_spark.dedup.minhash import band_rows
from jitsu_spark.lake.mirror import MirrorResult, WindowImages, sync_derived_rows
from jitsu_spark.lake.table import BUCKET_PREFIX_SEP_PROP, LakeTable

SEP = "#"  # never appears inside an md5 hex band hash

PARAMS_PROP = "lsh_index.params"


def create_lsh_index(
    spark: SparkSession,
    root: str,
    key_type: T.DataType = T.LongType(),
    k: int = 8,
    bands: int = 4,
    shingle_n: int = 1,
    n_buckets: int = 16,
) -> LakeTable:
    if k % bands:
        raise ValueError("k must be divisible by bands")
    return LakeTable.create(
        spark,
        root,
        T.StructType(
            [
                T.StructField("ik", T.StringType()),
                T.StructField("bh", T.StringType()),
                T.StructField("band_no", T.LongType()),
                T.StructField("doc", key_type),
            ]
        ),
        "ik",
        n_buckets=n_buckets,
        properties={
            "write.mode": "mor",
            BUCKET_PREFIX_SEP_PROP: SEP,
            PARAMS_PROP: json.dumps(
                {"k": k, "bands": bands, "shingle_n": shingle_n}
            ),
        },
    )


def load_lsh_index(spark: SparkSession, root: str) -> LakeTable:
    t = LakeTable.load(spark, root)
    if t.snapshot().properties.get(PARAMS_PROP) is None:
        raise ValueError(f"{root} lacks {PARAMS_PROP!r} — not an LSH index")
    return t


def _params(index: LakeTable) -> dict:
    return json.loads(index.snapshot().properties[PARAMS_PROP])


def _band_rows_for(
    index: LakeTable, docs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    p = _params(index)
    return band_rows(
        docs, id_col, text_col, k=p["k"], bands=p["bands"],
        shingle_n=p["shingle_n"],
    )


def sync_lsh_index(
    src: LakeTable,
    index: LakeTable,
    text_col: str = "text",
    job_id: str = "lsh-index",
    images: WindowImages | None = None,
) -> MirrorResult:
    """Advance the index to the upstream's current version — the banding
    parameters come from the index's own properties. Pass a shared
    ``images`` when syncing several views of the same upstream in one
    run (the window scan/reads run once across all of them)."""
    key = src.snapshot().key_field

    def derive(docs: DataFrame) -> DataFrame:
        br = _band_rows_for(index, docs.select(key, text_col), key, text_col)
        return br.select(
            F.concat(
                F.col("bh"), F.lit(SEP),
                F.col("band_no").cast("string"), F.lit(SEP),
                F.col(key).cast("string"),
            ).alias("ik"),
            "bh",
            "band_no",
            F.col(key).alias("doc"),
        )

    return sync_derived_rows(src, index, derive, job_id=job_id, images=images)


def index_pairs(index: LakeTable) -> DataFrame:
    """All candidate pairs (id_a < id_b) currently in the index — the
    same answer as the batch ``lsh_candidate_pairs`` over the current
    corpus (asserted by the gate oracle alias)."""
    rows = index.read().select("bh", "band_no", "doc")
    a, b = rows.alias("l"), rows.alias("r")
    return (
        a.join(
            b,
            (F.col("l.bh") == F.col("r.bh"))
            & (F.col("l.band_no") == F.col("r.band_no"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
        .select(F.col("l.doc").alias("id_a"), F.col("r.doc").alias("id_b"))
        .distinct()
    )


def probe_lsh_index(
    index: LakeTable,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(probe_id, match_doc) — for each probe document, the indexed
    documents sharing >= 1 LSH band. Only the probe docs are hashed; the
    index read prunes to the buckets the probes' band hashes co-locate
    in (metadata-level, O(probe) not O(corpus)). A probe doc that is
    itself indexed matches itself — filter on ids if undesired."""
    br = _band_rows_for(index, docs.select(id_col, text_col), id_col, text_col)
    br = br.persist()
    try:
        hits = (
            index.read_for(br, "bh")
            .join(br, on=["bh", "band_no"], how="inner")
            .select(F.col(id_col).alias("probe_id"),
                    F.col("doc").alias("match_doc"))
            .distinct()
        )
        # materialize before unpersist: the caller gets a plain frame
        hits = hits.localCheckpoint(eager=True)
    finally:
        br.unpersist()
    return hits
