"""Incrementally maintained corpus statistics over a CDC document table.

TF-IDF and LM-style scoring both hinge on corpus-level statistics —
document frequency and total occurrences per term, the corpus document
count, bigram counts. At 100 TB these must NOT be recomputed per sync;
they are classic incrementally-maintainable aggregates: every one is a
``groupBy(key).count/sum`` over a per-document 1->N derivation (doc ->
tokens, doc -> bigrams), so the generalized :func:`~jitsu_spark.lake.
mirror.sync_aggregate` maintains them from ``changes()`` with work
proportional to the CHANGE (post-image minus pre-image of just the
changed docs), exactly-once via the destination's own commit manifest.

Reference parity: jitsu materializes per-destination rollup state
incrementally from the event stream (bulker's table-state upkeep);
these tables are the tokens-pipeline analogue — the idf/LM "model"
kept continuously fresh as documents are inserted/updated/deleted.

Maintained tables (both plain LakeTables, MoR recommended):

- ``stats``:   token  -> ``df`` (docs containing it), ``tf`` (total
  occurrences). Tokens whose df reaches 0 are deleted, so the table's
  row count IS the live vocabulary size V.
- ``meta``:    scope  -> ``n_docs`` (count of non-empty documents) —
  one row, key ``"corpus"``.
- ``bigrams``: bigram -> ``c`` (total occurrences of the token pair).
  The key is ``prev || ' ' || cur`` — tokens are whitespace-split so a
  single space is collision-free, and the pair splits back losslessly.

All derivations share the family tokenizer (tokenize.py), so these
tables agree exactly with the batch operators (tfidf.py, lm.py) over
the same corpus — asserted by the ``*_ivm`` gate queries against
full-recompute oracles.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jitsu_spark.lake.mirror import (
    MirrorResult,
    WindowImages,
    sync_aggregate,
    sync_window,
)
from jitsu_spark.lake.table import LakeTable
from jitsu_spark.text.tokenize import doc_tokens, non_empty


def term_rows(id_col: str = "doc_id", text_col: str = "text"):
    """row_transform: document rows -> one row per (doc, distinct token)
    with its in-doc occurrence count ``tf``. Count of these rows per
    token = df; sum of ``tf`` = corpus-wide occurrences. The groupBy is
    per-document (doc id in the key), so the transform stays
    per-upstream-row independent as sync_aggregate requires."""

    def t(df: DataFrame) -> DataFrame:
        return (
            doc_tokens(df, id_col, text_col)
            .groupBy(id_col, "token")
            .agg(F.count("*").cast("long").alias("tf"))
        )

    return t


def corpus_rows(text_col: str = "text"):
    """row_transform: one row per non-empty document under the constant
    scope key — maintains the corpus document count N."""

    def t(df: DataFrame) -> DataFrame:
        return non_empty(df, text_col).select(F.lit("corpus").alias("scope"))

    return t


def bigram_rows(id_col: str = "doc_id", text_col: str = "text"):
    """row_transform: document rows -> one row per bigram occurrence,
    keyed ``prev || ' ' || cur``."""
    from jitsu_spark.text.lm import _bigrams

    def t(df: DataFrame) -> DataFrame:
        return _bigrams(df, id_col, text_col).select(
            F.concat(F.col("prev"), F.lit(" "), F.col("cur")).alias("bigram")
        )

    return t


def create_corpus_stats(
    spark: SparkSession,
    root: str,
    n_buckets: int = 16,
    with_bigrams: bool = True,
) -> dict[str, LakeTable]:
    """Create the stats/meta (and optionally bigrams) tables under
    ``root``; returns them by name."""
    mor = {"write.mode": "mor"}
    out = {
        "stats": LakeTable.create(
            spark,
            os.path.join(root, "stats"),
            T.StructType(
                [
                    T.StructField("token", T.StringType()),
                    T.StructField("df", T.LongType()),
                    T.StructField("tf", T.LongType()),
                ]
            ),
            "token",
            n_buckets=n_buckets,
            properties=dict(mor),
        ),
        "meta": LakeTable.create(
            spark,
            os.path.join(root, "meta"),
            T.StructType(
                [
                    T.StructField("scope", T.StringType()),
                    T.StructField("n_docs", T.LongType()),
                ]
            ),
            "scope",
            n_buckets=1,
            properties=dict(mor),
        ),
    }
    if with_bigrams:
        out["bigrams"] = LakeTable.create(
            spark,
            os.path.join(root, "bigrams"),
            T.StructType(
                [
                    T.StructField("bigram", T.StringType()),
                    T.StructField("c", T.LongType()),
                ]
            ),
            "bigram",
            n_buckets=n_buckets,
            properties=dict(mor),
        )
    return out


def sync_corpus_stats(
    src: LakeTable,
    tables: dict[str, LakeTable],
    id_col: str | None = None,
    text_col: str = "text",
    job_id: str = "corpus-stats",
    images: WindowImages | None = None,
) -> dict[str, MirrorResult]:
    """Advance every stats table to the upstream's current version. Each
    table carries its own manifest cursor (independent exactly-once), so
    a crash between the syncs resumes without double-counting. The three
    syncs share one :class:`WindowImages` (the changes() scan and the
    pre/post reconcile reads run once, not three times); pass your own
    ``images`` to extend the sharing to further views of the same
    upstream synced in the same run."""
    key = id_col or src.snapshot().key_field
    with sync_window(src, images) as (imgs, _pin):
        out = {
            "stats": sync_aggregate(
                src,
                tables["stats"],
                "token",
                sum_cols=["tf"],
                count_col="df",
                job_id=job_id,
                row_transform=term_rows(key, text_col),
                images=imgs,
            ),
            "meta": sync_aggregate(
                src,
                tables["meta"],
                "scope",
                count_col="n_docs",
                job_id=job_id,
                row_transform=corpus_rows(text_col),
                images=imgs,
            ),
        }
        if "bigrams" in tables:
            out["bigrams"] = sync_aggregate(
                src,
                tables["bigrams"],
                "bigram",
                count_col="c",
                job_id=job_id,
                row_transform=bigram_rows(key, text_col),
                images=imgs,
            )
    return out


def idf_frame(stats: LakeTable, meta: LakeTable) -> DataFrame:
    """(token, df, tf, idf_e6) from the maintained tables — the same
    smoothed idf as tfidf.py (``ln((1+N)/(1+df)) + 1``), surfaced as an
    exact BIGINT in 1e-6 units (the repo's floats-through-integers
    rule). N rides along as a broadcast 1-row frame."""
    n = meta.read().select(F.col("n_docs"))
    return (
        stats.read()
        .crossJoin(F.broadcast(n))
        .select(
            "token",
            "df",
            "tf",
            F.round(
                (
                    F.log(
                        (F.lit(1) + F.col("n_docs"))
                        / (F.lit(1) + F.col("df"))
                    )
                    + F.lit(1)
                )
                * F.lit(1000000.0),
                0,
            )
            .cast("long")
            .alias("idf_e6"),
        )
    )


def bigram_model_from_stats(
    bigrams: LakeTable, stats: LakeTable
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Reconstruct the (c2, c1, v) model frames of :func:`lm.bigram_model`
    from the incrementally maintained tables — scoring stays identical to
    a model trained from scratch on the current corpus (the bigram key
    splits losslessly on the single space; c1 rolls up from the reduced
    c2 frame; V is the live vocabulary = stats row count)."""
    c2 = bigrams.read().select(
        F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)).alias("prev"),
        F.split_part(F.col("bigram"), F.lit(" "), F.lit(2)).alias("cur"),
        F.col("c").alias("c2"),
    )
    c1 = c2.groupBy("prev").agg(F.sum("c2").cast("long").alias("c1"))
    v = stats.read().agg(F.count("*").cast("long").alias("v"))
    return c2, c1, v
