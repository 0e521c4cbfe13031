"""Frequency-vocabulary build + corpus encoding.

The first step of a token-pipeline: count every token across the corpus,
keep the ``vocab_size`` most frequent as the vocabulary (deterministic
tie-break: count desc, token asc), assign dense ids 0..V-1, then encode
every document as its id sequence with OOV → -1.

Scale shape:
- counting is explode → groupBy(token) with map-side partial combine —
  the count table is |distinct tokens|, not corpus-sized;
- vocabulary selection is ``orderBy(...).limit(V)`` =
  TakeOrderedAndProject (per-partition heaps, no global sort), and the
  id assignment runs a row_number window over the ALREADY-LIMITED V-row
  frame — the single-partition window touches V rows, never the corpus;
- encoding is a NARROW projection at any V: the vocab is collected
  driver-side ONCE (``limit(MAX_VOCAB_ROWS + 1).collect()`` — a bounded
  control-plane read; V is the model's embedding width) and the same rows
  feed one of two kernels, picked by the row count:
  * V <= ``MAP_LITERAL_MAX``: a ``create_map`` literal, each document's
    token array mapped through ``element_at`` inside codegen;
  * above it: the rows broadcast as a plain dict, encoded in ONE
    Arrow-vectorized pandas UDF (a real tokenizer vocab is 32k-256k).
  Both are zero shuffle, zero explode, no per-doc reassembly, and compose
  with any downstream partitioning. The map literal measured faster where
  it applies (V=256 at sf0.1); measured 2->8-core scaling of both reaches
  ~the hardware ceiling, where a broadcast-join encode (an
  exploded token stream re-assembled by a doc_id shuffle) reached 0.59
  (BASELINE.md round 6). A vocab over ``MAX_VOCAB_ROWS`` is refused
  rather than collected.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

#: id stamped on tokens outside the vocabulary
OOV_ID = -1
#: largest vocab encoded through a ``create_map`` literal
MAP_LITERAL_MAX = 4096
#: largest vocab ``encode_documents`` collects into the driver
MAX_VOCAB_ROWS = 1_000_000


def build_vocab(
    docs: DataFrame,
    vocab_size: int,
    text_col: str = "text",
) -> DataFrame:
    """(token, token_id, n_occurrences): the ``vocab_size`` most frequent
    whitespace tokens, ids dense 0..V-1 in (count desc, token asc) order."""
    counts = (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("n_occurrences"))
    )
    head = counts.orderBy(
        F.col("n_occurrences").desc(), F.col("token").asc()
    ).limit(vocab_size)
    order = Window.orderBy(F.col("n_occurrences").desc(), F.col("token").asc())
    return head.withColumn(
        "token_id", (F.row_number().over(order) - 1).cast("long")
    ).select("token", "token_id", "n_occurrences")


def encode_documents(
    docs: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per document: ``n_tokens``, ``n_oov`` and ``token_ids`` (array of
    long, OOV as -1, in original token order).

    ``vocab`` (token, token_id) is collected once: up to
    ``MAP_LITERAL_MAX`` rows it becomes a map literal, above that a
    broadcast dict behind one Arrow UDF. More than ``MAX_VOCAB_ROWS``
    rows raise ``ValueError`` — a raw distinct-token frame from a web
    corpus must not be collected into the driver."""
    rows = vocab.select("token", "token_id").limit(MAX_VOCAB_ROWS + 1).collect()
    if len(rows) > MAX_VOCAB_ROWS:
        raise ValueError(
            f"vocab has more than MAX_VOCAB_ROWS={MAX_VOCAB_ROWS} rows; "
            "build it with a vocab_size at or under that cap"
        )
    if len(rows) <= MAP_LITERAL_MAX:
        return _encode_via_map(docs, rows, id_col, text_col)
    return _encode_via_udf(docs, rows, id_col, text_col)


def _encode_via_map(
    docs: DataFrame, vocab_rows: list, id_col: str, text_col: str
) -> DataFrame:
    """Narrow-projection encode: token->id as a create_map literal,
    element_at per array slot inside codegen. Zero shuffle."""
    pairs: list = []
    for r in vocab_rows:
        pairs.append(F.lit(r["token"]))
        pairs.append(F.lit(int(r["token_id"])))
    m = F.create_map(*pairs) if pairs else F.create_map()
    # NULL text = empty document (one empty token) — every id keeps a row
    words = F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
    ids = F.transform(
        words, lambda w: F.coalesce(F.element_at(m, w), F.lit(OOV_ID)).cast("long")
    )
    return docs.select(
        F.col(id_col),
        F.size(words).cast("long").alias("n_tokens"),
        F.size(F.filter(ids, lambda x: x == OOV_ID)).cast("long").alias("n_oov"),
        ids.alias("token_ids"),
    )


def _encode_via_udf(
    docs: DataFrame, vocab_rows: list, id_col: str, text_col: str
) -> DataFrame:
    """Broadcast-dict Arrow-vectorized encode for vocabs above the map
    literal cap: the collected rows ship as a broadcast dict and one
    pandas UDF emits (n_tokens, n_oov, token_ids) per Arrow batch — the
    map path's narrow shape at any V."""
    mapping = {r["token"]: int(r["token_id"]) for r in vocab_rows}
    bmap = docs.sparkSession.sparkContext.broadcast(mapping)

    ret = T.StructType(
        [
            T.StructField("n_tokens", T.LongType()),
            T.StructField("n_oov", T.LongType()),
            T.StructField("token_ids", T.ArrayType(T.LongType())),
        ]
    )

    @F.pandas_udf(ret)
    def enc(texts: pd.Series) -> pd.DataFrame:
        m = bmap.value
        oov = OOV_ID
        # NULL text = empty document (one empty token), matching the
        # map path's split(coalesce(text, '')) semantics
        ids = texts.map(
            lambda t: [
                m.get(w, oov) for w in ("" if t is None else t).split(" ")
            ]
        )
        return pd.DataFrame(
            {
                "n_tokens": ids.map(len).astype("int64"),
                "n_oov": ids.map(
                    lambda a: sum(1 for x in a if x == oov)
                ).astype("int64"),
                "token_ids": ids,
            }
        )

    return docs.select(F.col(id_col), enc(F.col(text_col)).alias("_e")).select(
        id_col,
        F.col("_e.n_tokens").alias("n_tokens"),
        F.col("_e.n_oov").alias("n_oov"),
        F.col("_e.token_ids").alias("token_ids"),
    )
