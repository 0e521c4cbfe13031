"""Similarity search over embedding columns (array<float>).

Every operator that scores a block of vectors against a small side — a
query batch or a set of coarse centroids — runs ONE kernel,
:func:`cosine_block`: the small side is collected once on the Spark driver
(at most :data:`MAX_SIDE_ROWS` rows) and each Arrow batch of the big
side is scored against it with one numpy matmul. A NULL, zero-norm or
off-dim vector on either side has no defined similarity: its sim is
NULL and it is never chosen as a nearest cell. Candidate pairs that a
join already formed are re-ranked per row with :func:`cosine_expr`,
which returns NULL for the same degenerate input.

- ``cosine_topk``: exact brute-force top-k — the correctness baseline.
  Cost O(|queries| x |corpus|) — fine for query batches, not for all-pairs.
- ``cosine_topk_lsh``: the scale path — random-hyperplane LSH. Plane
  matrix is derived from a seed driver-side (tiny, broadcast inside the
  Arrow batch closure); signatures are computed in ONE vectorized pandas
  UDF (numpy matmul over Arrow batches — never per-row Python); candidates
  are generated by equi-joining signature buckets (multi-probe via bit
  flips), then exact cosine re-ranks candidates only. Recall/probe
  trade-off is tested against the brute-force baseline.
- ``ivf_topk``: IVF — corpus cells and query probe cells both come from
  :func:`nearest_cells`, then exact cosine re-ranks candidates only.
- ``embedding_near_dups``: near-duplicate pairs (cosine >= threshold)
  via the same LSH bucketing — the embedding leg of the dedup family.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

# Most rows cosine_block collects from its small side. It covers the
# isqrt(N) default quantizer up to N ~ 10^9 vectors; at dim 768 the
# float64 matrix every task receives is then ~200 MB, and each Arrow
# batch's sim block holds batch rows x side rows doubles.
MAX_SIDE_ROWS = 1 << 15


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_expr(a: Column, b: Column) -> Column:
    """Per-row cosine of two array columns in double precision; NULL when
    either vector is NULL or zero-norm (``try_divide``: under ANSI a
    plain division by a zero norm raises DIVIDE_BY_ZERO)."""
    return F.try_divide(_dot(a, b), _norm(a) * _norm(b))


def cosine_block(
    side: DataFrame,
    side_id: str,
    side_vec: str,
    names: tuple[str, str],
    digits: int,
):
    """The similarity family's block kernel. Collects ``side`` once on
    the Spark driver (rows with a NULL id skipped; more than
    :data:`MAX_SIDE_ROWS` rows raise) and returns ``score(vec, n=None)``,
    a generator column that explodes each input row into
    ``(names[0]: side id, names[1]: sim)`` rows, sims rounded to
    ``digits`` and computed with one numpy matmul per Arrow batch.

    ``n=None`` yields every side row for every input row, NULL sims
    included. ``n=k`` yields the k best side rows with a defined sim,
    best first, ties to the smaller side id — so an input row with no
    defined sim yields no row.

    A NULL, zero-norm or off-dim vector on either side has a NULL sim.
    The dimension is that of the first non-empty side vector in id
    order, so one corrupt over-long vector cannot void the rest."""
    from pyspark.sql.pandas.types import to_arrow_type

    rows = (
        side.filter(F.col(side_id).isNotNull())
        .select(side_id, side_vec)
        .limit(MAX_SIDE_ROWS + 1)
        .collect()
    )
    if len(rows) > MAX_SIDE_ROWS:
        raise ValueError(
            f"cosine_block collects its small side ({side_id!r}) on the "
            f"Spark driver and takes at most MAX_SIDE_ROWS={MAX_SIDE_ROWS} rows"
        )
    rows.sort(key=lambda r: r[0])
    dim = next((len(r[1]) for r in rows if r[1]), 0)
    smat = np.full((len(rows), dim), np.nan)
    for i, r in enumerate(rows):
        if r[1] is not None and len(r[1]) == dim:
            smat[i] = r[1]
    snorm = np.linalg.norm(smat, axis=1)
    snorm[snorm == 0.0] = np.nan
    id_type = side.schema[side_id].dataType
    ids = pa.array([r[0] for r in rows], type=to_arrow_type(id_type))
    ns = len(rows)
    ret = T.ArrayType(
        T.StructType(
            [T.StructField(names[0], id_type), T.StructField(names[1], T.DoubleType())]
        )
    )

    def score(vec: Column, n: int | None = None) -> Column:
        k = ns if n is None else min(n, ns)

        @F.arrow_udf(ret)
        def block(vecs: pa.Array) -> pa.Array:
            nb = len(vecs)
            keep_in = pc.fill_null(pc.equal(pc.list_value_length(vecs), dim), False)
            ok = keep_in.to_numpy(zero_copy_only=False)
            sims = np.full((nb, ns), np.nan)
            if dim and ok.any():  # dim 0: no side vector is defined
                flat = pc.list_flatten(vecs.filter(keep_in))
                mat = flat.to_numpy(zero_copy_only=False).astype(np.float64)
                mat = mat.reshape(-1, dim)
                vnorm = np.linalg.norm(mat, axis=1)
                vnorm[vnorm == 0.0] = np.nan
                sims[ok] = np.round(
                    (mat @ smat.T) / np.outer(vnorm, snorm), digits
                )
            if n is None:
                pick = np.tile(np.arange(ns), nb)
                sim = sims.ravel()
                counts = np.full(nb, ns)
            else:
                at = np.arange(nb)
                top = np.empty((nb, k), dtype=np.int64)
                keep = np.empty((nb, k), dtype=bool)
                free = np.where(np.isnan(sims), -np.inf, sims)
                for j in range(k):
                    # argmax returns the first maximum: the smaller side id
                    top[:, j] = free.argmax(axis=1)
                    keep[:, j] = free[at, top[:, j]] > -np.inf
                    free[at, top[:, j]] = -np.inf
                pick = top[keep]
                sim = sims[at[:, None], top][keep]
                counts = keep.sum(axis=1)
            pairs = pa.StructArray.from_arrays(
                [
                    ids.take(pa.array(pick, pa.int64())),
                    pa.array(sim, from_pandas=True),
                ],
                names=list(names),
            )
            offsets = np.concatenate([[0], np.cumsum(counts)])
            return pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), pairs)

        return F.inline(block(vec))

    return score


def nearest_cells(centroids: DataFrame):
    """:func:`cosine_block` against ``(_cent_id, _cent_vec)`` centroids:
    ``score(vec, n)`` yields each vector's ``n`` nearest cells as
    ``(cell, cell_sim)``, sims 6dp-rounded before the argmax so float
    epsilons cannot flip a cell across engines, ties to the smaller
    centroid id. Corpus, cluster and index assignment take ``n=1``;
    query probes take ``n=n_probe``."""
    return cosine_block(
        centroids, "_cent_id", "_cent_vec", ("cell", "cell_sim"), digits=6
    )


def _top_k(sims: DataFrame, k: int, query_id: str, corpus_id: str) -> DataFrame:
    """The k best ``(_qid, _cid, sim)`` rows per query, sim descending
    (NULLs last), ties to the smaller corpus id."""
    w = Window.partitionBy("_qid").orderBy(F.desc("sim"), F.asc("_cid"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias(query_id + "_q"),
            F.col("_cid").alias(corpus_id + "_c"),
            "sim",
            "rank",
        )
    )


def rerank_topk(cand: DataFrame, k: int, query_id: str, corpus_id: str) -> DataFrame:
    """Exact top-k over candidate pairs ``(_qid, _qvec, _cid, _cvec)``;
    a pair found through several buckets or cells counts once."""
    sims = cand.select(
        "_qid",
        "_cid",
        F.round(cosine_expr(F.col("_qvec"), F.col("_cvec")), 4).alias("sim"),
    ).dropDuplicates(["_qid", "_cid"])
    return _top_k(sims, k, query_id, corpus_id)


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str = "embedding",
    k: int = 5,
    include_self: bool = False,
) -> DataFrame:
    """Exact top-k: (query_id, corpus_id, sim) with sim rounded to 4dp
    (the cross-engine float tolerance: the DuckDB oracle sums in its own
    order), ties broken by corpus id. The |corpus| x |queries| block is
    :func:`cosine_block` with the query batch as its collected side.
    Degenerate vectors (NULL, zero-norm, off-dim) get NULL sims, which
    rank last."""
    score = cosine_block(queries, query_id, vec_col, ("_qid", "sim"), digits=4)
    sims = corpus.select(F.col(corpus_id).alias("_cid"), score(F.col(vec_col)))
    if not include_self:
        sims = sims.filter(F.col("_qid") != F.col("_cid"))
    return _top_k(sims, k, query_id, corpus_id)


# ---------------------------------------------------------------------------
# LSH scale path
# ---------------------------------------------------------------------------


from functools import lru_cache


@lru_cache(maxsize=16)
def _rademacher_planes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    """Deterministic ±1 (Rademacher) hyperplanes derived from md5 — a valid
    sign-random-projection family whose signatures any engine can
    recompute (the DuckDB oracle rebuilds them from the same md5 rule):
    plane[d, j] = +1 iff int(md5(f"{seed}#{j}#{d}")[:2], 16) is even."""
    import hashlib

    s = np.empty((dim, n_planes), dtype=np.float64)
    for j in range(n_planes):
        for d in range(dim):
            h = hashlib.md5(f"{seed}#{j}#{d}".encode()).hexdigest()
            s[d, j] = 1.0 if int(h[:2], 16) % 2 == 0 else -1.0
    return s


def _signature_udf(n_planes: int, seed: int):
    """Vectorized pandas UDF: embeddings (Arrow list<float>) -> int bucket.
    The plane matrix is rebuilt deterministically inside each executor from
    (seed, observed dim) — no large broadcast payload, no dim config to
    get wrong. The observed dim is the batch's most common vector length:
    a NULL vector, or one of any other length, gets a NULL signature and
    so joins no bucket — like the block kernel, which never chooses it."""

    @F.pandas_udf(T.LongType())
    def sig(col: pd.Series) -> pd.Series:
        out = pd.Series(pd.NA, index=col.index, dtype="Int64")
        lens = col.map(len, na_action="ignore")  # NaN for a NULL vector
        if lens.notna().any():
            ok = lens == lens.mode().iloc[0]
            mat = np.stack(col[ok].to_numpy())  # (rows, dim) float32
            planes = _rademacher_planes(mat.shape[1], n_planes, seed)
            bits = (mat.astype(np.float64) @ planes) > 0  # (rows, n_planes)
            weights = (1 << np.arange(n_planes)).astype(np.int64)
            out[ok] = bits @ weights
        return out

    return sig


def with_lsh_signature(
    df: DataFrame,
    vec_col: str,
    n_planes: int = 12,
    seed: int = 42,
    out_col: str = "_sig",
) -> DataFrame:
    return df.withColumn(out_col, _signature_udf(n_planes, seed)(F.col(vec_col)))


def cosine_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 10,
    n_probes: int = 4,
    seed: int = 42,
) -> DataFrame:
    """ANN top-k: bucket by hyperplane signature, multi-probe neighboring
    buckets (single-bit flips), exact cosine on candidates only."""
    c = with_lsh_signature(
        corpus.select(F.col(corpus_id).alias("_cid"), F.col(vec_col).alias("_cvec")),
        "_cvec", n_planes, seed,
    )
    q = with_lsh_signature(
        queries.select(F.col(query_id).alias("_qid"), F.col(vec_col).alias("_qvec")),
        "_qvec", n_planes, seed,
    )
    # multi-probe: query probes its own bucket + single-bit-flip buckets
    probes = F.array(
        F.col("_sig"),
        *[F.col("_sig").bitwiseXOR(F.lit(1 << b)) for b in range(min(n_probes, n_planes))],
    )
    q_probed = q.select(
        "_qid", "_qvec", F.explode(probes).alias("_sig")
    )
    cand = q_probed.join(c, "_sig").filter(F.col("_qid") != F.col("_cid"))
    return rerank_topk(cand, k, query_id, corpus_id)


def sampled_centroids(
    corpus: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    n_centroids: int | None = None,
    salt: str = "cent",
) -> DataFrame:
    """Deterministic coarse-quantizer sample: the ``n_centroids`` corpus
    vectors with the smallest ``md5(salt#id)`` draws, as
    ``(_cent_id, _cent_vec)``.

    The centroid count is INDEPENDENT of corpus size — a hash-ordered
    ``orderBy(...).limit(C)`` compiles to TakeOrdered (per-partition
    top-C + driver merge of C-row heaps, no full sort) — and the rule is
    pure SQL (``ORDER BY md5(...) LIMIT C``), so assignments stay
    oracle-checkable. ``n_centroids=None`` derives ``isqrt(N)`` from a
    cheap count: C cells of ~sqrt(N) expected members, the standard IVF
    balance point. This replaces the earlier every-``stride``-th-id
    sampler whose centroid set grew as N/stride and made assignment
    O(N^2/stride)."""
    if n_centroids is None:
        # NB: this default runs an EAGER corpus.count() at plan-construction
        # time (a full-scan job, recomputed for derived frames). Operators
        # on hot paths should pass an explicit n_centroids; the None
        # default exists for exploratory use (ADVICE r6).
        import math

        n_centroids = max(1, math.isqrt(max(int(corpus.count()), 1)))
    h = F.md5(
        F.concat_ws("#", F.lit(salt), F.col(id_col).cast("string"))
    )
    return (
        # a NULL embedding has no sim against any vector, so it could
        # never win a cell: it must not take one of the C centroid slots
        corpus.filter(F.col(vec_col).isNotNull())
        .select(
            F.col(id_col).alias("_cent_id"),
            F.col(vec_col).alias("_cent_vec"),
            h.alias("_h"),
        )
        .orderBy(F.asc("_h"), F.asc("_cent_id"))
        .limit(n_centroids)
        .drop("_h")
    )


def kmeans_centroids(
    corpus: DataFrame, vec_col: str, n_centroids: int, seed: int = 42
) -> DataFrame:
    """Train a KMeans coarse quantizer (pyspark.ml — Lloyd's over the
    cluster, distributed) and return a (centroid_id, vector) frame for
    ``ivf_topk(centroids=...)``. Tighter cells than sampling, at the cost
    of a training pass and engine-specific centroids (no SQL oracle —
    verify via recall against the exact baseline instead)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = corpus.select(
        array_to_vector(
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
        ).alias("features")
    )
    model = KMeans(k=n_centroids, seed=seed).fit(train)
    rows = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    return corpus.sparkSession.createDataFrame(rows, ["_cent_id", "_cent_vec"])


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int | None = None,
    n_probe: int = 3,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN top-k: partition the corpus into cells
    around coarse centroids, probe the ``n_probe`` nearest cells per
    query, exact-re-rank candidates only.

    The default coarse quantizer is :func:`sampled_centroids` — a
    deterministic hash-ordered sample whose size is INDEPENDENT of corpus
    size (``n_centroids``, defaulting to isqrt(N)), hence
    oracle-checkable in pure SQL; swap in :func:`kmeans_centroids` for
    tighter cells with the same cell-assignment plumbing. Corpus cells
    and query probe cells both come from :func:`nearest_cells` (one
    matmul per Arrow batch against the collected centroids, no shuffle),
    so a vector without a defined sim — NULL, zero-norm or off-dim — is
    in no cell and is neither a candidate nor a query."""
    if centroids is not None:  # e.g. kmeans_centroids(...)
        cent = centroids.select("_cent_id", "_cent_vec")
    else:
        cent = sampled_centroids(corpus, corpus_id, vec_col, n_centroids)

    cells = nearest_cells(cent)
    c = corpus.select(
        F.col(corpus_id).alias("_cid"),
        F.col(vec_col).alias("_cvec"),
        cells(F.col(vec_col), 1),
    ).drop("cell_sim")
    q = queries.select(
        F.col(query_id).alias("_qid"),
        F.col(vec_col).alias("_qvec"),
        cells(F.col(vec_col), n_probe),
    ).drop("cell_sim")
    cand = q.join(c, "cell").filter(F.col("_qid") != F.col("_cid"))
    return rerank_topk(cand, k, query_id, corpus_id)


def embedding_near_dups(
    df: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int = 10,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, sim >= threshold)
    found via shared LSH buckets."""
    s = with_lsh_signature(
        df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")),
        "_v", n_planes, seed,
    )
    a, b = s.alias("a"), s.alias("b")
    pairs = a.join(
        b, (F.col("a._sig") == F.col("b._sig")) & (F.col("a._id") < F.col("b._id"))
    ).select(
        F.col("a._id").alias("id_a"),
        F.col("b._id").alias("id_b"),
        F.round(cosine_expr(F.col("a._v"), F.col("b._v")), 4).alias("sim"),
    )
    return pairs.filter(F.col("sim") >= threshold)
