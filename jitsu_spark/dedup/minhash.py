"""MinHash + LSH near-duplicate detection, and n-gram Jaccard verification.

Pipeline (shingle -> minhash -> band -> bucket-join -> verify):

1. ``minhash_signature``: k deterministic permutations approximated by
   ``min(md5(seed || token))`` per document — portable (md5 exists in
   every engine, so the DuckDB oracle reproduces signatures exactly) and
   columnar (transform + array_min over the split; no explode, no
   shuffle).
2. ``lsh_candidate_pairs``: signatures are grouped into bands; documents
   sharing any band hash become candidate pairs via a self-equi-join on
   the band value. Scale: the join key is the band hash, so cost is
   sum over buckets of |bucket|^2 — tune (k, bands) so buckets stay
   small; the quadratic blowup of a naive cross join never happens.
3. ``ngram_jaccard_pairs``: exact word-shingle Jaccard on the (small)
   candidate set only — array_intersect/array_union on deduplicated
   shingle arrays, JVM-side.

At 100 TB: stage 1 is a narrow map over the scan; stage 2 shuffles only
(id, band) pairs (tiny); stage 3 re-joins text for candidates only
(broadcast the candidate ids when few).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _tokens(col: Column) -> Column:
    return F.split(col, " ")


def _shingles(col: Column, n: int) -> Column:
    """Word n-gram shingles as strings (distinct).

    r7 construction: ``n`` whole-array slices zipped elementwise
    (gram_i = t_i + " " + t_{i+1} + ... + t_{i+n-1}) instead of one
    3-element ``slice`` + ``concat_ws`` per POSITION — the per-position
    shape re-allocated a small array per gram and measured 5x slower at
    10x docs (11.9 s -> 2.4 s for the gram projection alone). Identical
    output: split() tokens are never NULL, so pairwise concat equals
    concat_ws.

    Documents shorter than ``n`` words yield one whole-doc shingle —
    without the guard the n-1-shifted slices would get a non-positive
    length and crash on any short/empty doc. CaseWhen evaluates branches
    lazily, so the guarded branch never runs for short docs."""
    toks = _tokens(col)
    if n == 1:
        return F.array_distinct(toks)
    cnt = F.size(toks) - (n - 1)
    grams = F.slice(toks, 1, cnt)
    for j in range(2, n + 1):
        grams = F.zip_with(
            grams,
            F.slice(toks, j, cnt),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.array_distinct(
        F.when(F.size(toks) >= n, grams).otherwise(
            F.array(F.concat_ws(" ", toks))
        )
    )


def minhash_signature(
    df: DataFrame, text_col: str, k: int = 8, shingle_n: int = 1, prefix: str = "mh"
) -> DataFrame:
    """Shingles are materialized ONCE into a temp column, then hashed k
    times — shingling is O(len(text) * n) per row and must not be repeated
    per permutation (k x speedup measured at sf0.1)."""
    tmp = f"_{prefix}_shingles"
    out = df.withColumn(tmp, _shingles(F.col(text_col), shingle_n))

    def _mh(seed: int):
        # NB: the transform lambda must take exactly ONE parameter — a
        # second parameter would be bound to the array index by Spark
        return F.array_min(
            F.transform(F.col(tmp), lambda w: F.md5(F.concat(F.lit(f"{seed}#"), w)))
        )

    for s in range(k):
        out = out.withColumn(f"{prefix}{s}", _mh(s))
    return out.drop(tmp)


def band_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    bands: int = 4,
    shingle_n: int = 1,
) -> DataFrame:
    """(id, band_no, bh) — each document's LSH band hashes, stacked: bands
    of r = k/bands minhashes are concatenated and md5'd, then exploded so
    one equi-join (or one index table) serves all bands. The shared
    banding for both the batch candidate join and the incremental index
    (dedup/lsh_index.py) — one definition, identical collisions."""
    if k % bands:
        raise ValueError("k must be divisible by bands")
    r = k // bands
    sig = minhash_signature(df.select(id_col, text_col), text_col, k, shingle_n)
    band_cols = [
        F.md5(F.concat_ws("|", *[F.col(f"mh{b * r + i}") for i in range(r)])).alias(
            f"band{b}"
        )
        for b in range(bands)
    ]
    banded = sig.select(F.col(id_col), *band_cols)
    return banded.select(
        id_col,
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band_no"), F.col(f"band{b}").alias("bh"))
                for b in range(bands)
            ])
        ).alias("b"),
    ).select(id_col, F.col("b.band_no").cast("long").alias("band_no"), "b.bh")


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    bands: int = 4,
    shingle_n: int = 1,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup candidate pairs (id_a < id_b) that agree on >=1 LSH band.

    Bands of r = k/bands minhashes are concatenated and md5'd; a
    self-equi-join per band finds collisions. Result columns:
    (id_a, id_b) distinct pairs.

    ``max_bucket_size`` is the standard guard against the degenerate-bucket
    quadratic blowup: at corpus scale, boilerplate/empty/identical docs all
    land in ONE band bucket, and the self-join of a b-row bucket is b² —
    a single million-doc bucket is 10^12 join rows. Buckets larger than the
    cap are dropped whole (their members are trivially findable by exact
    dedup, which is the right tool for identical docs). Never a silent
    cap: run ``lsh_bucket_stats`` with the same parameters for the exact
    skipped-bucket inventory. (An ``observe()`` metric was tried and
    rejected: AQE's empty-relation propagation prunes the CollectMetrics
    node whenever the cap empties a branch — precisely the degenerate
    corpus the guard exists for — so the metric silently vanishes.)
    """
    stacked = band_rows(df, id_col, text_col, k, bands, shingle_n)
    # r7 shape: ONE aggregation per band bucket (sorted id array), pairs
    # generated bucket-locally with posexplode + tail-slice explode. The
    # previous self-equi-join evaluated the whole shingle+minhash subtree
    # TWICE (once streamed, once as the broadcast build side — visible as
    # two full Scan->Generate branches in the physical plan) and shuffled
    # the id stream once per side; this computes signatures once and
    # shuffles once (guide §2.4: remove shuffles outright / audit
    # duplicated subtrees). Output volume is unchanged — sum over buckets
    # of |bucket|^2 pairs either way — and per-row memory is O(bucket), the
    # same bound the join's hash relation already imposed; ``max_bucket_size``
    # (below) remains the guard for degenerate buckets.
    buckets = stacked.groupBy("band_no", "bh").agg(
        F.array_sort(F.collect_list(F.col(id_col))).alias("_ids")
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("_ids") <= max_bucket_size)
    pairs = (
        buckets.filter(F.size("_ids") >= 2)
        .select(F.col("_ids"), F.posexplode("_ids").alias("_i", "id_a"))
        .select(
            "id_a",
            F.explode(
                F.slice(F.col("_ids"), F.col("_i") + 2, F.size("_ids"))
            ).alias("id_b"),
        )
        # strict inequality: duplicate ids in a bucket (possible only when
        # the input carries duplicate id rows) must not emit (x, x), same
        # as the join's `<` condition
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )
    return pairs


def lsh_bucket_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    bands: int = 4,
    shingle_n: int = 1,
    max_bucket_size: int | None = None,
) -> dict:
    """Exact band-bucket size distribution for a corpus — the companion to
    ``lsh_candidate_pairs(max_bucket_size=...)`` that makes the cap never
    silent. Returns ``{n_buckets, max_bucket, skipped_buckets,
    rows_in_skipped_buckets}`` (the skipped_* fields are 0 when no cap is
    given). One aggregation job over the signatures; cache ``df`` first if
    running both this and the pair join over a huge corpus."""
    # the SAME banding as the candidate join and the incremental index —
    # one definition, so this guard metric can never drift from the
    # collisions it describes
    stacked = band_rows(df, id_col, text_col, k, bands, shingle_n)
    sizes = stacked.groupBy("band_no", "bh").agg(F.count(F.lit(1)).alias("sz"))
    cap = max_bucket_size if max_bucket_size is not None else None
    row = sizes.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("sz").alias("max_bucket"),
        F.coalesce(
            F.sum(F.when(F.col("sz") > cap, 1) if cap is not None else F.lit(None)),
            F.lit(0),
        ).alias("skipped_buckets"),
        F.coalesce(
            F.sum(
                F.when(F.col("sz") > cap, F.col("sz"))
                if cap is not None
                else F.lit(None)
            ),
            F.lit(0),
        ).alias("rows_in_skipped_buckets"),
    ).collect()[0]
    return row.asDict()


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    pairs: DataFrame | None = None,
    shingle_n: int = 3,
    min_jaccard: float = 0.0,
    k: int = 8,
    bands: int = 4,
) -> DataFrame:
    """Exact word-``shingle_n``-gram Jaccard for candidate pairs (default:
    LSH candidates). Returns (id_a, id_b, n_inter, n_union, jaccard)."""
    if pairs is None:
        # forward shingle_n: generating candidates on unigram shingles
        # while verifying on n-grams would produce a hugely inflated
        # candidate set (r5 gate caught exactly this)
        pairs = lsh_candidate_pairs(
            df, id_col, text_col, k=k, bands=bands, shingle_n=shingle_n
        )
    sh = df.select(
        F.col(id_col), _shingles(F.col(text_col), shingle_n).alias("_sh")
    )
    j = (
        pairs.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("_sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("_sh", "sh_b"), "id_b")
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("n_union", F.size(F.array_union("sh_a", "sh_b")))
        .withColumn(
            "jaccard", F.round(F.col("n_inter") / F.col("n_union"), 6)
        )
        .select("id_a", "id_b", "n_inter", "n_union", "jaccard")
    )
    if min_jaccard > 0:
        j = j.filter(F.col("jaccard") >= min_jaccard)
    return j
