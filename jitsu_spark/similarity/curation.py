"""Embedding-cluster corpus curation (SemDeDup / cluster-balanced
sampling family).

Modern pretrain curation clusters the corpus in embedding space and
rebalances it — capping over-represented semantic clusters instead of
sampling uniformly. This module provides the two primitives:

- :func:`assign_clusters` — every vector's nearest coarse centroid
  (same deterministic hash-sampled quantizer and the same
  ``nearest_cells`` kernel as ``ivf_topk``, so the assignment is
  oracle-checkable in pure SQL; swap in ``kmeans_centroids`` for
  tighter cells);
- :func:`cluster_balanced_sample` — keep at most ``cap`` vectors per
  cluster, chosen by a salted md5-uniform rank (deterministic across
  reruns/partitionings, unbiased within cluster).

Scale shape: the centroid count is INDEPENDENT of corpus size
(``n_centroids``, default isqrt(N) via ``sampled_centroids``) and the
argmax runs inside the kernel's per-batch matmul, so assignment costs
O(N*C*d) compute and no shuffle — never the N*C pair shuffle of a
row_number window. The per-cluster cap is a window partitioned by
cluster; with the sqrt(N) default each partition is ~sqrt(N) rows, so
the sort parallelizes across clusters and no reducer sees the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from jitsu_spark.similarity.ann import nearest_cells, sampled_centroids


def assign_clusters(
    df: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    n_centroids: int | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """(id, cluster, cluster_sim): each vector's nearest centroid by
    cosine (6dp-rounded before the argmax so float epsilons cannot flip
    assignment across engines; ties break on the smaller centroid id).
    A vector without a defined sim (NULL, zero-norm, off-dim) is in no
    cluster and yields no row."""
    if centroids is None:
        centroids = sampled_centroids(df, id_col, vec_col, n_centroids)
    return df.select(
        F.col(id_col), nearest_cells(centroids)(F.col(vec_col), 1)
    ).withColumnsRenamed({"cell": "cluster", "cell_sim": "cluster_sim"})


def cap_clusters(
    assigned: DataFrame,
    id_col: str,
    cap: int = 10,
    seed: int = 0,
    cluster_col: str = "cluster",
) -> DataFrame:
    """Cap every cluster at ``cap`` members: rank each cluster's rows by
    a salted md5 draw (then id) and keep rank <= cap. Returns
    (id, cluster, pick_rank) for the survivors. ``assigned`` is any
    (id, cluster) frame — a fresh :func:`assign_clusters` pass, or the
    incrementally-maintained IVF inverted file
    (``similarity.ivf_index.index_assignments``), which makes curation
    over 100 TB a read of the standing index instead of a full
    re-assignment."""
    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    pick = F.md5(
        F.concat_ws(
            "#", F.lit(f"cursample:{seed}"), F.col(id_col).cast("string")
        )
    )
    w = Window.partitionBy(cluster_col).orderBy(
        pick.asc(), F.col(id_col).asc()
    )
    return (
        assigned.withColumn("pick_rank", F.row_number().over(w))
        .filter(F.col("pick_rank") <= cap)
        .select(id_col, cluster_col, "pick_rank")
    )


def cluster_balanced_sample(
    df: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    cap: int = 10,
    n_centroids: int | None = None,
    seed: int = 0,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Cap every cluster at ``cap`` members over a fresh assignment pass.
    Returns (id, cluster, pick_rank) for the survivors — the rebalanced
    corpus."""
    assigned = assign_clusters(df, id_col, vec_col, n_centroids, centroids)
    return cap_clusters(assigned, id_col, cap=cap, seed=seed)
