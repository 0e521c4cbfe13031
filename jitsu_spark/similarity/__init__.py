from jitsu_spark.similarity.ann import (
    cosine_topk,
    cosine_topk_lsh,
    embedding_near_dups,
    ivf_topk,
    kmeans_centroids,
    sampled_centroids,
)
from jitsu_spark.similarity.ivf_index import (
    create_ivf_index,
    index_assignments,
    index_centroids,
    load_ivf_index,
    probe_ivf_index,
    sync_ivf_index,
)

__all__ = [
    "cosine_topk",
    "cosine_topk_lsh",
    "embedding_near_dups",
    "ivf_topk",
    "kmeans_centroids",
    "sampled_centroids",
    "create_ivf_index",
    "index_assignments",
    "index_centroids",
    "load_ivf_index",
    "probe_ivf_index",
    "sync_ivf_index",
]
