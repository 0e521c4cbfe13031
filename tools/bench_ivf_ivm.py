"""Steady-state benchmark for the incrementally maintained IVF ANN index
(similarity/ivf_index.py): after a BIG vector corpus is indexed, what
does absorbing a SMALL batch of changed embeddings cost vs the batch
pipeline's full re-assignment — and what does a probe cost against the
maintained index vs a from-scratch batch ivf_topk?

Protocol matches tools/bench_ivm.py: tmpfs scratch, incremental numbers
are per-batch over n_batches distinct same-size steady-state deltas
(state mutates, so reps are across batches), full-recompute comparators
min-of-3 in the same JVM, noop-write forcing, untimed between-batch
compaction (JITSU_IVM_COMPACT=1 — amortized background work).

Usage: python tools/bench_ivf_ivm.py [vec_scale] [delta_vecs] [n_batches] [cpus] [n_buckets]
       (defaults: 50 500 3 8 256 — ~100k vectors from sf0.1 embeddings,
       0.5% deltas; centroids = isqrt(N) hash-sampled, frozen)
Prints one JSON line.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F
from pyspark.sql import types as T

VEC_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)


def main() -> None:
    vec_scale = int(sys.argv[1]) if len(sys.argv) > 1 else 50
    delta_vecs = int(sys.argv[2]) if len(sys.argv) > 2 else 500
    n_batches = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    cpus = int(sys.argv[4]) if len(sys.argv) > 4 else 8
    n_buckets = int(sys.argv[5]) if len(sys.argv) > 5 else 256

    from jitsu_spark.lake import LakeTable
    from jitsu_spark.lake.merge import merge_batch
    from jitsu_spark.session import get_spark
    from jitsu_spark.similarity.ann import ivf_topk, sampled_centroids
    from jitsu_spark.similarity.curation import assign_clusters
    from jitsu_spark.similarity.ivf_index import (
        create_ivf_index,
        probe_ivf_index,
        sync_ivf_index,
    )

    scratch = os.environ.get("JITSU_SCALE_DIR", "/dev/shm/jitsu_scale")
    os.makedirs(scratch, exist_ok=True)
    work = tempfile.mkdtemp(prefix="jitsu_ivf_ivm_", dir=scratch)
    spark = get_spark(
        app_name="ivf-ivm-steady", cores=cpus, shuffle_partitions=cpus * 4,
        extra_conf={"spark.local.dir": os.path.join(work, "sl")},
    )
    spark.sparkContext.setLogLevel("ERROR")

    sf_dir = os.environ.get("JITSU_TEXT_BASE", "/root/testdata/sf0.1")
    src = spark.read.parquet(
        os.path.join(sf_dir, "embeddings.parquet")
    ).select("vec_id", "embedding")
    rep = spark.range(vec_scale).select(F.col("id").alias("_rep"))
    corpus = (
        src.crossJoin(rep)
        .withColumn("vec_id", F.col("vec_id") + F.col("_rep") * 10_000_000)
        .withColumn(
            "embedding",
            F.transform(
                "embedding",
                lambda x: (x + (F.col("_rep") % 7).cast("float") * 0.003)
                .cast("float"),
            ),
        )
        .select("vec_id", "embedding")
        .repartition(64)
    )
    # JITSU_IVF_DIM_TILE=k: tile every embedding k times (a 32-dim base
    # becomes 32k dims). Tiling preserves all cosines exactly (same
    # direction), so assignments/probes are unchanged while the
    # assignment compute grows k-fold — isolates the C*d term real
    # 768/1024-dim embeddings pay.
    dim_tile = int(os.environ.get("JITSU_IVF_DIM_TILE", "1"))
    if dim_tile > 1:
        corpus = corpus.withColumn(
            "embedding", F.flatten(F.array_repeat(F.col("embedding"), dim_tile))
        )
    corpus_dir = os.path.join(work, "vecs")
    corpus.write.parquet(corpus_dir)
    corpus = spark.read.parquet(corpus_dir)
    n_vecs = corpus.count()
    mod = max(n_vecs // delta_vecs, 1)
    n_centroids = max(1, math.isqrt(n_vecs))

    up = LakeTable.create(
        spark, os.path.join(work, "up"), VEC_SCHEMA, "vec_id",
        n_buckets=n_buckets, properties={"write.mode": "mor"},
    )
    merge_batch(
        up,
        corpus.select(
            "vec_id", "embedding",
            F.lit(1).cast("long").alias("seq"), F.lit("u").alias("op"),
        ),
        batch_id="seed",
        job_id="up",
    )

    cent = sampled_centroids(corpus, "vec_id", "embedding", n_centroids)
    cent_dir = os.path.join(work, "cent")
    cent.write.parquet(cent_dir)
    cent = spark.read.parquet(cent_dir)
    index = create_ivf_index(
        spark, os.path.join(work, "ivf"), cent, n_buckets=n_buckets
    )

    results: dict = {
        "n_vecs": n_vecs, "delta_vecs": delta_vecs,
        "delta_pct": round(100.0 * delta_vecs / n_vecs, 3),
        "n_batches": n_batches, "cpus": cpus,
        "n_buckets": n_buckets, "n_centroids": n_centroids,
        "dim_tile": dim_tile,
    }

    t0 = time.monotonic()
    sync_ivf_index(up, index)
    results["bootstrap_s"] = round(time.monotonic() - t0, 3)

    def _noop(df):
        df.write.format("noop").mode("overwrite").save()

    # steady state: n_batches distinct same-size deltas (perturbed vecs
    # — the update regime; a share move between cells is the worst case)
    inc: list[float] = []
    probe_inc: list[float] = []
    queries = corpus.filter(F.col("vec_id") < 8)
    for i in range(n_batches):
        up.compact(max_files_per_bucket=1)  # untimed, amortized
        index.compact(max_files_per_bucket=1)
        delta = corpus.filter(F.col("vec_id") % mod == i).select(
            "vec_id",
            F.transform(
                "embedding",
                lambda x: (x + F.lit(0.05 * (i + 1))).cast("float"),
            ).alias("embedding"),
            F.lit(i + 2).cast("long").alias("seq"),
            F.lit("u").alias("op"),
        )
        merge_batch(up, delta, batch_id=f"d{i}", job_id="up")
        t0 = time.monotonic()
        sync_ivf_index(up, index)
        inc.append(round(time.monotonic() - t0, 3))
        t0 = time.monotonic()
        _noop(probe_ivf_index(index, queries, "vec_id", k=5, n_probe=4))
        probe_inc.append(round(time.monotonic() - t0, 3))

    # full-recompute comparators over the upstream's CURRENT state
    cur = up.read().select("vec_id", "embedding")
    cur.write.parquet(os.path.join(work, "cur"))
    cur = spark.read.parquet(os.path.join(work, "cur"))

    full_assign = None
    full_probe = None
    for _ in range(3):
        t0 = time.monotonic()
        _noop(assign_clusters(cur, "vec_id", "embedding", centroids=cent))
        el = time.monotonic() - t0
        full_assign = el if full_assign is None else min(full_assign, el)
        t0 = time.monotonic()
        _noop(
            ivf_topk(
                queries, cur, "vec_id", "vec_id", k=5, n_probe=4,
                centroids=cent,
            )
        )
        el = time.monotonic() - t0
        full_probe = el if full_probe is None else min(full_probe, el)

    results["full_assign_s"] = round(full_assign, 3)
    results["incremental_s"] = min(inc)
    results["incremental_all_s"] = inc
    results["speedup_index"] = round(full_assign / min(inc), 2)
    results["probe_indexed_s"] = min(probe_inc)
    results["probe_indexed_all_s"] = probe_inc
    results["probe_batch_s"] = round(full_probe, 3)
    results["speedup_probe"] = round(full_probe / min(probe_inc), 2)
    print(json.dumps(results))
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
