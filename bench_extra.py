#!/usr/bin/env python
"""Round-7 optimization harness (bench.py is FROZEN for measurement; this
file exists for guide-§1 noop-sink isolation, plan capture, and fast
iteration on single queries — its numbers are cited in OPTIMIZATION_r07.md
but the driver's number comes from bench.py).

Usage:
    python bench_extra.py [--reps N] [--plans DIR] [--tenx] [query ...]

- times each named query (default: the full bench.py suite) with the same
  noop-sink min-of-reps protocol as bench.py;
- --plans DIR additionally writes `<query>.txt` with .explain("formatted");
- --tenx runs the queries against a 10x-inflated copy of the tables
  (same inflation rule as bench.py), built once and cached in
  /dev/shm/jitsu_r7_10x (delete the dir to regenerate);
- `interval_sync_8day` / `singer_tap_50k` drive the same job harnesses
  bench.py uses (imported from it);
- a name outside the bench.py suite runs that `queries()` gate entry
  (e.g. the `*_ivm` views), timed the same way.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32), JITSU_BENCH_REPS (default 3).
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys
import time

from pyspark.sql import functions as F


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


TENX_DIR = "/dev/shm/jitsu_r7_10x"


def build_tenx(spark, sf_dir: str, out_dir: str = TENX_DIR, scale: int = 10) -> str:
    """The bench.py sf1-equivalent inflation, cached in tmpfs."""
    marker = os.path.join(out_dir, "_DONE")
    if os.path.exists(marker):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    rep = spark.range(scale).select(F.col("id").alias("_rep"))
    shift = F.col("_rep") * 10_000_000

    def _inflate(table: str, remap: set, mutate: dict | None = None):
        src = spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))
        out = src.crossJoin(rep)
        for c in src.columns:
            if c in remap:
                out = out.withColumn(c, F.col(c) + shift)
            elif mutate and c in mutate:
                out = out.withColumn(c, mutate[c])
        out.select(*src.columns).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{table}.parquet")
        )

    _inflate("events", {"event_id"})
    _inflate("lineitem", {"l_orderkey"})
    _inflate("orders", {"o_orderkey"})
    _inflate(
        "documents", {"doc_id"},
        {"text": F.when(F.col("_rep") == 0, F.col("text")).otherwise(
            F.concat(F.col("text"), F.lit(" r"), F.col("_rep"))
        )},
    )
    _inflate(
        "embeddings", {"vec_id"},
        {"embedding": F.transform(
            "embedding",
            lambda x: x + (F.col("_rep") % 7).cast("float") * 0.003,
        )},
    )
    for dim in ("customer", "nation"):
        spark.read.parquet(
            os.path.join(sf_dir, f"{dim}.parquet")
        ).write.mode("overwrite").parquet(os.path.join(out_dir, f"{dim}.parquet"))
    open(marker, "w").close()
    return out_dir


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--reps", type=int,
                    default=int(os.environ.get("JITSU_BENCH_REPS", "3")))
    ap.add_argument("--plans", default=None)
    ap.add_argument("--tenx", action="store_true")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from jitsu_spark.session import get_spark

    spark = get_spark(app_name="jitsu-bench-extra", cores=cpus,
                      shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry
    import bench

    data_dir = build_tenx(spark, sf_dir) if args.tenx else sf_dir

    suite = {
        "lww_dedup": entry.q_lww_dedup,
        "flatten_props": entry.q_flatten_props,
        "deterministic_event_id": entry.q_deterministic_event_id,
        "events_per_hour": entry.q_events_per_hour,
        "exact_dedup_documents": entry.q_exact_dedup_documents,
        "text_quality": entry.q_text_quality,
        "token_counts": entry.q_token_counts,
        "pack_sequences": entry.q_pack_sequences,
        "minhash_signature": entry.q_minhash_signature,
        "minhash_lsh_candidates": entry.q_lsh_candidates,
        "decontaminate": entry.q_decontaminate,
        "repetition_signals": entry.q_repetition_signals,
        "passage_dedup": entry.q_passage_dedup,
        "vocab_encode": entry.q_vocab_encode,
        "lm_score": entry.q_lm_score,
        "chunk_documents": entry.q_chunk_documents,
        "tfidf_topterms": entry.q_tfidf_topterms,
        "simhash": entry.q_simhash,
        "embedding_topk": entry.q_embedding_topk,
        "ann_lsh_topk": entry.q_ann_lsh_topk,
        "cluster_balanced": entry.q_cluster_balanced,
        "pricing_summary": entry.q_pricing_summary,
        "revenue_by_nation": entry.q_revenue_by_nation,
        "multimodal_features": entry.q_multimodal_features,
        "ua_parse": entry.q_ua_parse,
        "geo_lookup": entry.q_geo_lookup,
        "transform_fanout": entry.q_transform_fanout,
        "token_multiplex": entry.q_token_multiplex,
        "snapshot_sync": entry.q_snapshot_sync,
    }
    names = args.queries or list(suite) + [
        "interval_sync_8day", "singer_tap_50k", "cdc_replay", "cdc_replay_mor",
    ]

    if args.plans:
        os.makedirs(args.plans, exist_ok=True)
        for name in names:
            if name not in suite:
                continue
            df = suite[name](spark, data_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            suffix = "_10x" if args.tenx else ""
            with open(os.path.join(args.plans, f"{name}{suffix}.txt"), "w") as f:
                f.write(buf.getvalue())

    results: dict[str, float] = {}
    # untimed Arrow-path warmup, as in bench.py
    _noop_write(entry.q_pack_sequences(spark, data_dir))
    for rep in range(args.reps):
        for name in names:
            spark.sparkContext.setJobDescription(f"bx:{name}#r{rep}")
            t0 = time.time()
            if name == "interval_sync_8day":
                el = bench.bench_interval_sync(spark, data_dir)
            elif name == "singer_tap_50k":
                n = int(os.environ.get("JITSU_BENCH_SINGER_RECORDS", "50000"))
                el = bench.bench_singer_tap(spark, n * (10 if args.tenx else 1))
            elif name == "cdc_replay":
                el = bench.bench_cdc_replay(spark, 2_000_000, 200_000, reps=1)
            elif name == "cdc_replay_mor":
                el = bench.bench_cdc_replay(
                    spark, 2_000_000, 200_000, mode="mor", reps=1)
            else:
                # any other gate query by its queries() name
                q = suite.get(name) or entry.queries()[name]
                _noop_write(q(spark, data_dir))
                el = time.time() - t0
            el = round(el, 3)
            results[name] = min(results.get(name, el), el)
            spark.sparkContext.setJobDescription(None)
    print(json.dumps({"tenx": args.tenx, "reps": args.reps,
                      "queries": results}))
    spark.stop()


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    main()
