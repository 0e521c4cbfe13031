"""Scaling evidence for the TOKENS-pipeline family (BASELINE.md): run the
three shuffle-bearing text operators (passage_dedup, vocab_encode,
repetition_signals) over an inflated documents corpus at two parallelism
levels (default local[2] vs local[8]) with the same interleaved
best-of-reps protocol as the CDC harness, plus the same pure-CPU Spark
control for the hardware's own thread-scaling ceiling.

Usage: python tools/bench_scaling_text.py [docs_scale] [levels] [reps]
       (defaults: 40 2,8 3 — ~200k docs from sf0.1)
Prints one JSON line. Expect ~15 min.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench_scaling_full import CPU_CONTROL  # noqa: E402 — same control

RUNNER = '''
import json, os, sys, time
corpus_dir, cpus, repo = sys.argv[1], int(sys.argv[2]), sys.argv[3]
sys.path.insert(0, repo)
from jitsu_spark.session import get_spark
import __spark_entry__ as entry
spark = get_spark(cores=cpus, shuffle_partitions=max(cpus * 4, 8))
spark.sparkContext.setLogLevel("ERROR")
ops = {
    "passage_dedup": entry.q_passage_dedup,
    "vocab_encode": entry.q_vocab_encode,
    "repetition_signals": entry.q_repetition_signals,
}
def _vocab_encode_udf32k(spark, sf_dir):
    # REALIZED-32k-V encode: the synthetic corpus's natural vocab is
    # small, so each doc contributes two hash-derived pseudo-tokens over
    # a 45k space and the built vocab genuinely hits the 32768 cap (a
    # real tokenizer vocab is 32k-256k) — above MAP_LITERAL_MAX, so the
    # encode runs the broadcast-dict Arrow UDF: narrow, zero shuffle
    from pyspark.sql import functions as F
    from jitsu_spark.text.vocab import build_vocab, encode_documents
    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text")
    d = d.withColumn(
        "text",
        F.concat_ws(
            " ", "text",
            F.concat(F.lit("tk"), F.pmod(F.xxhash64("doc_id"),
                                         F.lit(45000)).cast("string")),
            F.concat(F.lit("tk"), F.pmod(F.xxhash64("doc_id", F.lit(1)),
                                         F.lit(45000)).cast("string"))))
    enc = encode_documents(d, build_vocab(d, 32768))
    return enc.select(
        "doc_id", "n_tokens", "n_oov",
        F.array_join(F.transform(F.slice(F.col("token_ids"), 1, 32),
                                 lambda x: x.cast("string")), ",").alias("ids_csv"))
ops["vocab_encode_udf32k"] = _vocab_encode_udf32k
def _lm_score(spark, sf_dir):
    from jitsu_spark.text.lm import bigram_model, score_documents
    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text")
    return score_documents(d, bigram_model(d))
ops["lm_score"] = _lm_score
def _tfidf(spark, sf_dir):
    from jitsu_spark.text.tfidf import tfidf_top_terms
    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text")
    return tfidf_top_terms(d, 5)
ops["tfidf_topterms"] = _tfidf
sel = os.environ.get("JITSU_TEXT_OPS")
if sel:
    ops = {k: v for k, v in ops.items() if k in sel.split(",")}
def run(fn):
    fn(spark, corpus_dir).write.format("noop").mode("overwrite").save()
for fn in ops.values():
    run(fn)  # untimed JIT/codegen warmup
best = {}
for it in range(3):
    for name, fn in ops.items():
        t0 = time.time()
        run(fn)
        s = round(time.time() - t0, 3)
        best[name] = min(best.get(name, s), s)
print(json.dumps({"secs": round(sum(best.values()), 3), "ops": best}))
spark.stop()
'''


def main() -> None:
    docs_scale = int(sys.argv[1]) if len(sys.argv) > 1 else 40
    levels = [
        int(x) for x in (sys.argv[2].split(",") if len(sys.argv) > 2 else ["2", "8"])
    ]
    n_reps = int(sys.argv[3]) if len(sys.argv) > 3 else 3

    from pyspark.sql import functions as F

    from jitsu_spark.session import get_spark

    scratch = os.environ.get("JITSU_SCALE_DIR", "/dev/shm/jitsu_scale")
    os.makedirs(scratch, exist_ok=True)
    work = tempfile.mkdtemp(prefix="jitsu_scaling_text_", dir=scratch)
    sf_dir = os.environ.get("JITSU_TEXT_BASE", "/root/testdata/sf0.1")
    spark = get_spark(app_name="textscale-gen", cores=16)
    spark.sparkContext.setLogLevel("ERROR")
    src = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    rep = spark.range(docs_scale).select(F.col("id").alias("_rep"))
    # replica-shifted ids + replica-suffixed text: passage/vocab structure
    # stays realistic instead of collapsing into exact duplicates
    out = (
        src.crossJoin(rep)
        .withColumn("doc_id", F.col("doc_id") + F.col("_rep") * 10_000_000)
        .withColumn(
            "text",
            F.when(F.col("_rep") == 0, F.col("text")).otherwise(
                F.concat(F.col("text"), F.lit(" r"), F.col("_rep"))
            ),
        )
        .select(*src.columns)
        .repartition(64)
    )
    out.write.parquet(os.path.join(work, "documents.parquet"))
    n_docs = spark.read.parquet(os.path.join(work, "documents.parquet")).count()
    spark.stop()

    best: dict[int, dict] = {}
    for r in range(n_reps):
        for cpus in levels:
            res = subprocess.run(
                [sys.executable, "-c", RUNNER, work, str(cpus), REPO],
                capture_output=True,
                text=True,
            )
            lines = [l for l in res.stdout.splitlines() if l.startswith("{")]
            if not lines:
                print(f"rep{r} local[{cpus}] FAILED", file=sys.stderr)
                continue
            j = json.loads(lines[-1])
            print(f"rep{r} local[{cpus}]: {j['secs']}s {j['ops']}", file=sys.stderr)
            if cpus not in best or j["secs"] < best[cpus]["secs"]:
                best[cpus] = j

    control: dict[int, float] = {}
    for cpus in levels:
        res = subprocess.run(
            [sys.executable, "-c", CPU_CONTROL, str(cpus), REPO],
            capture_output=True,
            text=True,
        )
        secs = [l for l in res.stdout.splitlines() if l.startswith("SECS")]
        if secs:
            control[cpus] = float(secs[0].split()[1])

    shutil.rmtree(work, ignore_errors=True)
    result: dict = {"n_docs": n_docs, "docs_scale": docs_scale, "levels": levels}
    for c in levels:
        if c in best:
            result[f"text_secs_local{c}"] = best[c]["secs"]
            result[f"text_ops_local{c}"] = best[c]["ops"]
        if c in control:
            result[f"cpu_control_secs_local{c}"] = control[c]
    a, b = levels[0], levels[-1]
    if a in best and b in best:
        result[f"text_eff_{a}to{b}"] = round(
            (best[a]["secs"] / best[b]["secs"]) / (b / a), 3
        )
        for op in best[a]["ops"]:
            result[f"{op}_eff_{a}to{b}"] = round(
                (best[a]["ops"][op] / best[b]["ops"][op]) / (b / a), 3
            )
    if a in control and b in control:
        result[f"cpu_eff_{a}to{b}"] = round((control[a] / control[b]) / (b / a), 3)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
