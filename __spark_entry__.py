"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every implemented operator from SURVEY.md §2 (plus
the training-data-pipeline family) over the driver's parquet tables;
``oracle_sql()`` gives the DuckDB-executable twin for the value-hash gate.
Column names/aliases match pairwise by construction.

The CDC queries derive a change log deterministically from the ``events``
table (seq=event_id, doc_id=user_id, op from event_type) so the engine's
replay semantics are checkable against pure SQL window logic.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Spread an unsplittable input over the cluster (guide §2.5 "input
    skew": one huge unsplittable file -> repartition immediately after
    the read). The driver tables are single-row-group parquet files, so
    the scan itself can never exceed ~1 task per file no matter how many
    cores exist; compute-heavy queries over them would otherwise run
    effectively single-threaded. The shuffle moves only the (small)
    source bytes once; round-robin repartition is retry-deterministic via
    Spark's sort-before-repartition. Scale-adaptive: sized from the
    session's parallelism, not a constant."""
    return df.repartition(spark.sparkContext.defaultParallelism)


def _table_bytes(sf_dir: str, name: str) -> int:
    total = 0
    root = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isfile(root):
        return os.path.getsize(root)
    for dirpath, _, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def _spread_big(
    spark: SparkSession, sf_dir: str, name: str, df: DataFrame,
    min_bytes: int = 4 << 20,
) -> DataFrame:
    """Size-conditional :func:`_spread`: repartition only when the table
    is big enough for the redistribution to pay for its shuffle
    (measured: at sub-MB inputs the extra exchange costs ~0.1-0.3 s and
    the single-task compute is already cheap; at 10x volumes the same
    queries win 2-20x). Driver-side stat of the parquet dir — no job."""
    if _table_bytes(sf_dir, name) >= min_bytes:
        return _spread(spark, df)
    return df


_SCRATCH: str | None = None


def _scratch(sub: str) -> str:
    """Process-lifetime scratch dir: engine tables written here outlive the
    query call, so queries return LAZY reads (no full-result collect —
    the driver materializes)."""
    global _SCRATCH
    if _SCRATCH is None:
        _SCRATCH = tempfile.mkdtemp(prefix="jitsu_entry_scratch_")
        atexit.register(shutil.rmtree, _SCRATCH, ignore_errors=True)
    d = tempfile.mkdtemp(prefix=f"{sub}_", dir=_SCRATCH)
    return os.path.join(d, "tbl")


# ---------------------------------------------------------------------------
# change-log derivation (identical in Spark and SQL)
# ---------------------------------------------------------------------------

_CHANGELOG_SQL = """
    SELECT event_id AS seq,
           CASE WHEN event_type = 'error' THEN 'd'
                WHEN event_type = 'signup' THEN 'i'
                ELSE 'u' END AS op,
           ts,
           CAST(user_id AS VARCHAR) AS doc_id,
           value
    FROM events
"""


def _changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _read(spark, sf_dir, "events")
    return e.select(
        F.col("event_id").alias("seq"),
        F.when(F.col("event_type") == "error", F.lit("d"))
        .when(F.col("event_type") == "signup", F.lit("i"))
        .otherwise(F.lit("u"))
        .alias("op"),
        F.col("ts"),
        F.col("user_id").cast("string").alias("doc_id"),
        F.col("value"),
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def q_cdc_replay_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: replay the derived change log through the REAL engine
    (LakeTable + merge kernel, 5 seq-ordered micro-batches) and read the
    final table state back."""
    from jitsu_spark.lake import LakeTable
    from jitsu_spark.lake.merge import merge_batch

    log = _changelog(spark, sf_dir)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    table = LakeTable.create(
        spark, _scratch("replay"), schema, "doc_id", n_buckets=16
    )
    hi = log.agg(F.max("seq")).collect()[0][0] or 0
    n_batches = 5
    per = hi // n_batches + 1
    for i in range(n_batches):
        part = log.filter(
            (F.col("seq") >= i * per) & (F.col("seq") < (i + 1) * per)
        )
        merge_batch(table, part, batch_id=i, job_id="entry")
    return table.read().select("doc_id", "ts", "value")


def q_lww_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LWW operator alone (max_by hash aggregate), winners incl. ops."""
    log = _changelog(spark, sf_dir)
    return (
        log.groupBy("doc_id")
        .agg(
            F.max_by(F.struct("op", "value"), F.col("seq")).alias("_w"),
            F.max("seq").alias("last_seq"),
        )
        .select("doc_id", F.col("_w.op").alias("last_op"),
                F.col("_w.value").alias("last_value"), "last_seq")
    )


def q_flatten_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jitsu_spark.operators.flatten import flatten_json_col

    e = _spread_big(spark, sf_dir, "events",
                    _read(spark, sf_dir, "events").select("event_id", "props"))
    out = flatten_json_col(
        e, "props", T.StructType([T.StructField("k", T.LongType())])
    )
    return out.select("event_id", F.col("props_k"))


def q_routing_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jitsu_spark.operators.routing import route_to_tables

    e = _read(spark, sf_dir, "events")
    routed = route_to_tables(e, "events_{ts:yyyy_MM}")
    return routed.groupBy(F.col("_table")).agg(F.count(F.lit(1)).alias("n"))


def q_deterministic_event_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jitsu_spark.operators.enrich import with_deterministic_event_id

    e = _read(spark, sf_dir, "events").select(
        F.col("event_id").alias("src_id"), F.col("user_id"), F.col("event_type")
    )
    out = with_deterministic_event_id(
        e, out_col="det_id", id_cols=["src_id", "user_id", "event_type"]
    )
    return out.select("src_id", "det_id")


def q_mapping_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jitsu_spark.operators.mapping import MappingRule, apply_mappings, parse_rule

    e = _read(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    rules = [
        parse_rule("/user_id -> (integer) /uid"),
        parse_rule("/event_type -> /etype"),
        MappingRule(kind="constant", dst="pipeline", value="v1"),
    ]
    return apply_mappings(e, rules, keep_unmapped=True)


# deterministic UA corpus for the ua_parse entry query (md5-picked per
# event, so the oracle regenerates identical rows)
_UA_LIST = [
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.1 Safari/605.1.15",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 16_6 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/16.6 Mobile/15E148 Safari/604.1",
    "Mozilla/5.0 (X11; Linux x86_64; rv:109.0) Gecko/20100101 Firefox/115.0",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36 Edg/120.0.2210.91",
    "Mozilla/5.0 (Linux; Android 13; SM-G991B) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/119.0.6045.163 Mobile Safari/537.36",
    "Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)",
    "curl/8.4.0",
]


def _hex_byte(col, h_expr, pos: int):
    return (
        F.conv(F.substring(h_expr, pos, 2), 16, 10).cast("int")
    )


def q_ua_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P12 UA-parse enrichment over a deterministic synthetic UA column.

    r7 shape: the UA corpus is an 8-entry literal list, so the ~30 regex
    rules run over the 8 DISTINCT strings (a broadcast dim parsed by the
    same ``with_parsed_ua`` operator) and events broadcast-join on the
    md5-picked index — dictionary-encoded enrichment instead of per-event
    regex evaluation (guide §1.2 step 1: same result, ~n_distinct regex
    evaluations instead of ~n_rows). Result-identical to parsing per
    event because the parse is a pure function of the UA string."""
    from jitsu_spark.operators import with_parsed_ua

    e = _spread(spark, _read(spark, sf_dir, "events").select("event_id"))
    h = F.md5(F.concat(F.col("event_id").cast("string"), F.lit("#ua")))
    idx = _hex_byte(None, h, 1) % 8 + 1
    # row 0 is the NULL-UA sentinel: an event whose md5 index is NULL (a
    # NULL event_id) coalesces to it and gets the operator's defaults
    # ("Other"/empty), exactly what parsing a NULL UA per event produced
    dim = spark.createDataFrame(
        [(0, None)] + [(i + 1, u) for i, u in enumerate(_UA_LIST)],
        "ua_idx int, user_agent string",
    )
    parsed = with_parsed_ua(dim, "user_agent")
    out = e.withColumn("_uaidx", F.coalesce(idx, F.lit(0))).join(
        F.broadcast(parsed), F.col("_uaidx") == F.col("ua_idx")
    )
    return out.select(
        "event_id", "ua_family", "ua_version", "ua_os_family",
        "ua_os_version", "ua_device_family", "ua_device_brand",
        "ua_device_model", "ua_bot",
    )


def q_geo_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11 ip->geo enrichment: bucketed broadcast range join against a
    deterministic 256-block CIDR dimension (broadcast plan-asserted)."""
    from jitsu_spark.operators import with_geo_lookup

    e = _spread(spark, _read(spark, sf_dir, "events").select("event_id"))
    h = F.md5(F.concat(F.col("event_id").cast("string"), F.lit("#ip")))
    o1, o2, o3 = (_hex_byte(None, h, p) for p in (1, 3, 5))
    ip = F.concat_ws(
        ".",
        F.lit("10"),
        o1.cast("string"),
        o2.cast("string"),
        o3.cast("string"),
    )
    # the octets are numeric already (r7): hand the numeric IP to the
    # operator so it skips the split/try_cast re-parse of the string we
    # just built — same value by construction (octets are conv() of two
    # hex digits, always 0..255)
    ip_num = (
        F.lit(10 * 16777216)
        + o1.cast("long") * 65536
        + o2.cast("long") * 256
        + o3.cast("long")
    )
    dim = spark.range(256).select(
        (F.lit(10 * 16777216) + F.col("id") * 65536).alias("net_start"),
        (F.lit(10 * 16777216) + F.col("id") * 65536 + 65535).alias("net_end"),
        F.concat(F.lit("C"), (F.col("id") % 32).cast("string")).alias("country"),
        F.concat(F.lit("city-"), F.col("id").cast("string")).alias("city"),
        F.round(F.col("id") * 0.5, 4).alias("latitude"),
        F.round(F.col("id") * 0.7 - 80, 4).alias("longitude"),
        (F.col("id") + 10000).cast("string").alias("zip"),
        F.concat(F.lit("R"), (F.col("id") % 8).cast("string")).alias("region"),
    )
    out = with_geo_lookup(
        e.withColumn("ip", ip).withColumn("_ipn", ip_num),
        dim, ip_col="ip", ip_num_col="_ipn",
    )
    return out.select(
        "event_id", "ip", "geo_country", "geo_city", "geo_latitude",
        "geo_longitude", "geo_zip", "geo_region",
    )


def q_events_per_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _read(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("_sv"),
        )
        # Result surface: exact integer cents (BIGINT). DECIMAL columns are
        # gate-unsafe — the driver's harness materializes Spark Decimal and
        # DuckDB DECIMAL asymmetrically (r1+r2 lesson), so keep decimals
        # internal and hand the driver a representation-stable int64.
        .select("hour", "n", (F.col("_sv") * 100).cast("long").alias("sum_value_c"))
    )


def q_rollup_multigrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-granularity rollup in ONE pass: ROLLUP
    grouping sets produce (day, hour), per-day, and grand-total rows
    together — one shuffle instead of three jobs; grouping_id
    disambiguates levels identically across engines."""
    e = _read(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        F.col("value").cast("decimal(18,2)").alias("v"),
    )
    return (
        e.rollup("day", "hour")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("_sv"),
            F.grouping_id().alias("lvl"),
        )
        .select(
            "day", "hour", "n",
            (F.col("_sv") * 100).cast("long").alias("sum_value_c"), "lvl",
        )
    )


def q_exact_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jitsu_spark.dedup import exact_dedup

    d = _read(spark, sf_dir, "documents")
    return exact_dedup(d, ["text"], "doc_id").select(
        "content_hash", "keep_id", "n_dups"
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jitsu_spark.text import quality_features

    d = _spread_big(spark, sf_dir, "documents", _read(spark, sf_dir, "documents").select("doc_id", "text"))
    return quality_features(d).select(
        "doc_id", "n_words", "n_alpha", "n_punct", "mean_word_len_x100", "is_short"
    )


def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jitsu_spark.text import langid_expr

    d = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return d.select("doc_id", langid_expr(F.col("text")).alias("lang_guess"))


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jitsu_spark.text import bpe_ish_token_count, token_count_ws

    d = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return d.select(
        "doc_id",
        token_count_ws(F.col("text")).alias("n_ws_tokens"),
        bpe_ish_token_count(F.col("text")).alias("n_bpe_tokens"),
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jitsu_spark.text import fingerprint_expr

    d = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return d.select("doc_id", fingerprint_expr(F.col("text")).alias("fp"))


def q_corpus_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus selection: quality gate + language gate
    + exact-dedup keeper + near-dup keeper, with auditable per-gate
    flags. Composes four independently-oracled primitives."""
    from jitsu_spark.text.corpus import select_training_corpus

    d = _spread(spark, _read(spark, sf_dir, "documents").select("doc_id", "text"))
    return select_training_corpus(
        d, min_words=16, languages=("en",), min_jaccard=0.5
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3/PaLM n-gram-overlap protocol):
    per training doc, distinct word-trigram shingles and how many also
    occur in a synthetic benchmark slice (doc_id % 37 == 0). Broadcast
    bench shingles -> corpus never shuffles to find hits; the oracle
    recomputes shingling, the bench set, and the overlap join in SQL."""
    from jitsu_spark.text.decontam import ngram_contamination

    d = _spread(spark, _read(spark, sf_dir, "documents").select("doc_id", "text"))
    bench = d.filter(F.col("doc_id") % 37 == 0)
    train = d.filter(F.col("doc_id") % 37 != 0)
    return ngram_contamination(train, bench, n=3).select(
        "doc_id", "n_shingles", "n_hit"
    )


def q_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain-mixture sampling (data mixing): src0
    down-sampled to 0.4, src1 up-sampled to 2.5 expected copies, src2
    dropped (w=0), everything else kept at 1.0 — md5-derived uniforms,
    so the oracle replays the mixture bit-for-bit including copy_no."""
    from jitsu_spark.text.mixing import sample_mixture

    d = _read(spark, sf_dir, "documents").select("doc_id", "source")
    return sample_mixture(
        d, {"src0": 0.4, "src1": 2.5, "src2": 0.0}, seed=7
    ).select("doc_id", "source", F.col("copy_no").cast("int").alias("copy_no"))


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: the corpus text is deterministically augmented with
    synthetic PII (email from doc_id, dotted IP + dashed phone from
    doc_id/n_chars arithmetic, a card-like digit run on every 3rd doc) so
    the regex families actually fire, then scrubbed; per-family counts +
    redacted text are the gate surface."""
    from jitsu_spark.text.pii import scrub_pii

    d = _read(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com from "),
            (F.col("doc_id") % 256).cast("string"),
            F.lit("."),
            (F.col("n_chars") % 256).cast("string"),
            F.lit("."),
            ((F.col("doc_id") * 7) % 256).cast("string"),
            F.lit("."),
            ((F.col("n_chars") * 3) % 256).cast("string"),
            F.lit(" call 555-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((F.col("n_chars") % 10000).cast("string"), 4, "0"),
            F.when(
                F.col("doc_id") % 3 == 0, F.lit(" card 4111111111111111")
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return scrub_pii(aug).select(
        "doc_id", "n_email", "n_ip", "n_phone", "n_card", "pii_total", "clean_text"
    )


def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition features per document (word + bigram
    multiplicity fractions)."""
    from jitsu_spark.text.repetition import repetition_signals

    d = _spread(spark, _read(spark, sf_dir, "documents").select("doc_id", "text"))
    return repetition_signals(d)


def q_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document passage dedup: 10-word windows, global
    first-occurrence-wins, documents reassembled from surviving passages."""
    from jitsu_spark.text.passages import dedup_passages

    d = _spread_big(spark, sf_dir, "documents", _read(spark, sf_dir, "documents").select("doc_id", "text"))
    return dedup_passages(d, window=10)


def q_passage_dedup_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage dedup maintained INCREMENTALLY (text/passage_ivm.py): the
    documents table replays into a MoR upstream as 3 batches — inserts,
    then wrong-text inserts + bogus docs, then corrective updates +
    deletes — and after every merge the dedup view syncs from changes()
    (occurrence retract/assert + dirty-passage winner recompute +
    affected-doc rebuild, all bucket-pruned, O(change) not O(corpus)).
    The final view must equal the full recompute, so the oracle is the
    SAME SQL as passage_dedup."""
    from jitsu_spark.lake import LakeTable
    from jitsu_spark.lake.merge import merge_batch
    from jitsu_spark.text.passage_ivm import PassageDedupView

    d = _read(spark, sf_dir, "documents").select("doc_id", "text")
    up = LakeTable.create(
        spark,
        _scratch("pivm_up"),
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("text", T.StringType()),
            ]
        ),
        "doc_id",
        n_buckets=16,
        properties={"write.mode": "mor"},
    )
    view = PassageDedupView.create(
        spark, _scratch("pivm_view"), window=10, n_buckets=16
    )
    for i, b in enumerate(_doc_cdc_batches(d)):
        merge_batch(up, b, batch_id=i, job_id="pivm")
        view.sync(up)
    return view.read().select("doc_id", "n_passages", "n_kept", "clean_text")


def _doc_cdc_batches(d: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The IVM gate queries' shared 3-batch CDC history over the
    documents table: b0 inserts the doc_id%3==0 docs; b1 inserts %3==1,
    CORRUPTS %3==2, and inserts bogus docs; b2 restores %3==2 and deletes
    the bogus docs. Final upstream state == the original documents table,
    so every incremental view's oracle is a plain full recompute. The
    bogus set is a fixed predicate — inserted in b1 and deleted in b2,
    the two frames MUST select the identical docs (limit(N) without an
    order is not deterministic across evaluations). Bogus ids shift by
    10^10 — far past the replica id space of the inflated corpora
    (gen_sf1 / bench tools use doc_id + rep*10M), where a collision
    would make b2 delete REAL docs (caught at sf1-equivalent: all
    CDC-history IVM queries lost exactly the collided docs)."""
    m3 = F.col("doc_id") % 3
    bogus = (m3 == 0) & (F.col("doc_id") < 60)
    seq_op = lambda s: [F.lit(s).cast("long").alias("seq"), F.lit("u").alias("op")]  # noqa: E731
    b0 = d.filter(m3 == 0).select("doc_id", "text", *seq_op(1))
    b1 = (
        d.filter(m3 == 1).select("doc_id", "text", *seq_op(2))
        .unionByName(
            d.filter(m3 == 2).select(
                "doc_id",
                F.concat(F.lit("corrupt "), F.col("doc_id").cast("string"))
                .alias("text"),
                *seq_op(2),
            )
        )
        .unionByName(
            d.filter(bogus).select(
                (F.col("doc_id") + 10_000_000_000).alias("doc_id"),
                F.lit("bogus shared boilerplate row").alias("text"),
                *seq_op(2),
            )
        )
    )
    b2 = (
        d.filter(m3 == 2).select("doc_id", "text", *seq_op(3))
        .unionByName(
            d.filter(bogus).select(
                (F.col("doc_id") + 10_000_000_000).alias("doc_id"),
                F.lit(None).cast("string").alias("text"),
                F.lit(3).cast("long").alias("seq"),
                F.lit("d").alias("op"),
            )
        )
    )
    return b0, b1, b2


def q_lsh_index_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH band index maintained INCREMENTALLY from changes()
    (dedup/lsh_index.py over sync_derived_rows: pre-image band rows
    retract, post-image band rows assert, bucket-pruned O(change) per
    sync; band hashes co-locate via prefix bucketing so probes prune to
    their own buckets). After the 3-batch CDC history the index's full
    candidate-pair emission must equal the batch lsh_candidate_pairs
    over the final corpus — SAME oracle as lsh_candidates."""
    from jitsu_spark.dedup.lsh_index import (
        create_lsh_index,
        index_pairs,
        sync_lsh_index,
    )
    from jitsu_spark.lake import LakeTable
    from jitsu_spark.lake.merge import merge_batch

    d = _read(spark, sf_dir, "documents").select("doc_id", "text")
    up = LakeTable.create(
        spark,
        _scratch("lshix_up"),
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("text", T.StringType()),
            ]
        ),
        "doc_id",
        n_buckets=16,
        properties={"write.mode": "mor"},
    )
    index = create_lsh_index(
        spark, _scratch("lshix_view"), k=8, bands=4, shingle_n=3,
        n_buckets=16,
    )
    for i, b in enumerate(_doc_cdc_batches(d)):
        merge_batch(up, b, batch_id=i, job_id="lshix")
        sync_lsh_index(up, index)
    return index_pairs(index)


def q_lsh_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The index's PROBE path — the 100 TB question ("which existing docs
    are these new ones near-dups of?") answered by hashing only the probe
    docs and reading only the index buckets their band hashes co-locate
    in (prefix bucketing makes the prune exact). Probes = the %7==0
    docs; oracle = the full band join restricted to them (self-matches
    included by contract)."""
    from jitsu_spark.dedup.lsh_index import (
        create_lsh_index,
        probe_lsh_index,
        sync_lsh_index,
    )
    from jitsu_spark.lake import LakeTable
    from jitsu_spark.lake.merge import merge_batch

    d = _read(spark, sf_dir, "documents").select("doc_id", "text")
    up = LakeTable.create(
        spark,
        _scratch("lshpr_up"),
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("text", T.StringType()),
            ]
        ),
        "doc_id",
        n_buckets=16,
        properties={"write.mode": "mor"},
    )
    index = create_lsh_index(
        spark, _scratch("lshpr_view"), k=8, bands=4, shingle_n=3,
        n_buckets=16,
    )
    merge_batch(
        up,
        d.select(
            "doc_id", "text",
            F.lit(1).cast("long").alias("seq"), F.lit("u").alias("op"),
        ),
        batch_id=0,
        job_id="lshpr",
    )
    sync_lsh_index(up, index)
    probes = d.filter(F.col("doc_id") % 7 == 0)
    return probe_lsh_index(index, probes, "doc_id", "text")


def q_chunks_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunk table maintained INCREMENTALLY from changes()
    (text/chunk_ivm.py over sync_derived_rows: the pre-image's chunk rows
    retract, the post-image's assert, bucket-pruned O(change); chunks of
    one doc co-locate via doc_id-prefix bucketing; window/stride persist
    as table properties). After the 3-batch CDC history the table must
    equal the batch chunk_documents over the final corpus — SAME oracle
    as chunk_documents."""
    from jitsu_spark.lake import LakeTable
    from jitsu_spark.lake.merge import merge_batch
    from jitsu_spark.text.chunk_ivm import create_chunk_table, sync_chunks

    d = _read(spark, sf_dir, "documents").select("doc_id", "text")
    up = LakeTable.create(
        spark,
        _scratch("chivm_up"),
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("text", T.StringType()),
            ]
        ),
        "doc_id",
        n_buckets=16,
        properties={"write.mode": "mor"},
    )
    chunks = create_chunk_table(
        spark, _scratch("chivm_view"), window=64, stride=48, n_buckets=16,
    )
    for i, b in enumerate(_doc_cdc_batches(d)):
        merge_batch(up, b, batch_id=i, job_id="chivm")
        sync_chunks(up, chunks)
    return chunks.read().select("doc_id", "chunk_no", "n_tokens", "chunk_text")


def q_doc_features_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition-feature MIRROR maintained INCREMENTALLY
    from changes() (text/repetition.sync_repetition_features over
    sync_derived_rows — the 1->1 per-doc shape: pre-image row retracts,
    post-image row asserts, deleted docs vanish). After the 3-batch CDC
    history the mirror equals the batch repetition_signals over the final
    corpus — SAME oracle as repetition_signals."""
    from jitsu_spark.lake import LakeTable
    from jitsu_spark.lake.merge import merge_batch
    from jitsu_spark.text.repetition import (
        create_features_table,
        sync_repetition_features,
    )

    d = _read(spark, sf_dir, "documents").select("doc_id", "text")
    up = LakeTable.create(
        spark,
        _scratch("feat_up"),
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("text", T.StringType()),
            ]
        ),
        "doc_id",
        n_buckets=16,
        properties={"write.mode": "mor"},
    )
    feats = create_features_table(spark, _scratch("feat_view"), n_buckets=16)
    for i, b in enumerate(_doc_cdc_batches(d)):
        merge_batch(up, b, batch_id=i, job_id="feat")
        sync_repetition_features(up, feats)
    return feats.read()


def q_term_stats_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term statistics (df, tf, N -> smoothed idf) maintained
    INCREMENTALLY from changes() (text/term_stats.py over the generalized
    sync_aggregate row_transform): the documents table replays as the
    3-batch CDC history and the stats tables sync after every merge —
    post-minus-pre signed aggregation of just the changed docs' token
    rows, bucket-pruned on both ends, O(change) not O(corpus). Final
    stats must equal a full recompute over the documents table."""
    from jitsu_spark.lake import LakeTable
    from jitsu_spark.lake.merge import merge_batch
    from jitsu_spark.text.term_stats import (
        create_corpus_stats,
        idf_frame,
        sync_corpus_stats,
    )

    d = _read(spark, sf_dir, "documents").select("doc_id", "text")
    up = LakeTable.create(
        spark,
        _scratch("tstats_up"),
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("text", T.StringType()),
            ]
        ),
        "doc_id",
        n_buckets=16,
        properties={"write.mode": "mor"},
    )
    tables = create_corpus_stats(
        spark, _scratch("tstats_view"), n_buckets=16, with_bigrams=False
    )
    for i, b in enumerate(_doc_cdc_batches(d)):
        merge_batch(up, b, batch_id=i, job_id="tstats")
        sync_corpus_stats(up, tables)
    return idf_frame(tables["stats"], tables["meta"])


def q_lm_counts_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM count table maintained INCREMENTALLY from changes() —
    the trainable-model analogue of term_stats_ivm: the corpus LM's
    count state stays continuously fresh as documents are inserted,
    corrected, and deleted, with per-sync work proportional to the
    change. Final counts must equal counts trained from scratch on the
    final corpus (bigram_model_from_stats reconstructs the scoring
    model losslessly — asserted in tests)."""
    from jitsu_spark.lake import LakeTable
    from jitsu_spark.lake.merge import merge_batch
    from jitsu_spark.text.term_stats import (
        create_corpus_stats,
        sync_corpus_stats,
    )

    d = _read(spark, sf_dir, "documents").select("doc_id", "text")
    up = LakeTable.create(
        spark,
        _scratch("lmc_up"),
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("text", T.StringType()),
            ]
        ),
        "doc_id",
        n_buckets=16,
        properties={"write.mode": "mor"},
    )
    tables = create_corpus_stats(spark, _scratch("lmc_view"), n_buckets=16)
    for i, b in enumerate(_doc_cdc_batches(d)):
        merge_batch(up, b, batch_id=i, job_id="lmc")
        sync_corpus_stats(up, tables)
    return tables["bigrams"].read().select("bigram", "c")


def q_quality_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus head selection: top 100 documents by the deterministic
    quality order (TakeOrderedAndProject — no global sort)."""
    from jitsu_spark.text.corpus import select_top_k

    d = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return select_top_k(d, 100)


def q_vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-vocab build (V=256, count-desc/token-asc ids) + corpus
    encoding: per doc the token count, OOV count, and the first 32 ids as
    a CSV string (ARRAY results are gate-unsafe — the r1/r2 lesson)."""
    from jitsu_spark.text.vocab import build_vocab, encode_documents

    d = _spread_big(spark, sf_dir, "documents", _read(spark, sf_dir, "documents").select("doc_id", "text"))
    vocab = build_vocab(d, 256)
    enc = encode_documents(d, vocab)
    return enc.select(
        "doc_id",
        "n_tokens",
        "n_oov",
        F.array_join(
            F.transform(
                F.slice(F.col("token_ids"), 1, 32),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("ids_csv"),
    )


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style bigram-LM scoring: train an add-one-smoothed bigram
    model on the corpus itself, then score every document by its total
    negative log-likelihood. The only float step is the per-bigram
    round(-ln(p)*1e8) -> BIGINT; all aggregation is exact integers.
    (r7 note: a multiplicity-weighted train+score restructure was
    measured TWICE and reverted both times — before the input spread it
    won 2x at 10x but lost ~0.7 s at sf0.1; after the spread the
    standard shape matches it at 10x too, so the restructure carries
    only complexity. See OPTIMIZATION_r07.md.)"""
    from jitsu_spark.text.lm import bigram_model, score_documents

    d = _spread_big(spark, sf_dir, "documents", _read(spark, sf_dir, "documents").select("doc_id", "text"))
    return score_documents(d, bigram_model(d)).select(
        "doc_id", "n_bigrams", "sum_nll_e8"
    )


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (window=64, stride=48, tail-realigned):
    zero-shuffle sequence/explode/slice projection."""
    from jitsu_spark.text.chunk import chunk_documents

    d = _spread_big(spark, sf_dir, "documents", _read(spark, sf_dir, "documents").select("doc_id", "text"))
    return chunk_documents(d, 64, 48)


def q_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF keywords per document (smoothed idf, integer e6
    scores, term-ascending tiebreak)."""
    from jitsu_spark.text.tfidf import tfidf_top_terms

    d = _spread_big(spark, sf_dir, "documents", _read(spark, sf_dir, "documents").select("doc_id", "text"))
    return tfidf_top_terms(d, 5)


def q_corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test split (md5 uniform, seed 11)."""
    from jitsu_spark.text.split import split_corpus

    d = _read(spark, sf_dir, "documents").select("doc_id", "source")
    return split_corpus(d, {"train": 0.9, "val": 0.05, "test": 0.05}, seed=11)


def q_shard_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 8-way dataloader sharding: md5-uniform shard
    assignment + an independent md5 draw ordering each shard."""
    from jitsu_spark.text.shard import shard_corpus

    d = _read(spark, sf_dir, "documents").select("doc_id")
    return shard_corpus(d, 8, seed=5)


def q_cluster_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced curation: assign every embedding to its nearest
    deterministic hash-sampled centroid (64 centroids — count independent
    of corpus size), cap each semantic cluster at 10 members via a salted
    md5 rank (SemDeDup-style rebalancing). Assignment runs through the
    similarity family's Arrow/numpy matmul kernel (6dp argmax)."""
    from jitsu_spark.similarity.curation import cluster_balanced_sample

    e = _spread_big(spark, sf_dir, "embeddings", _read(spark, sf_dir, "embeddings").select("vec_id", "embedding"))
    return cluster_balanced_sample(e, "vec_id", cap=10, n_centroids=64, seed=4)


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-sequence packing: md5-derived tokens from documents packed
    into 128-token training sequences; per-pack position-weighted
    checksum proves exact content AND order of every pack."""
    from jitsu_spark.text.packing import pack_tokens

    d = _spread_big(spark, sf_dir, "documents", _read(spark, sf_dir, "documents")).select(
        "doc_id",
        F.transform(
            F.split(F.col("text"), " "),
            lambda w: F.conv(F.substring(F.md5(w), 1, 4), 16, 10).cast("int"),
        ).alias("tokens"),
    )
    packed = pack_tokens(d, max_len=128)
    weighted = F.zip_with(
        F.col("tokens"),
        F.sequence(F.lit(1), F.size("tokens")),
        lambda t, i: t.cast("long") * i.cast("long"),
    )
    return packed.select(
        "pack_id",
        F.col("n_tok").cast("long").alias("n_tok"),
        F.aggregate(weighted, F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "checksum"
        ),
    )


def q_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jitsu_spark.dedup import minhash_signature

    d = _spread(spark, _read(spark, sf_dir, "documents").select("doc_id", "text"))
    return minhash_signature(d, "text", k=4).select(
        "doc_id", "mh0", "mh1", "mh2", "mh3"
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jitsu_spark.dedup import simhash

    d = _spread_big(spark, sf_dir, "documents", _read(spark, sf_dir, "documents").select("doc_id", "text"))
    return simhash(d, "doc_id", "text")


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: high-byte blocking join + exact Hamming
    filter — the deterministic composition is recomputed wholesale by the
    oracle (fingerprints, blocking, xor popcount), so the gate covers the
    pair surface, not just the fingerprints."""
    from jitsu_spark.dedup.simhash import simhash_near_pairs

    d = _spread_big(spark, sf_dir, "documents", _read(spark, sf_dir, "documents").select("doc_id", "text"))
    return simhash_near_pairs(d, "doc_id", "text", max_hamming=4).select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: the corpus x query similarity block runs
    through the similarity family's Arrow/numpy matmul kernel (4dp)."""
    from jitsu_spark.similarity import cosine_topk

    emb = _spread(spark, _read(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 8)
    return cosine_topk(queries, emb, "vec_id", "vec_id", "embedding", k=5)


def q_ga_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W10 analog: GA Measurement-Protocol payload templating (sorted
    url-encoded pairs, event-type alias table, tid/v stamps)."""
    from jitsu_spark.operators.conversion import ga_payload

    e = _read(spark, sf_dir, "events").select(
        F.col("event_id").cast("string").alias("cid"),
        F.col("event_type").alias("t"),
        F.col("value").cast("string").alias("ev"),
    )
    out = ga_payload(e, tracking_id="UA-1", fields=["cid", "t", "ev"])
    return out.select("cid", "ga_payload")


def q_fb_user_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W10 analog: Facebook Conversions customer-information hashing —
    sha256 the user-data fields; email hashed only when not pre-hashed
    (still contains '@')."""
    from jitsu_spark.operators.conversion import fb_hash_user_data

    e = _read(spark, sf_dir, "events").select(
        F.col("event_id"),
        F.col("user_id").cast("string").alias("ud_ph"),
        F.lit("US").alias("ud_country"),
        # half the emails arrive pre-hashed (no '@') — must pass through
        F.when(
            F.col("event_id") % 2 == 0,
            F.concat(F.lit("user"), F.col("user_id"), F.lit("@example.com")),
        )
        .otherwise(F.md5(F.col("user_id").cast("string")))
        .alias("em"),
    )
    out = fb_hash_user_data(e, prefix="ud_", email_col="em")
    return out.select("event_id", "ud_ph", "ud_country", "em")


def q_conversion_send(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W10 send path end-to-end: GA payloads -> deterministic md5 batch
    assignment -> NDJSON spool -> executor-side fan-out send through a
    transport that permanently fails batches with batch_no % 5 == 2 ->
    durable ack ledger. The gate checks the LEDGER (batch assignment,
    per-batch event counts, sent/failed statuses, retry attempts), which
    is the whole orchestration surface; the oracle recomputes assignment
    and the poison rule in SQL."""
    from jitsu_spark.operators.conversion import ga_payload
    from jitsu_spark.operators.sender import ConversionSendJob

    e = _read(spark, sf_dir, "events").select(
        F.col("event_id").cast("string").alias("cid"),
        F.col("event_type").alias("t"),
        F.col("value").cast("string").alias("ev"),
    )
    payloads = ga_payload(e, tracking_id="UA-1", fields=["cid", "t", "ev"]).select(
        F.col("cid").alias("event_id"), F.col("ga_payload").alias("payload")
    )

    def transport(batch_no: int, batch_payloads: list[str]) -> None:
        if batch_no % 5 == 2:
            raise RuntimeError("poisoned")

    job = ConversionSendJob(
        _scratch("conv_send"), transport, n_batches=16, max_retries=3
    )
    job.spool(payloads)
    job.send(spark)
    return job.ack_frame(spark).select(
        "batch_no", "status", F.col("attempts").cast("int").alias("attempts"),
        "n_events",
    )


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: deterministic hash-sampled coarse quantizer (64 centroids
    — count independent of corpus size), n_probe cells, exact re-rank
    (the second scale path next to LSH)."""
    from jitsu_spark.similarity import ivf_topk

    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return ivf_topk(
        queries, emb, "vec_id", "vec_id", "embedding",
        k=5, n_centroids=64, n_probe=3,
    )


def _vec_cdc_batches(e: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The embedding-modality analog of ``_doc_cdc_batches``: a 3-batch
    CDC history over the embeddings table whose final upstream state ==
    the original table, so incremental-index oracles are plain full
    recomputes. b0 inserts vec_id%3==0; b1 inserts %3==1, CORRUPTS
    %3==2 (negated vectors — different cell, same norm) and inserts
    bogus vectors; b2 restores %3==2 and deletes the bogus set. Bogus
    ids shift by 10^10 — past any inflated-corpus replica id space
    (the id-collision lesson from the documents harness applies
    verbatim)."""
    m3 = F.col("vec_id") % 3
    bogus = (m3 == 0) & (F.col("vec_id") < 60)
    seq_op = lambda s: [F.lit(s).cast("long").alias("seq"), F.lit("u").alias("op")]  # noqa: E731
    b0 = e.filter(m3 == 0).select("vec_id", "embedding", *seq_op(1))
    b1 = (
        e.filter(m3 == 1).select("vec_id", "embedding", *seq_op(2))
        .unionByName(
            e.filter(m3 == 2).select(
                "vec_id",
                F.transform("embedding", lambda x: (-x).cast("float"))
                .alias("embedding"),
                *seq_op(2),
            )
        )
        .unionByName(
            e.filter(bogus).select(
                (F.col("vec_id") + 10_000_000_000).alias("vec_id"),
                "embedding",
                *seq_op(2),
            )
        )
    )
    b2 = (
        e.filter(m3 == 2).select("vec_id", "embedding", *seq_op(3))
        .unionByName(
            e.filter(bogus).select(
                (F.col("vec_id") + 10_000_000_000).alias("vec_id"),
                F.lit(None).cast("array<float>").alias("embedding"),
                F.lit(3).cast("long").alias("seq"),
                F.lit("d").alias("op"),
            )
        )
    )
    return b0, b1, b2


def _ivf_index_after_cdc(spark: SparkSession, sf_dir: str, tag: str):
    """Shared setup for the IVF-IVM gate queries: an embeddings CDC
    upstream replayed through 3 batches with the index synced after
    each; centroids frozen at create from the ORIGINAL table under the
    same hash rule the SQL oracles use (md5('cent#'||id) LIMIT 64)."""
    from jitsu_spark.lake import LakeTable
    from jitsu_spark.lake.merge import merge_batch
    from jitsu_spark.similarity.ann import sampled_centroids
    from jitsu_spark.similarity.ivf_index import (
        create_ivf_index,
        sync_ivf_index,
    )

    e = _read(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    up = LakeTable.create(
        spark,
        _scratch(f"{tag}_up"),
        T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField("embedding", T.ArrayType(T.FloatType())),
            ]
        ),
        "vec_id",
        n_buckets=16,
        properties={"write.mode": "mor"},
    )
    index = create_ivf_index(
        spark,
        _scratch(f"{tag}_view"),
        sampled_centroids(e, "vec_id", "embedding", 64),
        n_buckets=16,
    )
    for i, b in enumerate(_vec_cdc_batches(e)):
        merge_batch(up, b, batch_id=i, job_id=tag)
        sync_ivf_index(up, index)
    return e, index


def q_ivf_index_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN index maintained INCREMENTALLY from changes()
    (similarity/ivf_index.py over sync_derived_rows: the pre-image's
    cell row retracts, the post-image's asserts, bucket-pruned
    O(change) per sync; cells co-locate via prefix bucketing so probes
    prune to their own cells' buckets). After the 3-batch CDC history
    the index's full membership must equal the batch cell assignment
    over the final corpus."""
    from jitsu_spark.similarity.ivf_index import index_assignments

    _, index = _ivf_index_after_cdc(spark, sf_dir, "ivfix")
    return index_assignments(index)


def q_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maintained index's PROBE path — score only the query batch
    against the frozen centroids, read only the n_probe nearest cells'
    buckets, exact re-rank. Must answer the batch ``ivf_topk`` oracle
    exactly (same centroids, same corpus final state)."""
    from jitsu_spark.similarity.ivf_index import probe_ivf_index

    e, index = _ivf_index_after_cdc(spark, sf_dir, "ivfpr")
    queries = e.filter(F.col("vec_id") < 8)
    return probe_ivf_index(index, queries, "vec_id", k=5, n_probe=3)


def q_cluster_balanced_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced curation OVER THE MAINTAINED INDEX: the per-cell
    cap runs against the incrementally-maintained IVF inverted file's
    membership instead of a fresh full-corpus assignment pass — at
    100 TB, curation becomes a read of the standing index. Must answer
    the batch ``cluster_balanced`` oracle exactly (same frozen
    centroids, cap, and sampling salt; the CDC history restores the
    original embeddings table)."""
    from jitsu_spark.similarity.curation import cap_clusters
    from jitsu_spark.similarity.ivf_index import index_assignments

    _, index = _ivf_index_after_cdc(spark, sf_dir, "cbivm")
    assigned = index_assignments(index).select(
        "vec_id", F.col("cell").alias("cluster")
    )
    return cap_clusters(assigned, "vec_id", cap=10, seed=4)


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style aggregate; decimal sums for exact cross-engine math."""
    l = _spread_big(spark, sf_dir, "lineitem", _read(spark, sf_dir, "lineitem"),
                    min_bytes=32 << 20)
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).alias("_sq"),
            F.sum(dec("l_extendedprice")).alias("_sbp"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            # exact integer cents: DECIMAL is gate-unsafe on the result surface
            (F.col("_sq") * 100).cast("long").alias("sum_qty_c"),
            (F.col("_sbp") * 100).cast("long").alias("sum_base_price_c"),
            "count_order",
        )
    )


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join pipeline: orders->customer (shuffle) with broadcast nation dim."""
    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer")
    n = _read(spark, sf_dir, "nation")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("_rev"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select(
            "n_name",
            (F.col("_rev") * 100).cast("long").alias("revenue_c"),
            "n_orders",
        )
    )


def q_schema_widening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution engine probe: replay events-derived batches where
    `value` arrives as long in batch A and double in batch B; the engine
    must widen to double (INT64 ⊔ FLOAT64). Verifies the evolved schema and
    final values through the real LakeTable."""
    from jitsu_spark.lake import LakeTable
    from jitsu_spark.lake.merge import merge_batch

    log = _changelog(spark, sf_dir)
    hi = log.agg(F.max("seq")).collect()[0][0] or 0
    mid = hi // 2
    # contiguous seq ranges: batches must be seq-monotone (engine contract)
    a = log.filter(F.col("seq") <= mid).withColumn(
        "value", F.floor(F.col("value")).cast("long")
    )
    b = log.filter(F.col("seq") > mid)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.LongType()),
        ]
    )
    table = LakeTable.create(
        spark, _scratch("widen"), schema, "doc_id", n_buckets=8
    )
    merge_batch(table, a, batch_id=0, job_id="widen")
    merge_batch(table, b, batch_id=1, job_id="widen")
    assert table.schema()["value"].dataType.simpleString() == "double"
    return table.read().select("doc_id", "value")


def q_cdc_replay_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same replay as the flagship but in merge-on-read mode with a
    mid-stream delta compaction — must be state-identical (same oracle)."""
    from jitsu_spark.lake import LakeTable
    from jitsu_spark.lake.merge import merge_batch

    log = _changelog(spark, sf_dir)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    table = LakeTable.create(
        spark, _scratch("mor"), schema, "doc_id",
        n_buckets=16, properties={"write.mode": "mor"},
    )
    hi = log.agg(F.max("seq")).collect()[0][0] or 0
    per = hi // 5 + 1
    for i in range(5):
        part = log.filter(
            (F.col("seq") >= i * per) & (F.col("seq") < (i + 1) * per)
        )
        merge_batch(table, part, batch_id=i, job_id="mor-entry")
        if i == 2:
            table.compact(max_files_per_bucket=2)
    return table.read().select("doc_id", "ts", "value")


def q_mor_hot_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-aware MoR read: full replay folded to base via compaction,
    then a single-key update dirties exactly one bucket — the read must
    reconcile only that bucket and plain-scan the clean ones
    (plan-asserted in tests/test_plans.py)."""
    from jitsu_spark.lake import LakeTable
    from jitsu_spark.lake.merge import merge_batch

    log = _changelog(spark, sf_dir)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    table = LakeTable.create(
        spark, _scratch("hotbucket"), schema, "doc_id",
        n_buckets=16, properties={"write.mode": "mor"},
    )
    merge_batch(table, log, batch_id=0, job_id="hot-entry")
    table.compact(max_files_per_bucket=0)  # fold every delta to base
    hi = log.agg(F.max("seq")).collect()[0][0] or 0
    hot = spark.createDataFrame(
        [(hi + 1, "u", None, "7", 999.5)],
        T.StructType(
            [
                T.StructField("seq", T.LongType()),
                T.StructField("op", T.StringType()),
                T.StructField("ts", T.TimestampType()),
                T.StructField("doc_id", T.StringType()),
                T.StructField("value", T.DoubleType()),
            ]
        ),
    )
    merge_batch(table, hot, batch_id=1, job_id="hot-entry")
    return table.read().select("doc_id", "ts", "value")


def q_time_chunk_resync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: replay, then idempotently re-sync the first-half time chunk with
    corrected values (value doubled) via overwrite_where."""
    from jitsu_spark.lake import LakeTable
    from jitsu_spark.lake.maintenance import overwrite_where
    from jitsu_spark.lake.merge import merge_batch

    cutoff = "2024-01-15 00:00:00"
    log = _changelog(spark, sf_dir)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    table = LakeTable.create(
        spark, _scratch("resync"), schema, "doc_id", n_buckets=16
    )
    merge_batch(table, log, batch_id=0, job_id="resync-entry")
    pred = F.col("ts") < F.lit(cutoff).cast("timestamp")
    fresh = table.read().filter(pred).withColumn(
        "value", F.col("value") * 2
    )
    overwrite_where(table, fresh, pred, chunk_id="h1")
    return table.read().select("doc_id", "ts", "value")


def q_salted_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted two-phase aggregation (ST7) over the change log."""
    from jitsu_spark.operators import salted_agg

    log = _changelog(spark, sf_dir).withColumn(
        "value_dec", F.col("value").cast("decimal(18,2)")
    )
    out = salted_agg(
        log, ["op"], {"n": ("count", "*"), "sum_value": ("sum", "value_dec")},
        n_salts=8, salt_on=["seq"],
    )
    # integer cents on the result surface (DECIMAL is gate-unsafe)
    return out.select(
        "op", "n", (F.col("sum_value") * 100).cast("long").alias("sum_value_c")
    )


def q_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates (rows-only check: band composition
    is engine-internal; signature correctness is covered by
    minhash_signature's exact oracle)."""
    from jitsu_spark.dedup import lsh_candidate_pairs

    d = _spread(spark, _read(spark, sf_dir, "documents").select("doc_id", "text"))
    # word-trigram shingles: the synthetic corpus shares a tiny vocabulary,
    # so unigram shingles would collide almost everywhere
    return lsh_candidate_pairs(d, "doc_id", "text", k=8, bands=4, shingle_n=3)


def q_jaccard_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-trigram Jaccard VERIFICATION of the LSH candidate pairs
    (the verify stage of the near-dup pipeline, exposed directly): per
    candidate pair, the exact shingle-set intersection/union sizes.
    Integers only — jaccard itself is n_inter/n_union and is left implicit
    so no float crosses the gate surface."""
    from jitsu_spark.dedup.minhash import ngram_jaccard_pairs

    d = _spread(spark, _read(spark, sf_dir, "documents").select("doc_id", "text"))
    return ngram_jaccard_pairs(
        d, "doc_id", "text", shingle_n=3, k=8, bands=4
    ).select(
        "id_a",
        "id_b",
        F.col("n_inter").cast("long").alias("n_inter"),
        F.col("n_union").cast("long").alias("n_union"),
    )


def q_near_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full near-dup pipeline: LSH candidates -> exact Jaccard verify ->
    connected components (iterative min-label propagation) -> keeper per
    group. The oracle recomputes the components with a recursive CTE."""
    from jitsu_spark.dedup import near_dup_components

    d = _spread(spark, _read(spark, sf_dir, "documents").select("doc_id", "text"))
    return near_dup_components(
        d, "doc_id", "text", min_jaccard=0.5, k=8, bands=4, shingle_n=3
    )


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path (rows-only; recall vs exact is pytest-verified)."""
    from jitsu_spark.similarity import cosine_topk_lsh

    emb = _spread_big(spark, sf_dir, "embeddings", _read(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 8)
    return cosine_topk_lsh(
        queries, emb, "vec_id", "vec_id", "embedding", k=5, n_planes=8, n_probes=4,
    )


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via shared LSH buckets
    (md5-Rademacher planes, public construction): the oracle recomputes
    the planes, signatures, bucket join and cosine in SQL, so the WHOLE
    near-dup surface — not just a sample — is value-checked. The
    synthetic embeddings carry no true near-dups (max same-bucket cosine
    ~0.40), so the gate threshold sits at the top of the observed
    distribution — same plumbing, non-empty result."""
    from jitsu_spark.similarity import embedding_near_dups

    emb = _spread_big(spark, sf_dir, "embeddings", _read(spark, sf_dir, "embeddings"))
    return embedding_near_dups(
        emb, "vec_id", "embedding", threshold=0.3, n_planes=8, seed=42
    ).select("id_a", "id_b", "sim")


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing through mapInPandas. The decode stub is
    sha256-over-payload-hex, so the FULL pipeline (synthetic payload ->
    Arrow batches -> stub features) is oracle-exact: features are exposed
    as their raw uint16 values (f32 -> u16 roundtrip is exact)."""
    from jitsu_spark.multimodal import decode_features, synthetic_media_df

    media = synthetic_media_df(spark, 1000, seed=42)
    # Result surface: the u16 feature vector is emitted as a CSV string —
    # ARRAY columns are gate-unsafe (the driver's pandas canonicalizer cannot
    # hash lists; r2 hard error). The operator itself still returns arrays.
    return decode_features(media).select(
        "media_id",
        "kind",
        "n_bytes",
        F.concat_ws(
            ",",
            F.transform(
                F.col("features"),
                lambda x: F.round(x * 65535).cast("int").cast("string"),
            ),
        ).alias("features_u16_csv"),
    )


def q_transform_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User event-function stage (the reference's designed JS transform,
    design-docs/transformations.md): drop errors (1->0), fan signups into
    a shadow event under a derived deterministic id (1->2), pass the rest.
    Runs through the real mapInPandas transform_events operator; the
    oracle recomputes the fan-out as a UNION ALL."""
    from jitsu_spark.operators.transform import (
        split_dead_letter,
        transform_events,
    )

    # r7: spread the single-row-group scan — the per-row user function
    # runs in Python workers, and one input partition means ONE worker
    # processes every event (guide §4 / §2.5)
    e = _spread(spark, _read(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    ))

    def fn(ev):
        if ev["event_type"] == "error":
            return None
        if ev["event_type"] == "signup":
            shadow = dict(
                ev,
                event_id=ev["event_id"] + 500_000_000,
                event_type="signup_shadow",
            )
            return [ev, shadow]
        return ev

    good, _dead = split_dead_letter(transform_events(e, fn))
    return good


def q_token_multiplex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 token multiplexing: each event fans out to every destination of
    its api token via a broadcast (token, destination) dim join; unknown
    tokens drop (reference: server/handlers/event.go:92-108)."""
    from jitsu_spark.streaming.multiroute import multiplex_by_token

    e = _read(spark, sf_dir, "events").select(
        "event_id",
        F.concat(
            F.lit("tok"), (F.col("user_id") % 3).cast("string")
        ).alias("api_key"),
    )
    token_map = {"tok0": ["dest_a"], "tok1": ["dest_a", "dest_b"]}
    out = multiplex_by_token(e, token_map)
    return out.select("event_id", F.col("_table").alias("dest"))


def q_near_dup_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same near-dup pipeline as near_dup_components but clustered with the
    alternating large-star/small-star algorithm — must agree with the same
    recursive-CTE oracle (algorithm equivalence under the driver gate)."""
    from jitsu_spark.dedup import near_dup_components

    d = _spread(spark, _read(spark, sf_dir, "documents").select("doc_id", "text"))
    return near_dup_components(
        d, "doc_id", "text", min_jaccard=0.5, k=8, bands=4, shingle_n=3,
        algorithm="star",
    )


def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance through the REAL engine: the change
    log replays into a MoR upstream table in 3 seq-ordered batches, and
    after every merge the downstream per-group aggregate syncs from
    changes() (post-image minus pre-image of changed keys — never a full
    recompute). The oracle recomputes the aggregate from the final LWW
    state; integer cents keep the sums representation-stable."""
    from jitsu_spark.lake import LakeTable, sync_aggregate
    from jitsu_spark.lake.merge import merge_batch

    log = _changelog(spark, sf_dir).select(
        "seq", "op", "doc_id",
        F.concat(
            F.lit("g"), (F.col("doc_id").cast("long") % 7).cast("string")
        ).alias("grp"),
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("v_c"),
    )
    up_schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("grp", T.StringType()),
            T.StructField("v_c", T.LongType()),
        ]
    )
    agg_schema = T.StructType(
        [
            T.StructField("grp", T.StringType()),
            T.StructField("n_rows", T.LongType()),
            T.StructField("v_c", T.LongType()),
        ]
    )
    up = LakeTable.create(
        spark, _scratch("ivm_up"), up_schema, "doc_id", n_buckets=16,
        properties={"write.mode": "mor"},
    )
    agg = LakeTable.create(
        spark, _scratch("ivm_agg"), agg_schema, "grp", n_buckets=4
    )
    hi = log.agg(F.max("seq")).collect()[0][0] or 0
    n_batches = 3
    per = hi // n_batches + 1
    for i in range(n_batches):
        part = log.filter(
            (F.col("seq") >= i * per) & (F.col("seq") < (i + 1) * per)
        )
        merge_batch(up, part, batch_id=i, job_id="ivm")
        sync_aggregate(up, agg, "grp", sum_cols=["v_c"], job_id="ivm-agg")
    return agg.read().select("grp", "n_rows", "v_c")


def q_cdc_replay_rebucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-count evolution under the gate: replay half the log, grow
    the bucket count 4x mid-stream (shuffle-free modulo-doubling rewrite),
    replay the rest — the final state must be invariant under the resize,
    so the oracle is the plain LWW final-state SQL."""
    from jitsu_spark.lake import LakeTable
    from jitsu_spark.lake.merge import merge_batch

    log = _changelog(spark, sf_dir)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    table = LakeTable.create(
        spark, _scratch("rebucket"), schema, "doc_id", n_buckets=4,
        properties={"write.mode": "mor"},
    )
    hi = log.agg(F.max("seq")).collect()[0][0] or 0
    mid = hi // 2
    merge_batch(table, log.filter(F.col("seq") <= mid), batch_id=0,
                job_id="rb")
    table.rebucket(factor=4)
    merge_batch(table, log.filter(F.col("seq") > mid), batch_id=1,
                job_id="rb")
    return table.read().select("doc_id", "ts", "value")


def q_lsh_bucket_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The degenerate-bucket guard's exact inventory: band-bucket count,
    max bucket size, and what a max_bucket_size=8 cap would skip — all
    recomputable in pure SQL from the md5 band scheme."""
    from jitsu_spark.dedup.minhash import lsh_bucket_stats

    d = _read(spark, sf_dir, "documents").select("doc_id", "text")
    stats = lsh_bucket_stats(
        d, "doc_id", "text", k=8, bands=4, shingle_n=3, max_bucket_size=8
    )
    return spark.createDataFrame(
        [stats],
        "n_buckets long, max_bucket long, skipped_buckets long, "
        "rows_in_skipped_buckets long",
    )


def q_interval_source_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 end-to-end with a CONCRETE driver: a GA-shaped report source
    (day intervals, trailing-lag signatures, dims x metrics reports) is
    pull-synced twice into a lake table through the interval-sync
    machinery (signature-gated, stats-pruned atomic overwrites).

    Events become visible to the "API" only at ``arrival`` (event time
    plus a deterministic md5-derived delay of up to 72h). Run 1 syncs at
    now=2024-01-20; run 2 at now=2024-01-31. Days up to 01-18 freeze at
    run 1 (UPTODATE at run 2 — late arrivals permanently missed, the
    reference's lag trade-off); 01-19/01-20 REFRESH; later days are NEW.
    The final table state is therefore exactly SQL-expressible: per day,
    events with arrival before that day's last-sync clock."""
    from jitsu_spark.lake import LakeTable
    from jitsu_spark.sources.ga_driver import GaShapedReportDriver
    from jitsu_spark.sources.interval_sync import IntervalSyncJob

    now1, now2 = "2024-01-20 00:00:00", "2024-01-31 00:00:00"
    md5id = F.md5(F.col("event_id").cast("string"))
    delay_h = (
        F.ascii(F.substring(md5id, 1, 1)) * 7 + F.ascii(F.substring(md5id, 2, 1))
    ) % 72
    src_dir = _scratch("ga_src")
    (
        _read(spark, sf_dir, "events")
        .withColumn("_delay_h", delay_h)
        .withColumn("arrival", F.expr("timestampadd(HOUR, _delay_h, ts)"))
        .drop("_delay_h")
        .write.parquet(src_dir)
    )
    schema = T.StructType(
        [
            T.StructField("report_id", T.StringType()),
            T.StructField("report_date", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("sessions", T.LongType()),
            T.StructField("revenue", T.DecimalType(28, 2)),
            T.StructField("_time_chunk", T.StringType()),
            T.StructField("_interval_start", T.TimestampType()),
            T.StructField("_interval_end", T.TimestampType()),
        ]
    )
    root = _scratch("ga_tbl")
    table = LakeTable.create(
        spark, root, schema, "report_id", n_buckets=4,
        properties={"write.stats.column": "report_date"},
    )
    drv = GaShapedReportDriver(
        source_path=src_dir,
        ts_col="ts",
        arrival_col="arrival",
        dimensions=["event_type"],
        metrics={"sessions": ("count", "*"), "revenue": ("sum_money", "value")},
        now=now1,
        days_back=20,
        # paginated report reads (reference google_analytics.go:124 page
        # loop): each day's report arrives as several frames, unioned
        # into the same single chunk commit — the gate proves pagination
        # is invisible to the final state
        page_size=2,
    )
    job = IntervalSyncJob(
        table, drv, ts_col="report_date",
        state_path=os.path.join(os.path.dirname(root), "state.json"),
        job_id="ga-sync",
    )
    job.run_once(spark)
    drv.now, drv.days_back = now2, 31  # next scheduled run, 11 days later
    job.run_once(spark)
    return table.read().select(
        "report_date",
        "event_type",
        "_time_chunk",
        "sessions",
        (F.col("revenue") * 100).cast("long").alias("revenue_cents"),
    )


def q_mirror_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W12 CDC-out through the REAL engine: the change log replays into a
    MoR upstream table in 3 seq-ordered batches; after every merge a
    DOWNSTREAM mirror pulls changes() (delta-aware, O(changes) not
    O(table)) and merges them with commit-version sequencing. A correct
    incremental mirror is indistinguishable from the upstream final
    state, so the oracle is the plain final-LWW-state SQL."""
    from jitsu_spark.lake import LakeTable, sync_mirror
    from jitsu_spark.lake.merge import merge_batch

    log = _changelog(spark, sf_dir)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    up = LakeTable.create(
        spark, _scratch("mir_up"), schema, "doc_id", n_buckets=16,
        properties={"write.mode": "mor"},
    )
    dst = LakeTable.create(
        spark, _scratch("mir_dst"), schema, "doc_id", n_buckets=8
    )
    hi = log.agg(F.max("seq")).collect()[0][0] or 0
    per = hi // 3 + 1
    for i in range(3):
        part = log.filter(
            (F.col("seq") >= i * per) & (F.col("seq") < (i + 1) * per)
        )
        merge_batch(up, part, batch_id=i, job_id="mir")
        sync_mirror(up, dst, job_id="mir-out")
    return dst.read().select("doc_id", "ts", "value")


def q_bootstrap_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC initial load: a consistent snapshot at the log midpoint is
    bulk-appended (no LWW, O(snapshot) write-only), then the tail of the
    log (seq > watermark) merges normally. Final state must equal a
    from-scratch replay — the plain final-LWW-state oracle."""
    from jitsu_spark.lake import LakeTable
    from jitsu_spark.lake.merge import merge_batch
    from jitsu_spark.streaming import bootstrap_snapshot, tail_filter

    log = _changelog(spark, sf_dir)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    table = LakeTable.create(
        spark, _scratch("boot"), schema, "doc_id", n_buckets=16
    )
    hi = log.agg(F.max("seq")).collect()[0][0] or 0
    wm = hi // 2
    winner = F.max_by(
        F.struct("ts", "value", F.col("op").alias("_op")), F.col("seq")
    ).alias("_w")
    snapshot = (
        log.filter(F.col("seq") <= wm)
        .groupBy("doc_id")
        .agg(winner)
        .select("doc_id", "_w.*")
        .filter(F.col("_op") != "d")
        .drop("_op")
    )
    bootstrap_snapshot(table, snapshot, wm, job_id="boot-entry")
    merge_batch(
        table, tail_filter(wm)(log), batch_id="tail", job_id="boot-entry"
    )
    return table.read().select("doc_id", "ts", "value")


def q_conditional_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P13: full intake enrichment with the CONDITIONAL src stamp —
    api-tagged events keep their src, everything else is overwritten with
    the intake's src; api_key stamped; _timestamp pinned to event time
    for deterministic replay."""
    from jitsu_spark.operators.enrich import with_context_enrichment

    e = _read(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "ts",
        F.when(F.col("event_type") == "error", F.lit("api"))
        .otherwise(F.lit("js"))
        .alias("src"),
    )
    out = with_context_enrichment(
        e, api_key="key_1", src="s2s", event_time=F.col("ts")
    )
    return out.select(
        "event_id", "event_type", "src", "api_key", "_timestamp"
    )


def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: events written out as messy-headered CSV (spaces, parens,
    JSON-quoted props, stringified timestamps), read back through the
    typed CSV reader (header normalization + explicit casts). The oracle
    reads the same rows straight from parquet — a lossless CSV
    encode/decode is exactly what the reference's CSV intake promises."""
    from jitsu_spark.sources import read_csv_typed

    csv_dir = _scratch("csv_src")
    (
        _read(spark, sf_dir, "events")
        .select(
            F.col("event_id").alias("Event ID"),
            F.col("event_type").alias("Event Type"),
            F.col("user_id").alias("User ID"),
            F.col("value").alias("Value (USD)"),
            F.col("props").alias("Props"),
            F.col("ts").cast("string").alias("When TS"),
        )
        .coalesce(4)
        .write.option("header", "true")
        .csv(csv_dir)
    )
    return read_csv_typed(
        spark, csv_dir,
        {
            "event_id": "long",
            "user_id": "long",
            "value__usd_": "double",
            "when_ts": "timestamp",
        },
    )


def q_fallback_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/W11: events wrapped in dead-letter envelopes
    ``{"event": ..., "error": ...}`` (the fallback file format) and
    replayed back into typed rows via the envelope parser."""
    from jitsu_spark.sources import parse_fallback_envelope

    payload = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    enveloped = _read(spark, sf_dir, "events").select(
        F.to_json(
            F.struct(
                F.struct("event_id", "event_type", "value").alias("event"),
                F.lit("destination unavailable").alias("error"),
            )
        ).alias("raw")
    )
    return parse_fallback_envelope(enveloped, payload)


def q_recognition_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST8/J2 retrospective user recognition through the REAL reconciler:
    every event arrives with an anon id; only signup events carry the
    real user id. Replayed in 3 seq-ordered batches, anonymous events are
    recognized in-batch when the identity is already known, parked when
    not, and reconciled (backfilled into the destination with their
    ORIGINAL seq) when the signup lands in a later batch. Never-signed-up
    anons stay parked — absent from the destination. The oracle is the
    order-free fixpoint: events of any anon group that has a signup,
    user id filled."""
    from jitsu_spark.lake import LakeTable
    from jitsu_spark.streaming.recognition import UserRecognition

    e = _read(spark, sf_dir, "events")
    env = e.select(
        F.col("event_id").alias("seq"),
        F.lit("i").alias("op"),
        F.concat(F.lit("e"), F.col("event_id").cast("string")).alias("event_id"),
        F.concat(F.lit("a"), F.col("user_id").cast("string")).alias("anon_id"),
        F.when(
            F.col("event_type") == "signup",
            F.concat(F.lit("u"), F.col("user_id").cast("string")),
        ).alias("user_id"),
        "ts",
        "value",
    )
    dest_schema = T.StructType(
        [
            T.StructField("event_id", T.StringType()),
            T.StructField("anon_id", T.StringType()),
            T.StructField("user_id", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    root = _scratch("recog")
    # MoR everywhere (r5): destination AND the reconciler's state tables
    # take O(batch) delta writes — the steady-state mode for a hot
    # recognition loop; readers reconcile only delta-bearing buckets, so
    # the returned fixpoint must be identical to the CoW run
    dest = LakeTable.create(
        spark, os.path.join(root, "dest"), dest_schema, "event_id",
        n_buckets=16, properties={"write.mode": "mor"},
    )
    rec = UserRecognition(
        spark, root, dest, table_properties={"write.mode": "mor"}
    )
    hi = env.agg(F.max("seq")).collect()[0][0] or 0
    per = hi // 3 + 1
    for i in range(3):
        part = env.filter(
            (F.col("seq") >= i * per) & (F.col("seq") < (i + 1) * per)
        )
        rec.apply_batch(part, batch_id=i)
    return dest.read().select("event_id", "anon_id", "user_id", "ts", "value")


def q_snapshot_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Firebase/Redis-shaped full-snapshot source: ONE ALL-granularity
    interval re-evaluated per run, whole-table atomic replace, collection
    id stamped per row. Run twice — the second run re-reads (REFRESH per
    the reference's IsAll rule) but its unchanged content signature is
    deduped by the commit manifest. Final table == the collection."""
    from jitsu_spark.lake import LakeTable
    from jitsu_spark.sources.interval_sync import IntervalSyncJob
    from jitsu_spark.sources.snapshot_driver import SnapshotCollectionDriver

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
            T.StructField("_collection_id", T.StringType()),
        ]
    )
    root = _scratch("snap_tbl")
    table = LakeTable.create(
        spark, root, schema, "_collection_id", n_buckets=8
    )
    drv = SnapshotCollectionDriver(
        source_path=os.path.join(sf_dir, "documents.parquet"),
        id_col="doc_id",
        version="v1",
    )
    job = IntervalSyncJob(
        table, drv, "_collection_id",
        state_path=os.path.join(os.path.dirname(root), "state.json"),
        job_id="fb-snap",
    )
    job.run_once(spark)
    job.run_once(spark)  # IsAll re-read; manifest dedupes the rewrite
    # (the driver faithfully returns the whole collection incl. `text`,
    # which lands via add-only schema evolution; the surface projects the
    # typed columns)
    return table.read().select(
        "doc_id", "lang", "source", "n_chars", "_collection_id"
    )


def q_stats_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistics read API (A5 / the reference's counter re-aggregation):
    replay the change log in 5 batches, then query the engine's OWN
    commit counters back out of lineage_frame — per batch: seq range,
    raw rows, delete envelopes. The oracle recomputes the same counters
    directly from the events table, so the engine's bookkeeping is
    checked against the data it claims to have processed."""
    from jitsu_spark.lake import LakeTable
    from jitsu_spark.lake.merge import merge_batch
    from jitsu_spark.streaming.metrics import lineage_frame

    log = _changelog(spark, sf_dir)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    table = LakeTable.create(
        spark, _scratch("statsroll"), schema, "doc_id", n_buckets=16
    )
    hi = log.agg(F.max("seq")).collect()[0][0] or 0
    per = hi // 5 + 1
    for i in range(5):
        part = log.filter(
            (F.col("seq") >= i * per) & (F.col("seq") < (i + 1) * per)
        )
        merge_batch(table, part, batch_id=i, job_id="stats-entry")
    return (
        lineage_frame(spark, table)
        .filter(F.col("kind") == "merge")
        .select("batch_id", "seq_min", "seq_max", "n_keys", "n_deletes")
    )


_ENTRY_TAP = r'''
import argparse, json
p = argparse.ArgumentParser()
p.add_argument("-c", "--config", default=None)
p.add_argument("--state", default=None)
a = p.parse_args()
start = 0
if a.state:
    with open(a.state) as f:
        start = json.load(f).get("bookmark", 0)
print(json.dumps({
    "type": "SCHEMA", "stream": "accounts",
    "schema": {"properties": {"id": {"type": "integer"},
                              "name": {"type": "string"},
                              "balance": {"type": "number"}}},
    "key_properties": ["id"],
}))
for chunk in range(start, 8):
    for i in range(5):
        rid = chunk * 5 + i
        print(json.dumps({"type": "RECORD", "stream": "accounts",
                          "record": {"id": rid % 17, "name": "n%d" % rid,
                                     "balance": float(rid)}}))
    print(json.dumps({"type": "STATE", "value": {"bookmark": chunk + 1}}))
'''


def q_singer_tap_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 end-to-end: a real Singer tap SUBPROCESS (deterministic record
    generator speaking the public SCHEMA/RECORD/STATE protocol) driven by
    SingerTapJob — portions cut at STATE boundaries, md5-keyed MERGE per
    stream, bookmark committed per portion, resume contract exercised by
    a second run (emits nothing, table unchanged). 40 upserts over 17
    keys; the last emission per key wins (LWW by stream order)."""
    import sys

    from jitsu_spark.sources.singer_tap import SingerTapJob

    work = _scratch("singer")
    os.makedirs(work, exist_ok=True)
    tap = os.path.join(work, "tap.py")
    with open(tap, "w") as f:
        f.write(_ENTRY_TAP)
    job = SingerTapJob(
        spark=spark,
        tap_cmd=[sys.executable, tap],
        work_dir=os.path.join(work, "state"),
        tables_root=os.path.join(work, "tables"),
        job_id="singer-entry",
    )
    job.run_once()
    job.run_once()  # resume: bookmark=8, tap emits nothing new
    return job.tables["accounts"].read().select("id", "name", "balance")


def q_singer_tap_sync_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 in the steady-state write mode: the same tap sync with every
    stream table in write.mode=mor (each portion merge is an O(portion)
    delta write, not a CoW bucket rewrite — measured 8.7x CoW on the CDC
    path) plus in-run maintenance, which after every portion folds any
    bucket holding more than 2 files back to base. Final state must be
    byte-identical to the CoW sync, so the oracle is the same LWW SQL."""
    import sys

    from jitsu_spark.sources.singer_tap import SingerTapJob

    work = _scratch("singer_mor")
    os.makedirs(work, exist_ok=True)
    tap = os.path.join(work, "tap.py")
    with open(tap, "w") as f:
        f.write(_ENTRY_TAP)
    job = SingerTapJob(
        spark=spark,
        tap_cmd=[sys.executable, tap],
        work_dir=os.path.join(work, "state"),
        tables_root=os.path.join(work, "tables"),
        job_id="singer-entry-mor",
        table_properties={"write.mode": "mor"},
        compact_max_files_per_bucket=2,
    )
    job.run_once()
    job.run_once()  # resume: bookmark=8, tap emits nothing new
    return job.tables["accounts"].read().select("id", "name", "balance")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_cdc_replay_final_state(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDERING CONTRACT: the driver samples the FIRST 50 entries. Keep the
    # CDC-core five at the top, then the queries lacking a green row in the
    # latest CORRECTNESS artifact (r6 rotation: the 25 entries unsampled in
    # CORRECTNESS_r05, incl. never-sampled jaccard_verify /
    # embedding_near_dups / singer_tap_sync_mor), then new-this-round
    # queries, then the r5-green remainder.
    return {
        # -- CDC core (always sampled) --
        "cdc_replay_final_state": q_cdc_replay_final_state,
        "cdc_replay_mor": q_cdc_replay_mor,
        "mor_hot_bucket": q_mor_hot_bucket,
        "cdc_schema_widening": q_schema_widening,
        "time_chunk_resync": q_time_chunk_resync,
        # -- rotation: unsampled in CORRECTNESS_r05 --
        "jaccard_verify": q_jaccard_verify,
        "embedding_near_dups": q_embedding_near_dups,
        "singer_tap_sync_mor": q_singer_tap_sync_mor,
        "pricing_summary": q_pricing_summary,
        "revenue_by_nation": q_revenue_by_nation,
        "lsh_candidates": q_lsh_candidates,
        "near_dup_components": q_near_dup_components,
        "near_dup_star": q_near_dup_star,
        "ann_lsh_topk": q_ann_lsh_topk,
        "multimodal_features": q_multimodal_features,
        "transform_fanout": q_transform_fanout,
        "token_multiplex": q_token_multiplex,
        "incremental_agg": q_incremental_agg,
        "cdc_replay_rebucket": q_cdc_replay_rebucket,
        "lsh_bucket_guard": q_lsh_bucket_guard,
        "interval_source_sync": q_interval_source_sync,
        "singer_tap_sync": q_singer_tap_sync,
        "stats_rollup": q_stats_rollup,
        "mirror_sync": q_mirror_sync,
        "snapshot_sync": q_snapshot_sync,
        "recognition_backfill": q_recognition_backfill,
        "csv_roundtrip": q_csv_roundtrip,
        "fallback_replay": q_fallback_replay,
        "conditional_enrichment": q_conditional_enrichment,
        "bootstrap_tail": q_bootstrap_tail,
        # -- new in r6 (need first driver rows) --
        "ivf_index_ivm": q_ivf_index_ivm,
        "ivf_probe": q_ivf_probe,
        "cluster_balanced_ivm": q_cluster_balanced_ivm,
        # -- r5-green remainder --
        "salted_rollup": q_salted_rollup,
        "lww_dedup": q_lww_dedup,
        "flatten_props": q_flatten_props,
        "routing_monthly": q_routing_monthly,
        "deterministic_event_id": q_deterministic_event_id,
        "mapping_cast": q_mapping_cast,
        "events_per_hour": q_events_per_hour,
        "rollup_multigrain": q_rollup_multigrain,
        "ua_parse": q_ua_parse,
        "geo_lookup": q_geo_lookup,
        "exact_dedup_documents": q_exact_dedup_documents,
        "text_quality": q_text_quality,
        "langid": q_langid,
        "token_counts": q_token_counts,
        "doc_fingerprint": q_doc_fingerprint,
        "pack_sequences": q_pack_sequences,
        "corpus_select": q_corpus_select,
        "decontaminate": q_decontaminate,
        "domain_mixture": q_domain_mixture,
        "pii_scrub": q_pii_scrub,
        "repetition_signals": q_repetition_signals,
        "passage_dedup": q_passage_dedup,
        "passage_dedup_ivm": q_passage_dedup_ivm,
        "term_stats_ivm": q_term_stats_ivm,
        "lm_counts_ivm": q_lm_counts_ivm,
        "lsh_index_ivm": q_lsh_index_ivm,
        "lsh_probe": q_lsh_probe,
        "chunks_ivm": q_chunks_ivm,
        "doc_features_ivm": q_doc_features_ivm,
        "quality_topk": q_quality_topk,
        "vocab_encode": q_vocab_encode,
        "lm_score": q_lm_score,
        "chunk_documents": q_chunk_documents,
        "tfidf_topterms": q_tfidf_topterms,
        "corpus_split": q_corpus_split,
        "shard_corpus": q_shard_corpus,
        "cluster_balanced": q_cluster_balanced,
        "minhash_signature": q_minhash_signature,
        "simhash": q_simhash,
        "simhash_pairs": q_simhash_pairs,
        "embedding_topk": q_embedding_topk,
        "ivf_topk": q_ivf_topk,
        "ga_payload": q_ga_payload,
        "fb_user_hash": q_fb_user_hash,
        "conversion_send": q_conversion_send,
    }


def _ua_oracle_sql() -> str:
    """UA-parse oracle generated from the operator's own rule lists, so
    Spark and SQL can never drift."""
    from jitsu_spark.operators.geo_ua import _BOT_PATTERN, _OS_RULES, _UA_RULES

    def fam_case(rules):
        whens = " ".join(
            f"WHEN regexp_matches(user_agent, '{d}') THEN '{fam}'"
            for fam, d, _ in rules
        )
        return f"CASE {whens} ELSE 'Other' END"

    def ver_case(rules):
        whens = " ".join(
            f"WHEN regexp_matches(user_agent, '{d}') THEN "
            + (
                f"coalesce(regexp_extract(user_agent, '{v}', 1), '')"
                if v
                else "''"
            )
            for _, d, v in rules
        )
        return f"CASE {whens} ELSE '' END"

    ua_array = "[" + ", ".join(f"'{u}'" for u in _UA_LIST) + "]"
    return f"""
        WITH ev AS (
            SELECT event_id,
                   ({ua_array})[
                       (('0x'||substr(md5(event_id||'#ua'),1,2))::INT % 8) + 1
                   ] AS user_agent
            FROM events
        )
        SELECT event_id,
               {fam_case(_UA_RULES)} AS ua_family,
               {ver_case(_UA_RULES)} AS ua_version,
               {fam_case(_OS_RULES)} AS ua_os_family,
               translate({ver_case(_OS_RULES)}, '_', '.') AS ua_os_version,
               CASE WHEN regexp_matches(user_agent, 'iPhone') THEN 'iPhone'
                    WHEN regexp_matches(user_agent, 'iPad') THEN 'iPad'
                    WHEN regexp_matches(user_agent, 'Macintosh') THEN 'Mac'
                    WHEN regexp_matches(user_agent, 'Android')
                         THEN 'Generic Smartphone'
                    ELSE 'Other' END AS ua_device_family,
               CASE WHEN regexp_matches(user_agent, 'iPhone|iPad|Macintosh')
                         THEN 'Apple'
                    WHEN regexp_matches(user_agent, 'SM-[A-Z0-9]+')
                         THEN 'Samsung'
                    WHEN regexp_matches(user_agent, 'Pixel') THEN 'Google'
                    ELSE '' END AS ua_device_brand,
               CASE WHEN regexp_matches(user_agent, 'iPhone') THEN 'iPhone'
                    WHEN regexp_matches(user_agent, 'iPad') THEN 'iPad'
                    WHEN regexp_matches(user_agent, 'SM-[A-Z0-9]+')
                         THEN coalesce(regexp_extract(
                             user_agent, '(SM-[A-Z0-9]+)', 1), '')
                    WHEN regexp_matches(user_agent, 'Pixel [0-9]+')
                         THEN coalesce(regexp_extract(
                             user_agent, '(Pixel [0-9]+)', 1), '')
                    ELSE '' END AS ua_device_model,
               regexp_matches(user_agent, '{_BOT_PATTERN}') AS ua_bot
        FROM ev
    """


def _pii_oracle_sql() -> str:
    """PII-scrub oracle generated from the operator's own ordered rule
    list (jitsu_spark/text/pii.py PII_RULES), so the Spark scrub and the
    SQL twin can never drift: each stage counts on the text state the
    previous stage produced, exactly like the fold in scrub_pii. DuckDB
    standard strings keep backslashes literal, so the RE2 patterns embed
    as-is (they use only the Java∩RE2 subset by construction)."""
    from jitsu_spark.text.pii import PII_RULES

    aug = """
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com from '
                    || CAST(doc_id % 256 AS VARCHAR) || '.'
                    || CAST(n_chars % 256 AS VARCHAR) || '.'
                    || CAST((doc_id * 7) % 256 AS VARCHAR) || '.'
                    || CAST((n_chars * 3) % 256 AS VARCHAR)
                    || ' call 555-'
                    || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                    || '-'
                    || lpad(CAST(n_chars % 10000 AS VARCHAR), 4, '0')
                    || CASE WHEN doc_id % 3 = 0
                            THEN ' card 4111111111111111' ELSE '' END AS t0
        FROM documents
    """
    stages = [f"s0 AS ({aug})"]
    carried: list[str] = []
    for i, (name, pat, repl) in enumerate(PII_RULES):
        stages.append(
            f"""s{i + 1} AS (
                SELECT doc_id, {', '.join(carried) + ',' if carried else ''}
                       CAST(len(regexp_extract_all(t{i}, '{pat}')) AS BIGINT)
                           AS n_{name},
                       regexp_replace(t{i}, '{pat}', '{repl}', 'g') AS t{i + 1}
                FROM s{i})"""
        )
        carried.append(f"n_{name}")
    total = " + ".join(carried)
    n = len(PII_RULES)
    return f"""
        WITH {', '.join(stages)}
        SELECT doc_id, {', '.join(carried)},
               CAST({total} AS BIGINT) AS pii_total,
               t{n} AS clean_text
        FROM s{n}
    """


# word-trigram shingles -> k=8 minhash -> 4 bands of 2: the shared CTE
# prefix of every LSH-family oracle (candidates, probe, index IVM) —
# mirrors dedup/minhash.band_rows exactly (md5('{i}#'||w) per-plane min)
_LSH_BANDS_CTE = """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ),
    sh AS (
        SELECT doc_id,
               CASE WHEN len(tk) >= 3
                    THEN list_distinct(list_transform(
                             range(1, len(tk)-1),
                             i -> array_to_string(tk[i:i+2], ' ')))
                    ELSE [array_to_string(tk, ' ')] END AS s
        FROM toks
    ),
    mh AS (
        SELECT doc_id,
               {mins}
        FROM sh
    ),
    bands AS (
        SELECT doc_id, 0 AS band_no, md5(m0||'|'||m1) AS bh FROM mh
        UNION ALL SELECT doc_id, 1, md5(m2||'|'||m3) FROM mh
        UNION ALL SELECT doc_id, 2, md5(m4||'|'||m5) FROM mh
        UNION ALL SELECT doc_id, 3, md5(m6||'|'||m7) FROM mh
    )
""".format(
    mins=", ".join(
        f"list_min(list_transform(s, w -> md5('{i}#'||w))) AS m{i}"
        for i in range(8)
    )
)


def oracle_sql() -> dict[str, str]:
    cl = _CHANGELOG_SQL
    out = {
        "cdc_replay_final_state": f"""
            WITH c AS ({cl}),
            r AS (SELECT *, row_number() OVER (
                      PARTITION BY doc_id ORDER BY seq DESC) AS rn
                  FROM c)
            SELECT doc_id, ts, value FROM r WHERE rn = 1 AND op <> 'd'
        """,
        "cdc_replay_mor": f"""
            WITH c AS ({cl}),
            r AS (SELECT *, row_number() OVER (
                      PARTITION BY doc_id ORDER BY seq DESC) AS rn
                  FROM c)
            SELECT doc_id, ts, value FROM r WHERE rn = 1 AND op <> 'd'
        """,
        "mor_hot_bucket": f"""
            WITH c AS ({cl}),
            aug AS (
                SELECT * FROM c
                UNION ALL
                SELECT (SELECT max(seq) FROM c) + 1 AS seq, 'u' AS op,
                       CAST(NULL AS TIMESTAMP) AS ts, '7' AS doc_id,
                       CAST(999.5 AS DOUBLE) AS value
            ),
            r AS (SELECT *, row_number() OVER (
                      PARTITION BY doc_id ORDER BY seq DESC) AS rn
                  FROM aug)
            SELECT doc_id, ts, value FROM r WHERE rn = 1 AND op <> 'd'
        """,
        "time_chunk_resync": f"""
            WITH c AS ({cl}),
            r AS (SELECT *, row_number() OVER (
                      PARTITION BY doc_id ORDER BY seq DESC) AS rn
                  FROM c)
            SELECT doc_id, ts,
                   CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00'
                        THEN value * 2 ELSE value END AS value
            FROM r WHERE rn = 1 AND op <> 'd'
        """,
        "salted_rollup": f"""
            WITH c AS ({cl})
            SELECT op, count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
                       AS sum_value_c
            FROM c GROUP BY op
        """,
        "cdc_schema_widening": f"""
            WITH c AS ({cl}),
            t AS (SELECT seq, op, doc_id,
                         CASE WHEN seq <= (SELECT max(seq) FROM c) // 2
                              THEN CAST(FLOOR(value) AS DOUBLE)
                              ELSE value END AS value
                  FROM c),
            r AS (SELECT *, row_number() OVER (
                      PARTITION BY doc_id ORDER BY seq DESC) AS rn
                  FROM t)
            SELECT doc_id, value FROM r WHERE rn = 1 AND op <> 'd'
        """,
        "lww_dedup": f"""
            WITH c AS ({cl}),
            r AS (SELECT *, row_number() OVER (
                      PARTITION BY doc_id ORDER BY seq DESC) AS rn,
                     max(seq) OVER (PARTITION BY doc_id) AS last_seq
                  FROM c)
            SELECT doc_id, op AS last_op, value AS last_value, last_seq
            FROM r WHERE rn = 1
        """,
        "flatten_props": """
            SELECT event_id,
                   CAST(json_extract(props, '$.k') AS BIGINT) AS props_k
            FROM events
        """,
        "routing_monthly": """
            SELECT 'events_' || strftime(ts, '%Y_%m') AS _table,
                   count(*) AS n
            FROM events GROUP BY 1
        """,
        "deterministic_event_id": """
            SELECT event_id AS src_id,
                   md5(concat_ws('|',
                       COALESCE(CAST(event_type AS VARCHAR), ''),
                       COALESCE(CAST(event_id AS VARCHAR), ''),
                       COALESCE(CAST(user_id AS VARCHAR), ''))) AS det_id
            FROM events
        """,
        "mapping_cast": """
            SELECT event_id,
                   CAST(user_id AS BIGINT) AS uid,
                   event_type AS etype,
                   'v1' AS pipeline
            FROM events
        """,
        "events_per_hour": """
            SELECT date_trunc('hour', ts) AS hour,
                   count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
                       AS sum_value_c
            FROM events GROUP BY 1
        """,
        "rollup_multigrain": """
            SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                   date_trunc('hour', ts) AS hour,
                   count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
                       AS sum_value_c,
                   GROUPING(date_trunc('day', ts),
                            date_trunc('hour', ts)) AS lvl
            FROM events
            GROUP BY ROLLUP(date_trunc('day', ts), date_trunc('hour', ts))
        """,
        "ua_parse": _ua_oracle_sql(),
        "geo_lookup": """
            WITH ev AS (
                SELECT event_id, md5(event_id||'#ip') AS h FROM events
            ),
            ip AS (
                SELECT event_id,
                       '10.' || ('0x'||substr(h,1,2))::INT
                       || '.' || ('0x'||substr(h,3,2))::INT
                       || '.' || ('0x'||substr(h,5,2))::INT AS ip,
                       10*16777216 + ('0x'||substr(h,1,2))::INT*65536
                       + ('0x'||substr(h,3,2))::INT*256
                       + ('0x'||substr(h,5,2))::INT AS ipnum
                FROM ev
            ),
            dim AS (
                SELECT 10*16777216 + i*65536 AS net_start,
                       10*16777216 + i*65536 + 65535 AS net_end,
                       'C'||(i%32) AS country,
                       'city-'||i AS city,
                       round(CAST(i AS DOUBLE)*0.5, 4) AS latitude,
                       round(CAST(i AS DOUBLE)*0.7 - 80, 4) AS longitude,
                       CAST(10000+i AS VARCHAR) AS zip,
                       'R'||(i%8) AS region
                FROM generate_series(0, 255) t(i)
            )
            SELECT event_id, ip,
                   country AS geo_country, city AS geo_city,
                   latitude AS geo_latitude, longitude AS geo_longitude,
                   zip AS geo_zip, region AS geo_region
            FROM ip JOIN dim ON ipnum BETWEEN net_start AND net_end
        """,
        "exact_dedup_documents": """
            SELECT md5(COALESCE(CAST(text AS VARCHAR), '')) AS content_hash,
                   min(doc_id) AS keep_id,
                   count(*) AS n_dups
            FROM documents GROUP BY 1
        """,
        "text_quality": """
            SELECT doc_id,
                   len(string_split(text, ' ')) AS n_words,
                   length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS n_alpha,
                   length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
                   CAST(floor(100 * length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                        / len(string_split(text, ' '))) AS BIGINT)
                       AS mean_word_len_x100,
                   len(string_split(text, ' ')) < 16 AS is_short
            FROM documents
        """,
        "langid": """
            SELECT doc_id,
                   CASE
                     WHEN contains(' ' || lower(text) || ' ', ' the ') THEN 'en'
                     WHEN contains(' ' || lower(text) || ' ', ' der ') THEN 'de'
                     WHEN contains(' ' || lower(text) || ' ', ' le ') THEN 'fr'
                     WHEN contains(' ' || lower(text) || ' ', ' el ') THEN 'es'
                     ELSE 'und'
                   END AS lang_guess
            FROM documents
        """,
        "token_counts": r"""
            SELECT doc_id,
                   len(string_split(text, ' ')) AS n_ws_tokens,
                   len(regexp_extract_all(text,
                       '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]')) AS n_bpe_tokens
            FROM documents
        """,
        "doc_fingerprint": """
            SELECT doc_id,
                   list_min(list_transform(string_split(text, ' '),
                                           w -> md5(w))) AS fp
            FROM documents
        """,
        # data mixing: md5-uniform u, per-domain weight, floor(w)+Bernoulli
        # copies — every arithmetic step forced to DOUBLE on both sides
        "pii_scrub": _pii_oracle_sql(),
        # Gopher repetition signals: one tagged token stream per word and
        # bigram in Spark; the oracle recomputes both families separately
        # (unnest words; bigrams via a lateral range over positions)
        "repetition_signals": """
            WITH t AS (
                SELECT doc_id, string_split(text, ' ') AS w FROM documents
            ),
            wcnt AS (
                SELECT doc_id, tok, count(*) AS c
                FROM (SELECT doc_id, unnest(w) AS tok FROM t)
                GROUP BY doc_id, tok
            ),
            wagg AS (
                SELECT doc_id,
                       CAST(sum(c) AS BIGINT) AS n_words,
                       CAST(count(*) AS BIGINT) AS n_distinct_words,
                       CAST(max(c) AS BIGINT) AS topw
                FROM wcnt GROUP BY doc_id
            ),
            bcnt AS (
                SELECT doc_id, tok, count(*) AS c
                FROM (
                    SELECT doc_id, w[g + 1] || ' ' || w[g + 2] AS tok
                    FROM t, unnest(range(len(w) - 1)) AS i(g)
                )
                GROUP BY doc_id, tok
            ),
            bagg AS (
                SELECT doc_id, CAST(max(c) AS BIGINT) AS topb
                FROM bcnt GROUP BY doc_id
            )
            SELECT w.doc_id, n_words, n_distinct_words,
                   round(1.0 - n_distinct_words / CAST(n_words AS DOUBLE), 6)
                       AS dup_word_frac,
                   round(topw / CAST(n_words AS DOUBLE), 6) AS top_word_frac,
                   CASE WHEN n_words > 1
                        THEN round(coalesce(topb, 0)
                                   / (CAST(n_words AS DOUBLE) - 1), 6)
                        ELSE 0.0 END AS top_bigram_frac
            FROM wagg w LEFT JOIN bagg b USING (doc_id)
        """,
        # passage dedup: 10-word non-overlapping windows, global
        # first-occurrence (doc_id, pos) wins, docs rebuilt in pos order
        "passage_dedup": """
            WITH t AS (
                SELECT doc_id, string_split(text, ' ') AS w FROM documents
            ),
            p AS (
                SELECT doc_id, g AS pos,
                       array_to_string(w[(g * 10 + 1):(g * 10 + 10)], ' ')
                           AS passage
                FROM t,
                     unnest(range(CAST(ceil(len(w) / 10.0) AS BIGINT)))
                         AS i(g)
            ),
            r AS (
                SELECT doc_id, pos, passage,
                       row_number() OVER (
                           PARTITION BY passage ORDER BY doc_id, pos
                       ) AS rn
                FROM p
            )
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_passages,
                   CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
                   coalesce(string_agg(CASE WHEN rn = 1 THEN passage END,
                                       ' ' ORDER BY pos), '') AS clean_text
            FROM r GROUP BY doc_id
        """,
        # vocab build + encode: top-256 tokens by (count desc, token asc),
        # dense ids, OOV -> -1, first-32-id CSV per doc
        "vocab_encode": """
            WITH toks AS (
                SELECT doc_id, g AS pos, w[g + 1] AS token
                FROM (
                    SELECT doc_id, string_split(text, ' ') AS w
                    FROM documents
                ) t, unnest(range(len(w))) AS i(g)
            ),
            cnt AS (
                SELECT token, CAST(count(*) AS BIGINT) AS n
                FROM toks GROUP BY token
            ),
            vocab AS (
                SELECT token,
                       CAST(row_number() OVER (ORDER BY n DESC, token ASC) - 1
                            AS BIGINT) AS token_id
                FROM cnt ORDER BY n DESC, token ASC LIMIT 256
            ),
            enc AS (
                SELECT t.doc_id, t.pos, coalesce(v.token_id, -1) AS tid
                FROM toks t LEFT JOIN vocab v USING (token)
            )
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_tokens,
                   CAST(count(*) FILTER (WHERE tid = -1) AS BIGINT) AS n_oov,
                   string_agg(CASE WHEN pos < 32 THEN CAST(tid AS VARCHAR) END,
                              ',' ORDER BY pos) AS ids_csv
            FROM enc GROUP BY doc_id
        """,
        # bigram-LM scoring: add-one-smoothed model trained on the corpus
        # itself; per-bigram round(-ln(p)*1e8) -> BIGINT, exact integer
        # sums after that (engine-portable; the float boundary is per
        # distinct (c2, c1) pair)
        "lm_score": """
            WITH ne AS (
                SELECT doc_id, string_split(text, ' ') AS w
                FROM documents
                WHERE text IS NOT NULL AND text <> ''
            ),
            bg AS (
                SELECT doc_id, w[g + 1] AS prev, w[g + 2] AS cur
                FROM ne, unnest(range(len(w) - 1)) AS i(g)
                WHERE len(w) >= 2
            ),
            c2 AS (
                SELECT prev, cur, CAST(count(*) AS BIGINT) AS c2
                FROM bg GROUP BY prev, cur
            ),
            c1 AS (
                SELECT prev, CAST(count(*) AS BIGINT) AS c1
                FROM bg GROUP BY prev
            ),
            vv AS (
                SELECT CAST(count(DISTINCT token) AS BIGINT) AS v
                FROM (SELECT unnest(w) AS token FROM ne)
            ),
            nll AS (
                SELECT b.doc_id,
                       CAST(round(
                           -ln(CAST(coalesce(c2.c2, 0) + 1 AS DOUBLE)
                               / CAST(coalesce(c1.c1, 0) + vv.v AS DOUBLE))
                           * 100000000.0, 0) AS BIGINT) AS nll_e8
                FROM bg b
                LEFT JOIN c2 ON b.prev = c2.prev AND b.cur = c2.cur
                LEFT JOIN c1 ON b.prev = c1.prev
                CROSS JOIN vv
            ),
            per AS (
                SELECT doc_id,
                       CAST(count(*) AS BIGINT) AS n_bigrams,
                       CAST(sum(nll_e8) AS BIGINT) AS sum_nll_e8
                FROM nll GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(per.n_bigrams, 0) AS BIGINT) AS n_bigrams,
                   CAST(coalesce(per.sum_nll_e8, 0) AS BIGINT) AS sum_nll_e8
            FROM documents d LEFT JOIN per USING (doc_id)
        """,
        # sliding-window chunking: starts 1, 1+stride, ... with the last
        # start forced to n-window+1 (tail realignment)
        "chunk_documents": """
            WITH ne AS (
                SELECT doc_id, string_split(text, ' ') AS w,
                       len(string_split(text, ' ')) AS n
                FROM documents
                WHERE text IS NOT NULL AND text <> ''
            ),
            s AS (
                SELECT doc_id, w, n, greatest(n - 64 + 1, 1) AS ls FROM ne
            ),
            st AS (
                SELECT doc_id, w, n,
                       CASE WHEN (ls - 1) % 48 = 0 THEN range(1, ls + 1, 48)
                            ELSE list_append(range(1, ls + 1, 48), ls)
                       END AS starts
                FROM s
            )
            SELECT doc_id,
                   CAST(g AS BIGINT) AS chunk_no,
                   CAST(least(64, n - starts[g + 1] + 1) AS BIGINT) AS n_tokens,
                   array_to_string(
                       list_slice(w, starts[g + 1], starts[g + 1] + 63), ' '
                   ) AS chunk_text
            FROM st, unnest(range(len(starts))) AS i(g)
        """,
        # top-5 TF-IDF keywords per doc: smoothed idf ln((1+N)/(1+df))+1,
        # per-(tf,df,N) round(tf*idf*1e6) -> BIGINT, term-asc tiebreak
        "tfidf_topterms": """
            WITH ne AS (
                SELECT doc_id, text FROM documents
                WHERE text IS NOT NULL AND text <> ''
            ),
            toks AS (
                SELECT doc_id, unnest(string_split(text, ' ')) AS token
                FROM ne
            ),
            tf AS (
                SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
                FROM toks GROUP BY doc_id, token
            ),
            dfq AS (
                SELECT token, CAST(count(*) AS BIGINT) AS df
                FROM tf GROUP BY token
            ),
            nn AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM ne),
            scored AS (
                SELECT tf.doc_id, tf.token,
                       CAST(round(
                           tf.tf * (ln(CAST(1 + nn.n_docs AS DOUBLE)
                                       / CAST(1 + dfq.df AS DOUBLE)) + 1.0)
                           * 1000000.0, 0) AS BIGINT) AS score_e6
                FROM tf JOIN dfq USING (token) CROSS JOIN nn
            ),
            r AS (
                SELECT doc_id, token, score_e6,
                       CAST(row_number() OVER (
                           PARTITION BY doc_id
                           ORDER BY score_e6 DESC, token ASC
                       ) AS BIGINT) AS term_rank
                FROM scored
            )
            SELECT doc_id, term_rank, token, score_e6
            FROM r WHERE term_rank <= 5
        """,
        # 90/5/5 split; the 0.95 cutoff is spelled as the exact binary
        # double Python's 0.9 + 0.05 accumulation produces
        "corpus_split": """
            SELECT doc_id, source,
                   CASE WHEN u < 0.9 THEN 'train'
                        WHEN u < 0.9500000000000001 THEN 'val'
                        ELSE 'test' END AS split
            FROM (
                SELECT doc_id, source,
                       (('0x' || substr(md5('split:11#' || CAST(doc_id AS VARCHAR)),
                                        1, 8))::BIGINT
                            / CAST(4294967296 AS DOUBLE)) AS u
                FROM documents
            )
        """,
        # dataloader sharding: md5-uniform shard, independent md5 order
        # (seed 5; order stream salted "shardord:")
        "shard_corpus": """
            WITH t AS (
                SELECT doc_id,
                       CAST(floor(
                           (('0x' || substr(md5('shard:5#' || CAST(doc_id AS VARCHAR)),
                                            1, 8))::BIGINT
                                / CAST(4294967296 AS DOUBLE)) * 8
                       ) AS INT) AS shard,
                       md5('shardord:5#' || CAST(doc_id AS VARCHAR)) AS oh
                FROM documents
            )
            SELECT doc_id, shard,
                   CAST(row_number() OVER (
                       PARTITION BY shard ORDER BY oh, doc_id
                   ) - 1 AS BIGINT) AS pos_in_shard
            FROM t
        """,
        # cluster-balanced curation: nearest hash-sampled centroid
        # (64 centroids = the smallest md5('cent#'||id) draws; 6dp-rounded
        # argmax, centroid-id tiebreak), salted-md5 rank cap per cluster
        "cluster_balanced": """
            WITH e AS (
                SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            ),
            cent AS (
                SELECT vec_id AS cent_id, v AS cvec FROM e
                ORDER BY md5('cent#' || CAST(vec_id AS VARCHAR)) ASC,
                         vec_id ASC
                LIMIT 64
            ),
            assigned AS (
                SELECT vec_id, cent_id AS cluster FROM (
                    SELECT e.vec_id, cent.cent_id,
                           row_number() OVER (PARTITION BY e.vec_id
                               ORDER BY round(list_cosine_similarity(
                                   e.v, cent.cvec), 6) DESC,
                               cent.cent_id ASC) AS cr
                    FROM e, cent
                ) WHERE cr = 1
            ),
            ranked AS (
                SELECT vec_id, cluster,
                       CAST(row_number() OVER (
                           PARTITION BY cluster
                           ORDER BY md5('cursample:4#'
                                        || CAST(vec_id AS VARCHAR)) ASC,
                                    vec_id ASC
                       ) AS INT) AS pick_rank
                FROM assigned
            )
            SELECT vec_id, cluster, pick_rank
            FROM ranked WHERE pick_rank <= 10
        """,
        # corpus head: deterministic total order, fixed-size top-k
        "quality_topk": """
            SELECT doc_id,
                   len(string_split(text, ' ')) AS n_words,
                   CAST(floor(100 * length(regexp_replace(text, '[^a-zA-Z]',
                                                          '', 'g'))
                        / len(string_split(text, ' '))) AS BIGINT)
                       AS mean_word_len_x100
            FROM documents
            ORDER BY mean_word_len_x100 DESC, n_words DESC, doc_id ASC
            LIMIT 100
        """,
        "domain_mixture": """
            WITH w AS (
                SELECT doc_id, source,
                       CAST(CASE source WHEN 'src0' THEN 0.4
                                        WHEN 'src1' THEN 2.5
                                        WHEN 'src2' THEN 0.0
                                        ELSE 1.0 END AS DOUBLE) AS wt,
                       (('0x' || substr(md5('mix:7#' || CAST(doc_id AS VARCHAR)),
                                        1, 8))::BIGINT
                            / CAST(4294967296 AS DOUBLE)) AS u
                FROM documents
            ),
            c AS (
                SELECT doc_id, source,
                       CAST(floor(wt) + CASE WHEN u < wt - floor(wt)
                                             THEN 1 ELSE 0 END AS INT) AS n
                FROM w
            )
            SELECT doc_id, source, CAST(g.x AS INT) AS copy_no
            FROM c, unnest(range(CAST(n AS BIGINT))) AS g(x)
            WHERE n > 0
        """,
        # decontamination: trigram shingles (same slicing as jaccard_verify),
        # bench = doc_id % 37 == 0, overlap join recomputed wholesale
        "decontaminate": """
            WITH toks AS (
                SELECT doc_id, string_split(text, ' ') AS tk FROM documents
            ),
            sh AS (
                SELECT doc_id,
                       CASE WHEN len(tk) >= 3
                            THEN list_distinct(list_transform(
                                     range(1, len(tk)-1),
                                     i -> array_to_string(tk[i:i+2], ' ')))
                            ELSE [array_to_string(tk, ' ')] END AS s
                FROM toks
            ),
            bench AS (
                SELECT DISTINCT u.x AS g
                FROM sh, unnest(s) AS u(x) WHERE doc_id % 37 = 0
            ),
            train AS (SELECT * FROM sh WHERE doc_id % 37 <> 0),
            hits AS (
                SELECT e.doc_id, count(*) AS n_hit FROM (
                    SELECT t.doc_id, u.x FROM train t, unnest(t.s) AS u(x)
                ) e JOIN bench b ON b.g = e.x
                GROUP BY e.doc_id
            )
            SELECT t.doc_id, CAST(len(t.s) AS BIGINT) AS n_shingles,
                   CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit
            FROM train t LEFT JOIN hits h USING (doc_id)
        """,
        "corpus_select": """
            WITH RECURSIVE toks AS (
                SELECT doc_id, string_split(text, ' ') AS tk FROM documents
            ),
            sh AS (
                SELECT doc_id,
                       CASE WHEN len(tk) >= 3
                            THEN list_distinct(list_transform(
                                     range(1, len(tk)-1),
                                     i -> array_to_string(tk[i:i+2], ' ')))
                            ELSE [array_to_string(tk, ' ')] END AS s
                FROM toks
            ),
            mh AS (
                SELECT doc_id,
                       {mins}
                FROM sh
            ),
            bands AS (
                SELECT doc_id, 0 AS band_no, md5(m0||'|'||m1) AS bh FROM mh
                UNION ALL SELECT doc_id, 1, md5(m2||'|'||m3) FROM mh
                UNION ALL SELECT doc_id, 2, md5(m4||'|'||m5) FROM mh
                UNION ALL SELECT doc_id, 3, md5(m6||'|'||m7) FROM mh
            ),
            cand AS (
                SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
                FROM bands l JOIN bands r
                  ON l.band_no = r.band_no AND l.bh = r.bh
                 AND l.doc_id < r.doc_id
            ),
            ver AS (
                SELECT c.id_a, c.id_b
                FROM cand c
                JOIN sh a ON a.doc_id = c.id_a
                JOIN sh b ON b.doc_id = c.id_b
                WHERE round(
                    len(list_filter(a.s, x -> list_contains(b.s, x)))::DOUBLE
                    / (len(a.s) + len(b.s)
                       - len(list_filter(a.s, x -> list_contains(b.s, x)))),
                    6) >= 0.5
            ),
            edges AS (
                SELECT id_a AS u, id_b AS v FROM ver
                UNION SELECT id_b, id_a FROM ver
            ),
            reach AS (
                SELECT u AS id, u AS r FROM edges
                UNION
                SELECT reach.id, e.v FROM reach JOIN edges e ON reach.r = e.u
            ),
            comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
            lid AS (
                SELECT doc_id,
                       len(string_split(text, ' ')) AS n_words,
                       CASE
                         WHEN contains(' ' || lower(text) || ' ', ' the ')
                              THEN 'en'
                         WHEN contains(' ' || lower(text) || ' ', ' der ')
                              THEN 'de'
                         WHEN contains(' ' || lower(text) || ' ', ' le ')
                              THEN 'fr'
                         WHEN contains(' ' || lower(text) || ' ', ' el ')
                              THEN 'es'
                         ELSE 'und'
                       END AS lang,
                       md5(COALESCE(CAST(text AS VARCHAR), '')) AS h
                FROM documents
            ),
            ek AS (SELECT h, min(doc_id) AS keep FROM lid GROUP BY h)
            SELECT l.doc_id, l.n_words, l.lang,
                   l.doc_id = ek.keep AS is_exact_keeper,
                   COALESCE(c.id = c.component, TRUE) AS is_near_keeper,
                   (l.n_words >= 16 AND l.lang IN ('en')
                    AND l.doc_id = ek.keep
                    AND COALESCE(c.id = c.component, TRUE)) AS selected
            FROM lid l
            JOIN ek ON l.h = ek.h
            LEFT JOIN comp c ON c.id = l.doc_id
        """.format(
            mins=", ".join(
                f"list_min(list_transform(s, w -> md5('{i}#'||w))) AS m{i}"
                for i in range(8)
            )
        ),
        "pack_sequences": """
            WITH toks AS (
                SELECT doc_id,
                       list_transform(string_split(text, ' '),
                           w -> ('0x'||substr(md5(w),1,4))::INT) AS tk
                FROM documents
            ),
            flat AS (
                SELECT doc_id,
                       unnest(tk) AS tok,
                       generate_subscripts(tk, 1) AS i
                FROM toks
            ),
            pos AS (
                SELECT tok,
                       row_number() OVER (ORDER BY doc_id, i) - 1 AS g
                FROM flat
            )
            SELECT g // 128 AS pack_id,
                   count(*) AS n_tok,
                   CAST(sum(CAST(tok AS BIGINT) * ((g % 128) + 1)) AS BIGINT)
                       AS checksum
            FROM pos GROUP BY 1
        """,
        "minhash_signature": """
            SELECT doc_id,
                   list_min(list_transform(list_distinct(string_split(text, ' ')),
                            w -> md5('0#' || w))) AS mh0,
                   list_min(list_transform(list_distinct(string_split(text, ' ')),
                            w -> md5('1#' || w))) AS mh1,
                   list_min(list_transform(list_distinct(string_split(text, ' ')),
                            w -> md5('2#' || w))) AS mh2,
                   list_min(list_transform(list_distinct(string_split(text, ' ')),
                            w -> md5('3#' || w))) AS mh3
            FROM documents
        """,
        "simhash": """
            WITH toks AS (
                SELECT doc_id,
                       ('0x' || substr(md5(t.w), 1, 4))::BIGINT AS hv
                FROM documents, unnest(string_split(text, ' ')) AS t(w)
            ),
            votes AS (
                SELECT doc_id,
                       {sums}
                FROM toks GROUP BY doc_id
            )
            SELECT doc_id, CAST({recon} AS BIGINT) AS simhash FROM votes
        """.format(
            sums=", ".join(
                f"sum(CASE WHEN (hv // {1 << b}) % 2 = 1 THEN 1 ELSE -1 END) AS v{b}"
                for b in range(16)
            ),
            recon=" + ".join(
                f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(16)
            ),
        ),
        "simhash_pairs": """
            WITH toks AS (
                SELECT doc_id,
                       ('0x' || substr(md5(t.w), 1, 4))::BIGINT AS hv
                FROM documents, unnest(string_split(text, ' ')) AS t(w)
            ),
            votes AS (
                SELECT doc_id,
                       {sums}
                FROM toks GROUP BY doc_id
            ),
            sh AS (
                SELECT doc_id, CAST({recon} AS BIGINT) AS simhash FROM votes
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT)
                       AS hamming
            FROM sh a JOIN sh b
              ON (a.simhash // 256) = (b.simhash // 256)
             AND a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 4
        """.format(
            sums=", ".join(
                f"sum(CASE WHEN (hv // {1 << b}) % 2 = 1 THEN 1 ELSE -1 END) AS v{b}"
                for b in range(16)
            ),
            recon=" + ".join(
                f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(16)
            ),
        ),
        "embedding_topk": """
            WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
                       FROM embeddings WHERE vec_id < 8),
            sims AS (
                SELECT q.qid, e.vec_id AS cid,
                       round(list_cosine_similarity(q.qv, e.embedding::DOUBLE[]), 4)
                           AS sim
                FROM q, embeddings e
                WHERE q.qid <> e.vec_id
            ),
            ranked AS (
                SELECT *, row_number() OVER (
                    PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rank
                FROM sims
            )
            SELECT qid AS vec_id_q, cid AS vec_id_c, sim, rank
            FROM ranked WHERE rank <= 5
        """,
        "ga_payload": """
            SELECT CAST(event_id AS VARCHAR) AS cid,
                   'cid=' || event_id
                   || '&ev=' || CAST(value AS VARCHAR)
                   || '&t=' || CASE event_type
                        WHEN 'pageview' THEN 'pageview'
                        WHEN 'screenview' THEN 'screenview'
                        WHEN 'event' THEN 'event'
                        WHEN 'conversion' THEN 'transaction'
                        WHEN 'transaction' THEN 'transaction'
                        WHEN 'item' THEN 'item'
                        WHEN 'social' THEN 'social'
                        WHEN 'exception' THEN 'exception'
                        WHEN 'timing' THEN 'timing'
                        ELSE 'event' END
                   || '&tid=UA-1&v=1' AS ga_payload
            FROM events
        """,
        "fb_user_hash": """
            SELECT event_id,
                   sha256(CAST(user_id AS VARCHAR)) AS ud_ph,
                   sha256('US') AS ud_country,
                   CASE WHEN event_id % 2 = 0
                        THEN sha256('user' || user_id || '@example.com')
                        ELSE md5(CAST(user_id AS VARCHAR)) END AS em
            FROM events
        """,
        # W10 send ledger: md5-bucket batch assignment + poison rule
        # (batch_no % 5 == 2 -> failed after 3 retries) recomputed in SQL
        "conversion_send": """
            WITH b AS (
                SELECT (('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 4))
                            ::BIGINT % 16) AS batch_no
                FROM events
            )
            SELECT CAST(batch_no AS INT) AS batch_no,
                   CASE WHEN batch_no % 5 = 2 THEN 'failed'
                        ELSE 'sent' END AS status,
                   CAST(CASE WHEN batch_no % 5 = 2 THEN 3 ELSE 1 END AS INT)
                       AS attempts,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM b GROUP BY batch_no
        """,
        "ivf_topk": """
            WITH e AS (
                SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            ),
            cent AS (
                SELECT vec_id AS cent_id, v AS cvec FROM e
                ORDER BY md5('cent#' || CAST(vec_id AS VARCHAR)) ASC,
                         vec_id ASC
                LIMIT 64
            ),
            c_assign AS (
                SELECT vec_id, cent_id FROM (
                    SELECT e.vec_id, cent.cent_id,
                           row_number() OVER (PARTITION BY e.vec_id
                               ORDER BY round(list_cosine_similarity(
                                   e.v, cent.cvec), 6) DESC,
                               cent.cent_id ASC) AS cr
                    FROM e, cent
                ) WHERE cr = 1
            ),
            q_assign AS (
                SELECT vec_id, cent_id FROM (
                    SELECT e.vec_id, cent.cent_id,
                           row_number() OVER (PARTITION BY e.vec_id
                               ORDER BY round(list_cosine_similarity(
                                   e.v, cent.cvec), 6) DESC,
                               cent.cent_id ASC) AS cr
                    FROM e, cent WHERE e.vec_id < 8
                ) WHERE cr <= 3
            ),
            sims AS (
                SELECT DISTINCT q.vec_id AS qid, c.vec_id AS cid,
                       round(list_cosine_similarity(qe.v, ce.v), 4) AS sim
                FROM q_assign q
                JOIN c_assign c
                  ON q.cent_id = c.cent_id AND q.vec_id <> c.vec_id
                JOIN e qe ON qe.vec_id = q.vec_id
                JOIN e ce ON ce.vec_id = c.vec_id
            ),
            ranked AS (
                SELECT *, row_number() OVER (
                    PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rank
                FROM sims
            )
            SELECT qid AS vec_id_q, cid AS vec_id_c, sim, rank
            FROM ranked WHERE rank <= 5
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) * 100
                        AS BIGINT) AS sum_qty_c,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100
                        AS BIGINT) AS sum_base_price_c,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "revenue_by_nation": """
            SELECT n_name,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                        AS BIGINT) AS revenue_c,
                   count(*) AS n_orders
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        # every scheme below is md5/sha256-derived by design, so the
        # engine-internal LSH bucketing and the multimodal stub decode are
        # recomputable in pure SQL
        "lsh_candidates": _LSH_BANDS_CTE + """
            SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
            FROM bands l JOIN bands r
              ON l.band_no = r.band_no AND l.bh = r.bh
             AND l.doc_id < r.doc_id
        """,
        # probe path: the % 7 == 0 docs probed against the full-corpus
        # band index (self-matches included by contract)
        "lsh_probe": _LSH_BANDS_CTE + """
            SELECT DISTINCT p.doc_id AS probe_id, c.doc_id AS match_doc
            FROM bands p JOIN bands c
              ON p.band_no = c.band_no AND p.bh = c.bh
            WHERE p.doc_id % 7 = 0
        """,
        # exact trigram-Jaccard verify of the SAME candidate set: shingle
        # sets are distinct lists, so intersection via list_filter +
        # containment is set semantics; union = |a| + |b| - inter
        "jaccard_verify": """
            WITH toks AS (
                SELECT doc_id, string_split(text, ' ') AS tk FROM documents
            ),
            sh AS (
                SELECT doc_id,
                       CASE WHEN len(tk) >= 3
                            THEN list_distinct(list_transform(
                                     range(1, len(tk)-1),
                                     i -> array_to_string(tk[i:i+2], ' ')))
                            ELSE [array_to_string(tk, ' ')] END AS s
                FROM toks
            ),
            mh AS (
                SELECT doc_id,
                       {mins}
                FROM sh
            ),
            bands AS (
                SELECT doc_id, 0 AS band_no, md5(m0||'|'||m1) AS bh FROM mh
                UNION ALL SELECT doc_id, 1, md5(m2||'|'||m3) FROM mh
                UNION ALL SELECT doc_id, 2, md5(m4||'|'||m5) FROM mh
                UNION ALL SELECT doc_id, 3, md5(m6||'|'||m7) FROM mh
            ),
            cand AS (
                SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
                FROM bands l JOIN bands r
                  ON l.band_no = r.band_no AND l.bh = r.bh
                 AND l.doc_id < r.doc_id
            )
            SELECT c.id_a, c.id_b,
                   CAST(len(list_filter(a.s, x -> list_contains(b.s, x)))
                        AS BIGINT) AS n_inter,
                   CAST(len(a.s) + len(b.s)
                        - len(list_filter(a.s, x -> list_contains(b.s, x)))
                        AS BIGINT) AS n_union
            FROM cand c
            JOIN sh a ON a.doc_id = c.id_a
            JOIN sh b ON b.doc_id = c.id_b
        """.format(
            mins=", ".join(
                f"list_min(list_transform(s, w -> md5('{i}#'||w))) AS m{i}"
                for i in range(8)
            )
        ),
        "near_dup_components": """
            WITH RECURSIVE toks AS (
                SELECT doc_id, string_split(text, ' ') AS tk FROM documents
            ),
            sh AS (
                SELECT doc_id,
                       CASE WHEN len(tk) >= 3
                            THEN list_distinct(list_transform(
                                     range(1, len(tk)-1),
                                     i -> array_to_string(tk[i:i+2], ' ')))
                            ELSE [array_to_string(tk, ' ')] END AS s
                FROM toks
            ),
            mh AS (
                SELECT doc_id,
                       {mins}
                FROM sh
            ),
            bands AS (
                SELECT doc_id, 0 AS band_no, md5(m0||'|'||m1) AS bh FROM mh
                UNION ALL SELECT doc_id, 1, md5(m2||'|'||m3) FROM mh
                UNION ALL SELECT doc_id, 2, md5(m4||'|'||m5) FROM mh
                UNION ALL SELECT doc_id, 3, md5(m6||'|'||m7) FROM mh
            ),
            cand AS (
                SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
                FROM bands l JOIN bands r
                  ON l.band_no = r.band_no AND l.bh = r.bh
                 AND l.doc_id < r.doc_id
            ),
            ver AS (
                SELECT c.id_a, c.id_b
                FROM cand c
                JOIN sh a ON a.doc_id = c.id_a
                JOIN sh b ON b.doc_id = c.id_b
                WHERE round(
                    len(list_filter(a.s, x -> list_contains(b.s, x)))::DOUBLE
                    / (len(a.s) + len(b.s)
                       - len(list_filter(a.s, x -> list_contains(b.s, x)))),
                    6) >= 0.5
            ),
            edges AS (
                SELECT id_a AS u, id_b AS v FROM ver
                UNION SELECT id_b, id_a FROM ver
            ),
            reach AS (
                SELECT u AS id, u AS r FROM edges
                UNION
                SELECT reach.id, e.v FROM reach JOIN edges e ON reach.r = e.u
            )
            SELECT id AS doc_id, min(r) AS component,
                   id = min(r) AS is_keeper
            FROM reach GROUP BY id
        """.format(
            mins=", ".join(
                f"list_min(list_transform(s, w -> md5('{i}#'||w))) AS m{i}"
                for i in range(8)
            )
        ),
        "ann_lsh_topk": """
            WITH e AS (
                SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            ),
            proj AS (
                SELECT e.vec_id, tj.j,
                       sum(e.v[td.dd+1] *
                           CASE WHEN (('0x'||substr(
                                    md5(42||'#'||tj.j||'#'||td.dd),1,2))::INT
                                 % 2) = 0
                                THEN 1.0 ELSE -1.0 END) AS dot
                FROM e, generate_series(0,7) tj(j),
                     unnest(range(len(e.v))) AS td(dd)
                GROUP BY e.vec_id, tj.j
            ),
            s AS (
                SELECT p.vec_id, e.v,
                       sum(CASE WHEN p.dot > 0 THEN 1<<p.j ELSE 0 END)::BIGINT
                           AS sig
                FROM proj p JOIN e USING (vec_id) GROUP BY p.vec_id, e.v
            ),
            probes AS (
                SELECT vec_id AS qid, v AS qv, xor(sig, t.m) AS psig
                FROM s, unnest([0,1,2,4,8]) AS t(m)
                WHERE vec_id < 8
            ),
            sims AS (
                SELECT DISTINCT q.qid, c.vec_id AS cid,
                       round(list_cosine_similarity(q.qv, c.v), 4) AS sim
                FROM probes q JOIN s c
                  ON q.psig = c.sig AND q.qid <> c.vec_id
            ),
            ranked AS (
                SELECT *, row_number() OVER (
                    PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rank
                FROM sims
            )
            SELECT qid AS vec_id_q, cid AS vec_id_c, sim, rank
            FROM ranked WHERE rank <= 5
        """,
        "embedding_near_dups": """
            WITH e AS (
                SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            ),
            proj AS (
                SELECT e.vec_id, tj.j,
                       sum(e.v[td.dd+1] *
                           CASE WHEN (('0x'||substr(
                                    md5(42||'#'||tj.j||'#'||td.dd),1,2))::INT
                                 % 2) = 0
                                THEN 1.0 ELSE -1.0 END) AS dot
                FROM e, generate_series(0,7) tj(j),
                     unnest(range(len(e.v))) AS td(dd)
                GROUP BY e.vec_id, tj.j
            ),
            s AS (
                SELECT p.vec_id, e.v,
                       sum(CASE WHEN p.dot > 0 THEN 1<<p.j ELSE 0 END)::BIGINT
                           AS sig
                FROM proj p JOIN e USING (vec_id) GROUP BY p.vec_id, e.v
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.v, b.v), 4) AS sim
            FROM s a JOIN s b
              ON a.sig = b.sig AND a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.3
        """,
        "multimodal_features": """
            WITH m AS (
                SELECT i, md5(i||'#42') || md5(i||'#43') AS phex
                FROM generate_series(0, 999) t(i)
            )
            SELECT printf('m%08d', i) AS media_id,
                   ['image','audio','video'][
                       (('0x'||substr(md5(i||'#42#kind'),1,2))::INT % 3) + 1
                   ] AS kind,
                   CAST(octet_length(unhex(phex)) AS INTEGER) AS n_bytes,
                   array_to_string(
                     [ ('0x'||substr(sha256(phex), 4*j+3, 2)
                            ||substr(sha256(phex), 4*j+1, 2))::INT
                       FOR j IN range(0,16) ], ',') AS features_u16_csv
            FROM m
        """,
        "transform_fanout": """
            SELECT event_id, user_id, event_type FROM events
            WHERE event_type <> 'error'
            UNION ALL
            SELECT event_id + 500000000 AS event_id, user_id,
                   'signup_shadow' AS event_type
            FROM events WHERE event_type = 'signup'
        """,
        "token_multiplex": """
            WITH e AS (
                SELECT event_id, 'tok' || (user_id % 3) AS api_key FROM events
            ),
            m(api_key, dest) AS (
                VALUES ('tok0', 'dest_a'), ('tok1', 'dest_a'),
                       ('tok1', 'dest_b')
            )
            SELECT event_id, dest FROM e JOIN m USING (api_key)
        """,
        "incremental_agg": f"""
            WITH c AS ({cl}),
            r AS (SELECT *, row_number() OVER (
                      PARTITION BY doc_id ORDER BY seq DESC) AS rn
                  FROM c),
            f AS (SELECT doc_id,
                         'g' || (CAST(doc_id AS BIGINT) % 7) AS grp,
                         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                             AS v_c
                  FROM r WHERE rn = 1 AND op <> 'd')
            SELECT grp, count(*) AS n_rows,
                   CAST(sum(v_c) AS BIGINT) AS v_c
            FROM f GROUP BY grp
        """,
    }
    # algorithm equivalence: the star variant answers to the SAME oracle
    out["near_dup_star"] = out["near_dup_components"]
    # incrementally maintained IVF inverted file == batch cell assignment
    # over the final corpus (embedding CDC history restores the original
    # embeddings table; centroids frozen under the same md5 hash rule)
    out["ivf_index_ivm"] = """
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        cent AS (
            SELECT vec_id AS cent_id, v AS cvec FROM e
            ORDER BY md5('cent#' || CAST(vec_id AS VARCHAR)) ASC,
                     vec_id ASC
            LIMIT 64
        )
        SELECT vec_id, cell FROM (
            SELECT e.vec_id, cent.cent_id AS cell,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY round(list_cosine_similarity(
                           e.v, cent.cvec), 6) DESC,
                       cent.cent_id ASC) AS cr
            FROM e, cent
        ) WHERE cr = 1
    """
    # the maintained index's probe path answers the batch ivf_topk oracle
    out["ivf_probe"] = out["ivf_topk"]
    # curation over the maintained index answers the batch curation oracle
    out["cluster_balanced_ivm"] = out["cluster_balanced"]
    # incremental maintenance == full recompute: the changes()-fed
    # passage-dedup view must converge to exactly the batch answer
    out["passage_dedup_ivm"] = out["passage_dedup"]
    # incrementally maintained df/tf/N + smoothed idf == full recompute
    # over the final corpus (the 3-batch CDC history restores the
    # original documents table)
    out["term_stats_ivm"] = """
        WITH ne AS (
            SELECT doc_id, text FROM documents
            WHERE text IS NOT NULL AND text <> ''
        ),
        tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM ne
        ),
        tfq AS (
            SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
            FROM tok GROUP BY doc_id, token
        ),
        st AS (
            SELECT token, CAST(count(*) AS BIGINT) AS df,
                   CAST(sum(tf) AS BIGINT) AS tf
            FROM tfq GROUP BY token
        ),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM ne)
        SELECT token, df, tf,
               CAST(round((ln((1 + n_docs) / (1 + df)) + 1) * 1000000.0, 0)
                    AS BIGINT) AS idf_e6
        FROM st CROSS JOIN n
    """
    # incrementally maintained bigram-LM counts == counts trained from
    # scratch on the final corpus
    out["lm_counts_ivm"] = """
        WITH ne AS (
            SELECT doc_id, string_split(text, ' ') AS w
            FROM documents
            WHERE text IS NOT NULL AND text <> ''
        ),
        bg AS (
            SELECT w[g + 1] AS prev, w[g + 2] AS cur
            FROM ne, unnest(range(len(w) - 1)) AS i(g)
            WHERE len(w) >= 2
        )
        SELECT prev || ' ' || cur AS bigram, CAST(count(*) AS BIGINT) AS c
        FROM bg GROUP BY prev, cur
    """
    # the incrementally maintained LSH band index's candidate-pair
    # emission == the batch LSH over the final corpus (the 3-batch CDC
    # history restores the original documents table) — SAME oracle
    out["lsh_index_ivm"] = out["lsh_candidates"]
    # the incrementally maintained chunk table == the batch chunking of
    # the final corpus — SAME oracle
    out["chunks_ivm"] = out["chunk_documents"]
    # the incrementally maintained per-doc feature mirror == the batch
    # repetition signals over the final corpus — SAME oracle
    out["doc_features_ivm"] = out["repetition_signals"]
    # state invariance: a mid-replay bucket resize must not change the
    # final LWW state, so the rebucket replay answers the SAME oracle as
    # the plain replay
    out["cdc_replay_rebucket"] = out["cdc_replay_final_state"]
    # mirror correctness: an incremental changes()-fed mirror must equal
    # the upstream final state — SAME oracle again
    out["mirror_sync"] = out["cdc_replay_final_state"]
    # bootstrap + tail must be replay-equivalent
    out["bootstrap_tail"] = out["cdc_replay_final_state"]
    # full-snapshot (ALL-interval) sync: destination == the collection
    out["snapshot_sync"] = """
        SELECT doc_id, lang, source, n_chars,
               CAST(doc_id AS VARCHAR) AS _collection_id
        FROM documents
    """
    # recognition fixpoint: all events of any anon group with >=1 signup,
    # user id backfilled; never-signed-up groups stay parked (absent)
    out["recognition_backfill"] = """
        WITH e AS (
            SELECT 'e' || CAST(event_id AS VARCHAR) AS event_id,
                   'a' || CAST(user_id AS VARCHAR) AS anon_id,
                   event_type, ts, value
            FROM events
        ),
        ids AS (
            SELECT DISTINCT anon_id FROM e WHERE event_type = 'signup'
        )
        SELECT e.event_id, e.anon_id,
               'u' || substr(e.anon_id, 2) AS user_id,
               e.ts, e.value
        FROM e JOIN ids USING (anon_id)
    """
    # lossless CSV roundtrip: messy headers normalize, casts restore types
    out["csv_roundtrip"] = """
        SELECT event_id, event_type, user_id,
               value AS value__usd_, props, ts AS when_ts
        FROM events
    """
    # fallback-envelope replay: the payload survives the wrap/unwrap
    out["fallback_replay"] = """
        SELECT event_id, event_type, value FROM events
    """
    # conditional src stamp: api-tagged rows keep src, others overwritten
    out["conditional_enrichment"] = """
        SELECT event_id, event_type,
               CASE WHEN event_type = 'error' THEN 'api' ELSE 's2s' END
                   AS src,
               'key_1' AS api_key,
               ts AS _timestamp
        FROM events
    """
    out["lsh_bucket_guard"] = """
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS tk FROM documents
        ),
        sh AS (
            SELECT doc_id,
                   CASE WHEN len(tk) >= 3
                        THEN list_distinct(list_transform(
                                 range(1, len(tk)-1),
                                 i -> array_to_string(tk[i:i+2], ' ')))
                        ELSE [array_to_string(tk, ' ')] END AS s
            FROM toks
        ),
        mh AS (
            SELECT doc_id, {mins} FROM sh
        ),
        bands AS (
            SELECT doc_id, 0 AS band_no, md5(m0||'|'||m1) AS bh FROM mh
            UNION ALL SELECT doc_id, 1, md5(m2||'|'||m3) FROM mh
            UNION ALL SELECT doc_id, 2, md5(m4||'|'||m5) FROM mh
            UNION ALL SELECT doc_id, 3, md5(m6||'|'||m7) FROM mh
        ),
        sizes AS (
            SELECT band_no, bh, count(*) AS sz
            FROM bands GROUP BY band_no, bh
        )
        SELECT count(*) AS n_buckets,
               max(sz) AS max_bucket,
               CAST(coalesce(sum(CASE WHEN sz > 8 THEN 1 END), 0)
                    AS BIGINT) AS skipped_buckets,
               CAST(coalesce(sum(CASE WHEN sz > 8 THEN sz END), 0)
                    AS BIGINT) AS rows_in_skipped_buckets
        FROM sizes
    """.format(
        mins=", ".join(
            f"list_min(list_transform(s, w -> md5('{i}#'||w))) AS m{i}"
            for i in range(8)
        )
    )
    # GA-shaped interval pull-sync: per day, the surviving rows are the
    # report over events that had ARRIVED by that day's last sync clock —
    # now1 for days frozen at run 1 (upper <= now1 - 1d lag), now2 for
    # refreshed/new days. Arrival = ts + md5-derived delay (same formula
    # as the Spark side, both engines' md5/ascii agree).
    out["interval_source_sync"] = """
        WITH src AS (
            SELECT event_type, value, ts,
                   ts + to_hours(
                       (ascii(substr(md5(CAST(event_id AS VARCHAR)), 1, 1)) * 7
                        + ascii(substr(md5(CAST(event_id AS VARCHAR)), 2, 1))) % 72
                   ) AS arrival
            FROM events
        ),
        vis AS (
            SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS report_date,
                   event_type, value
            FROM src
            WHERE arrival < CASE
                WHEN date_trunc('day', ts) + INTERVAL 1 DAY
                     <= TIMESTAMP '2024-01-19 00:00:00'
                THEN TIMESTAMP '2024-01-20 00:00:00'
                ELSE TIMESTAMP '2024-01-31 00:00:00' END
        )
        SELECT report_date, event_type,
               'UTC_DAY_' || strftime(report_date, '%Y-%m-%d') AS _time_chunk,
               count(*) AS sessions,
               CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
                   AS revenue_cents
        FROM vis GROUP BY 1, 2, 3
    """
    # Singer tap replay: the tap's record generator re-derived in pure
    # SQL (40 rids over 17 keys, later emission wins)
    out["singer_tap_sync"] = """
        WITH r AS (SELECT range AS rid FROM range(0, 40)),
        f AS (
            SELECT rid % 17 AS id, 'n' || rid AS name,
                   CAST(rid AS DOUBLE) AS balance,
                   row_number() OVER (PARTITION BY rid % 17
                                      ORDER BY rid DESC) AS rn
            FROM r
        )
        SELECT id, name, balance FROM f WHERE rn = 1
    """
    # MoR-mode sync converges to the identical final state
    out["singer_tap_sync_mor"] = out["singer_tap_sync"]
    # lineage counters vs the data they claim to cover: per 5-way batch
    # split, raw rows / delete envelopes / seq range
    out["stats_rollup"] = f"""
        WITH c AS ({cl}),
        m AS (SELECT CAST(max(seq) // 5 + 1 AS BIGINT) AS per FROM c)
        SELECT CAST(seq // per AS VARCHAR) AS batch_id,
               min(seq) AS seq_min, max(seq) AS seq_max,
               count(*) AS n_keys,
               CAST(sum(CASE WHEN op = 'd' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_deletes
        FROM c, m GROUP BY 1
    """
    return out
