"""Physical-plan assertions: the optimizations the engine's scale story
depends on must actually appear in the executed plans — predicate pushdown
to the parquet scan, column pruning, map-side partial aggregation for the
LWW reduce, broadcast joins for dimension lookups, and whole-stage codegen
over the transform surface."""

from __future__ import annotations

import re

import os

import pytest
from pyspark.sql import functions as F

from jitsu_spark.changelog import changelog_df
from jitsu_spark.operators import flatten, with_context_enrichment


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def spark_jobs(spark, group: str, op) -> int:
    """Number of Spark jobs ``op()`` runs, counted through a job group."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, group)
    try:
        op()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def log_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("plans") / "log")
    changelog_df(spark, 20000, 2000, seed=2).write.parquet(d)
    return d


def test_seq_filter_pushed_to_scan(spark, log_dir):
    """Per-batch seq-range filters must reach the parquet reader so row
    groups outside the range are skipped (the log is seq-ordered)."""
    df = spark.read.parquet(log_dir).filter(
        (F.col("seq") >= 5000) & (F.col("seq") < 10000)
    )
    plan = plan_of(df)
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(seq,5000)" in plan
    assert "LessThan(seq,10000)" in plan


def test_column_pruning_in_stats_pass(spark, log_dir):
    """The merge kernel's stats pass must not read the tokens payload."""
    df = spark.read.parquet(log_dir)
    stats = df.groupBy(
        F.pmod(F.xxhash64("doc_id"), F.lit(8)).alias("b")
    ).agg(F.count(F.lit(1)), F.min("seq"), F.max("seq"))
    plan = plan_of(stats)
    # ReadSchema should carry only the referenced columns
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema and "tokens" not in read_schema[0]
    assert "doc_id" in read_schema[0] and "seq" in read_schema[0]


def test_lww_reduce_is_partial_aggregate(spark, log_dir):
    """The LWW reduce must be a two-phase aggregate with a MAP-SIDE partial
    combine (partial_max_by before the exchange — the skew-defusing
    property), never a window: a window would shuffle every duplicate of a
    hot key to one reducer. Spark picks SortAggregate for struct-valued
    max_by; that's fine — the partial phase is what matters."""
    df = spark.read.parquet(log_dir)
    lww = df.groupBy("doc_id").agg(
        F.max_by(F.struct("tokens", "op"), F.col("seq")).alias("w")
    )
    plan = plan_of(lww)
    # the partial phase is placed before the exchange by construction;
    # its presence is the map-side combine
    assert "partial_max_by" in plan
    assert "Window" not in plan
    tree = plan.split("\n\n")[0]  # the operator tree (details repeat names)
    assert tree.count("Exchange") == 1  # exactly one shuffle


def test_dimension_join_broadcasts(spark):
    """Small dimension lookups (identities, geo-style enrichments) must be
    broadcast — never shuffle the fact side."""
    fact = changelog_df(spark, 5000, 500, seed=3)
    dim = spark.createDataFrame(
        [(f"src{i}", f"name{i}") for i in range(5)], ["source", "src_name"]
    )
    joined = fact.join(F.broadcast(dim), "source", "left")
    plan = plan_of(joined)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_transform_surface_stays_in_codegen(spark):
    """Flatten + enrichment compile to narrow projections inside one
    whole-stage-codegen span — no Python, no shuffle."""
    from pyspark.sql import types as T

    df = spark.createDataFrame(
        [(("1",), 5, None)],
        T.StructType(
            [
                T.StructField(
                    "eventn_ctx",
                    T.StructType([T.StructField("event_id", T.StringType())]),
                ),
                T.StructField("key2", T.IntegerType()),
                T.StructField("src", T.StringType()),
            ]
        ),
    )
    out = with_context_enrichment(flatten(df), api_key="t", src="js")
    plan = plan_of(out)
    assert "codegen id" in plan  # inside a whole-stage-codegen span
    assert "Exchange" not in plan  # narrow: zero shuffles
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cow_read_has_no_reconcile_aggregate(spark, tmpdir_path):
    """CoW tables must keep the plain-scan read path (the MoR reconcile
    aggregate only appears when delta files exist)."""
    from jitsu_spark.lake import LakeTable
    from jitsu_spark.lake.merge import merge_batch
    from tests.test_merge import TARGET_SCHEMA, batch, ev

    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "t"), TARGET_SCHEMA, "doc_id", n_buckets=4
    )
    merge_batch(t, batch(spark, [ev(1, "i", "a", [1])]), batch_id=0)
    plan = plan_of(t.read())
    assert "Aggregate" not in plan


def test_mor_read_delta_aware_bucket_pruning(spark, tmpdir_path):
    """Only delta-bearing buckets go through the reconcile aggregate; clean
    buckets union in as plain scans. At 100 TB with one hot delta'd bucket
    the read shuffles that bucket, not the table."""
    from jitsu_spark.lake import LakeTable
    from jitsu_spark.lake.merge import merge_batch
    from tests.test_merge import TARGET_SCHEMA, batch, ev

    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "t"), TARGET_SCHEMA, "doc_id",
        n_buckets=4, properties={"write.mode": "mor"},
    )
    # seed every bucket with base data, fold deltas to base
    merge_batch(
        t, batch(spark, [ev(i, "i", f"doc{i}", [i]) for i in range(40)]), batch_id=0
    )
    t.compact(max_files_per_bucket=0)
    snap = t.snapshot()
    assert all(
        e.get("kind", "base") == "base" for es in snap.files.values() for e in es
    )
    # dirty exactly one bucket with a single-key update
    merge_batch(t, batch(spark, [ev(100, "u", "doc0", [99])]), batch_id=1)
    dirty = [
        b for b, es in t.snapshot().files.items()
        if any(e.get("kind", "base") == "delta" for e in es)
    ]
    assert len(dirty) == 1
    df = t.read()
    plan = plan_of(df)
    tree = plan.split("\n\n")[0]
    assert "Union" in tree
    # a clean-bucket plain scan sits ABOVE the reconcile aggregate in the
    # union (pre-fix, the aggregate topped the plan and consumed every scan)
    first_scan = tree.find("Scan parquet")
    agg_positions = [
        p for p in (tree.find("HashAggregate"), tree.find("SortAggregate"))
        if p >= 0
    ]
    assert agg_positions, tree
    assert 0 <= first_scan < min(agg_positions), tree
    rows = {r["doc_id"]: r["tokens"] for r in df.collect()}
    assert len(rows) == 40 and rows["doc0"] == [99]


def test_mor_read_reconciles_and_prunes(spark, tmpdir_path):
    from jitsu_spark.lake import LakeTable
    from jitsu_spark.lake.merge import merge_batch
    from tests.test_merge import TARGET_SCHEMA, batch, ev

    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "t"), TARGET_SCHEMA, "doc_id",
        n_buckets=4, properties={"write.mode": "mor"},
    )
    merge_batch(t, batch(spark, [ev(1, "i", "a", [1])]), batch_id=0)
    merge_batch(t, batch(spark, [ev(2, "u", "a", [2])]), batch_id=1)
    plan = plan_of(t.read())
    assert "Aggregate" in plan  # reconcile present
    rows = t.read().collect()
    assert len(rows) == 1 and rows[0]["tokens"] == [2]


def _scans(df) -> int:
    return plan_of(df).split("\n\n")[0].count("Scan parquet")


def _reconcile_scans(df) -> int:
    """Parquet scans under the first (reconcile) aggregate of ``df``'s
    operator tree."""
    tree = plan_of(df).split("\n\n")[0]
    aggs = [p for p in (tree.find("HashAggregate"), tree.find("SortAggregate"))
            if p >= 0]
    assert aggs, tree
    return tree[min(aggs):].count("Scan parquet")


def test_mor_reconcile_reads_one_scan_per_schema_id(spark, tmpdir_path):
    """A dirty bucket's base file and every delta under one schema id are
    read by ONE parquet scan, however many commits wrote them; a scan per
    commit made the read plan, schedule and shuffle grow with the delta
    depth. A column added by a merge brings exactly one more scan.
    changes() follows the same rule."""
    from jitsu_spark.lake import LakeTable
    from jitsu_spark.lake.merge import merge_batch
    from tests.test_merge import TARGET_SCHEMA, batch, ev

    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "t"), TARGET_SCHEMA, "doc_id",
        n_buckets=4, properties={"write.mode": "mor"},
    )
    merge_batch(
        t, batch(spark, [ev(i, "i", f"doc{i}", [i]) for i in range(20)]),
        batch_id=0,
    )
    t.compact(max_files_per_bucket=0)
    v0 = t.snapshot().version
    for b in range(1, 7):
        merge_batch(
            t, batch(spark, [ev(100 * b + i, "u", f"doc{i}", [b]) for i in range(20)]),
            batch_id=b,
        )
    assert _reconcile_scans(t.read()) == 1
    assert _scans(t.changes(since_version=v0)) == 1
    merge_batch(
        t,
        batch(spark, [ev(900, "u", "doc0", [7])]).withColumn("lang", F.lit("en")),
        batch_id=7,
    )
    assert len(t.snapshot().schemas) == 2
    df = t.read()
    assert _reconcile_scans(df) == 2
    assert _scans(t.changes(since_version=v0)) == 2
    rows = {r["doc_id"]: (r["tokens"], r["lang"]) for r in df.collect()}
    assert rows["doc0"] == ([7], "en") and rows["doc1"] == ([6], None)


def test_geo_lookup_broadcasts_and_ua_parse_stays_codegen(spark):
    """The geo dim must broadcast (fact side never shuffles) and the UA
    parse must compile to pure expressions — no Python eval, no shuffle."""
    from jitsu_spark.operators import with_geo_lookup, with_parsed_ua

    fact = changelog_df(spark, 5000, 500, seed=4).withColumn(
        "source_ip", F.lit("10.1.2.3")
    ).withColumn("user_agent", F.lit("curl/8.4.0"))
    dim = spark.createDataFrame(
        [(167772160, 167837695, "US", "nyc")],
        ["net_start", "net_end", "country", "city"],
    )
    geo = with_geo_lookup(fact, dim)
    plan = plan_of(geo)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan and "Exchange hashpartitioning" not in plan

    ua = with_parsed_ua(fact)
    uplan = plan_of(ua)
    assert "codegen id" in uplan
    assert "Exchange" not in uplan
    assert "BatchEvalPython" not in uplan and "ArrowEvalPython" not in uplan


def test_token_multiplex_broadcasts_dim_never_shuffles_events(spark):
    """F4 fan-out must be a broadcast join of the tiny (token, destination)
    dim — the event stream side must not hash-shuffle."""
    from pyspark.sql import functions as F

    from jitsu_spark.streaming.multiroute import multiplex_by_token

    events = spark.range(10_000).select(
        F.col("id").alias("event_id"),
        F.concat(F.lit("tok"), (F.col("id") % 3).cast("string")).alias("api_key"),
    )
    routed = multiplex_by_token(
        events, {"tok0": ["d_a"], "tok1": ["d_a", "d_b"]}
    )
    plan = plan_of(routed)
    tree = plan.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree, tree
    assert "SortMergeJoin" not in tree, tree
    assert "Exchange hashpartitioning" not in tree, tree


def test_rebucket_rewrite_plan_has_no_shuffle(spark, tmpdir_path):
    """The resize rewrite must be a narrow per-task split: modulo-doubling
    sends old bucket b's rows only to {b, b+n, ...}, so the plan carries
    no Exchange (a global repartition at 100 TB would be the bottleneck)."""
    from pyspark.sql import functions as F

    from jitsu_spark.lake import LakeTable
    from jitsu_spark.lake.merge import merge_batch
    from jitsu_spark.lake.table import BUCKET_COL
    from tests.test_merge import TARGET_SCHEMA, batch, ev

    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "t"), TARGET_SCHEMA, "doc_id",
        n_buckets=4,
    )
    merge_batch(
        t, batch(spark, [ev(i, "i", f"doc{i}", [i]) for i in range(20)]),
        batch_id=0,
    )
    snap = t.snapshot()
    df = t.read(snap=snap).withColumn(
        BUCKET_COL,
        F.pmod(F.xxhash64(F.col("doc_id")), F.lit(snap.n_buckets * 2)).cast("int"),
    )
    plan = plan_of(df).split("\n\n")[0]
    assert "Exchange" not in plan, plan


@pytest.fixture()
def lake_writes(monkeypatch):
    """Every lake write of the test as (widths of its hash exchanges on
    the bucket column, {bucket: files written})."""
    import re

    from jitsu_spark.lake.table import BUCKET_COL, LakeTable

    seen = []
    write = LakeTable._write_files

    def spy(self, df):
        widths = re.findall(
            rf"hashpartitioning\({BUCKET_COL}#\d+, (\d+)\)", plan_of(df)
        )
        files = write(self, df)
        seen.append(([int(w) for w in widths], files))
        return files

    monkeypatch.setattr(LakeTable, "_write_files", spy)
    return seen


def test_bucket_writes_use_one_task_per_core(spark, tmpdir_path, lake_writes):
    """A 16-bucket table under local[4]: the CoW merge, MoR merge,
    compaction and overwrite_where each shuffle by bucket into 4 tasks,
    not 16, and still write exactly one file per written bucket per
    commit (a bucket stays whole inside one task, whose write is sorted
    by bucket)."""
    from jitsu_spark.lake import LakeTable
    from jitsu_spark.lake.maintenance import overwrite_where
    from jitsu_spark.lake.merge import merge_batch
    from tests.test_merge import TARGET_SCHEMA, batch, ev

    assert spark.sparkContext.defaultParallelism == 4
    rows = [ev(i, "i", f"doc{i}", [i]) for i in range(200)]

    def table(name, n_buckets, mode="cow"):
        return LakeTable.create(
            spark, os.path.join(tmpdir_path, name), TARGET_SCHEMA, "doc_id",
            n_buckets=n_buckets, properties={"write.mode": mode},
        )

    cow, mor = table("cow", 16), table("mor", 16, "mor")
    merge_batch(cow, batch(spark, rows), batch_id=0)
    merge_batch(mor, batch(spark, rows), batch_id=0)
    updates = [ev(1000 + i, "u", f"doc{i}", [i, i]) for i in range(200)]
    merge_batch(mor, batch(spark, updates), batch_id=1)
    mor.compact(max_files_per_bucket=0)
    overwrite_where(
        cow, batch(spark, updates).drop("seq", "op"), F.col("n_tok") > 0,
        chunk_id="all",
    )
    assert len(lake_writes) == 5
    for widths, files in lake_writes:
        assert widths == [4], widths
        assert len(files) == 16 and all(len(fs) == 1 for fs in files.values())
    assert all(len(es) == 1 for es in mor.snapshot().files.values())
    assert all(len(es) == 1 for es in cow.snapshot().files.values())

    # at most as many tasks as buckets: the 4-bucket tail shape keeps its
    # plan, and a 2-bucket table writes in 2 tasks
    lake_writes.clear()
    for n in (4, 2):
        merge_batch(table(f"mor{n}", n, "mor"), batch(spark, rows), batch_id=0)
    assert [w for w, _ in lake_writes] == [[4], [2]]
    assert [len(f) for _, f in lake_writes] == [4, 2]


def test_repetition_signals_two_exchanges_partial_agg(spark):
    """The repetition pipeline is exactly two shuffles — (doc, token)
    counts then per-doc re-aggregate — and the first aggregate must
    partial-combine map-side (hot tokens collapse before the exchange)."""
    from jitsu_spark.text.repetition import repetition_signals

    df = spark.createDataFrame(
        [(i, "a b c a b a") for i in range(10)], "doc_id long, text string"
    )
    import re

    plan = plan_of(repetition_signals(df))
    # formatted plans list each node once in the tree and once in the
    # detail section — count the detail headers
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 2
    assert "partial_count" in plan  # map-side combine before shuffle 1


def test_vocab_encode_map_path_is_narrow(spark):
    """The default (bounded-V) encode is a map-literal narrow projection:
    zero exchanges, no join, no Python — the shuffle-free plan that fixed
    the 0.59 scaling efficiency of the join path."""
    from jitsu_spark.text.vocab import build_vocab, encode_documents

    df = spark.createDataFrame(
        [(i, "a b c d e") for i in range(10)], "doc_id long, text string"
    )
    vocab = build_vocab(df, 4)
    plan = plan_of(encode_documents(df, vocab))
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_vocab_encode_udf_path_is_narrow_arrow(spark, monkeypatch):
    """Above MAP_LITERAL_MAX the encode (broadcast-dict Arrow UDF) keeps
    the map path's narrow shape at any V: zero exchanges, no join,
    exactly an Arrow-vectorized eval — no doc_id reassembly shuffle."""
    from jitsu_spark.text import vocab as vocab_mod
    from jitsu_spark.text.vocab import build_vocab, encode_documents

    monkeypatch.setattr(vocab_mod, "MAP_LITERAL_MAX", 2)
    df = spark.createDataFrame(
        [(i, "a b c d e") for i in range(10)], "doc_id long, text string"
    )
    vocab = build_vocab(df, 4)
    plan = plan_of(encode_documents(df, vocab))
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan  # never row-at-a-time Python


def test_vocab_encode_evaluates_the_vocab_once(spark, monkeypatch):
    """The encode collects a lazy ``build_vocab`` frame once and picks
    its kernel from those rows: building the encode runs exactly the
    Spark jobs of one vocab evaluation, on either side of the map cap."""
    from jitsu_spark.text import vocab as vocab_mod
    from jitsu_spark.text.vocab import build_vocab, encode_documents

    df = spark.createDataFrame(
        [(i, f"w{i % 7} w{i % 5} w{i % 3}") for i in range(50)],
        "doc_id long, text string",
    )
    one_eval = spark_jobs(
        spark, "vocab-once-build", lambda: build_vocab(df, 16).collect()
    )
    monkeypatch.setattr(vocab_mod, "MAP_LITERAL_MAX", 4)
    udf_setup = spark_jobs(
        spark, "vocab-once-udf", lambda: encode_documents(df, build_vocab(df, 16))
    )
    monkeypatch.setattr(vocab_mod, "MAP_LITERAL_MAX", 4096)
    map_setup = spark_jobs(
        spark, "vocab-once-map", lambda: encode_documents(df, build_vocab(df, 16))
    )
    assert (one_eval, udf_setup, map_setup) == (2, 2, 2)


def test_pii_scrub_is_shuffle_free_codegen(spark):
    """The scrub is a narrow projection: zero exchanges, whole regex fold
    inside one WholeStageCodegen span, no Python in the data path."""
    from jitsu_spark.text.pii import scrub_pii

    df = spark.createDataFrame(
        [(1, "a@b.co 1.2.3.4")], "doc_id long, text string"
    )
    plan = plan_of(scrub_pii(df))
    assert "Exchange" not in plan
    assert "codegen id" in plan  # whole-stage codegen spans the fold
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_quality_topk_take_ordered_not_global_sort(spark):
    """Corpus head selection compiles to TakeOrderedAndProject — a
    global Sort here would serialize the corpus into one partition."""
    from jitsu_spark.text.corpus import select_top_k

    df = spark.createDataFrame(
        [(i, "aa bb cc") for i in range(50)], "doc_id long, text string"
    )
    plan = plan_of(select_top_k(df, 5))
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan.replace("TakeOrderedAndProject", "")


def test_passage_dedup_no_window_partial_min(spark):
    """First-occurrence selection must be the partial-combinable
    min(struct) aggregate, never a row_number window (a boilerplate
    passage shared by 10^7 docs would serialize into one reducer)."""
    from jitsu_spark.text.passages import dedup_passages

    df = spark.createDataFrame(
        [(1, "a b c d e f g h i j k l")], "doc_id long, text string"
    )
    plan = plan_of(dedup_passages(df, window=10))
    assert "Window" not in plan
    assert "partial_min" in plan


def test_cluster_assignment_one_arrow_kernel_no_window(spark):
    """Coarse-quantizer cell assignment must be ONE Arrow UDF node (the
    matmul kernel against the collected centroid set) — never a
    row_number window over the N*C sim pairs (that shape shuffled and
    sorted N*C rows; at centroids=N/25 it was the measured O(N^2)
    scale-killer of BENCH_r05 cluster_balanced_10x = 262 s), and no
    nested-loop join of vectors against centroids."""
    from jitsu_spark.similarity.curation import assign_clusters

    df = spark.createDataFrame(
        [(i, [float(i), 1.0, 2.0]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    plan = plan_of(assign_clusters(df, "vec_id", n_centroids=4))
    assert "Window" not in plan
    # the formatted plan names each node once in its details list
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1
    assert "BroadcastNestedLoopJoin" not in plan


def test_commit_kinds_spark_job_counts(spark, tmpdir_path):
    """Spark jobs per commit kind on small fixed tables, pinned at the
    counts measured before the write ops shared one commit path
    (metadata.next_snapshot): snapshot bookkeeping is driver-side and
    must add no job. The MoR merge is ONE action, which AQE runs as 3
    jobs (one per query stage); manifest compaction runs none. Every
    lineage entry of every commit kind carries its version."""
    from jitsu_spark.lake import LakeTable
    from jitsu_spark.lake.maintenance import compact_manifest, overwrite_where
    from jitsu_spark.lake.merge import append_batch, merge_batch
    from tests.test_merge import TARGET_SCHEMA, batch, ev

    def jobs(group, op):
        return spark_jobs(spark, group, op)

    def table(name, mode="cow"):
        return LakeTable.create(
            spark, os.path.join(tmpdir_path, name), TARGET_SCHEMA, "doc_id",
            n_buckets=4, properties={"write.mode": mode},
        )

    rows = batch(spark, [ev(i, "i", f"doc{i}", [i]) for i in range(40)])
    upd = batch(spark, [ev(100 + i, "u", f"doc{i}", [i, i]) for i in range(0, 40, 3)])
    cow, mor, app = table("cow"), table("mor", "mor"), table("app")
    merge_batch(cow, rows, batch_id=0)
    merge_batch(mor, rows, batch_id=0)
    tag = os.path.basename(tmpdir_path)
    got = {
        "cow_merge": jobs(f"{tag}-cow", lambda: merge_batch(cow, upd, batch_id=1)),
        "mor_merge": jobs(f"{tag}-mor", lambda: merge_batch(mor, upd, batch_id=1)),
        "append": jobs(
            f"{tag}-app", lambda: append_batch(app, rows.drop("seq", "op"), batch_id=0)
        ),
        "overwrite_where": jobs(f"{tag}-ow", lambda: overwrite_where(
            cow, upd.drop("seq", "op"), F.col("n_tok") == 2, chunk_id="c0",
        )),
        "compact": jobs(
            f"{tag}-compact", lambda: mor.compact(max_files_per_bucket=0)
        ),
        "rebucket": jobs(f"{tag}-rebucket", lambda: cow.rebucket(factor=2)),
        "compact_manifest": jobs(
            f"{tag}-cm", lambda: compact_manifest(mor, keep_recent_batches=0)
        ),
    }
    assert got == {
        "cow_merge": 7, "mor_merge": 3, "append": 1, "overwrite_where": 2,
        "compact": 3, "rebucket": 1, "compact_manifest": 0,
    }, got

    kinds = set()
    for t in (cow, mor, app):
        snap = t.snapshot()
        assert [e["version"] for e in snap.lineage] == list(
            range(1, snap.version + 1)
        )
        kinds |= {e["kind"] for e in snap.lineage}
    assert kinds == {
        "merge", "append", "overwrite_where", "compact", "rebucket",
        "manifest_compact",
    }


def test_maintain_on_healthy_table_runs_no_job(spark, tmpdir_path):
    """In-stream maintenance decides from the snapshot descriptor alone:
    on a table with no bucket over the threshold, a short manifest and
    few descriptors it starts no Spark job and publishes no snapshot. A
    bucket over the threshold costs exactly the compaction's 3 jobs."""
    from jitsu_spark.lake import LakeTable
    from jitsu_spark.lake.maintenance import maintain
    from jitsu_spark.lake.merge import merge_batch
    from tests.test_merge import TARGET_SCHEMA, batch, ev

    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "mor"), TARGET_SCHEMA, "doc_id",
        n_buckets=4, properties={"write.mode": "mor"},
    )
    for b in range(2):
        merge_batch(t, batch(spark, [
            ev(10 * b + i, "u", f"doc{i}", [b]) for i in range(8)
        ]), batch_id=b)
    v = t.snapshot().version
    tag = os.path.basename(tmpdir_path)
    assert spark_jobs(
        spark, f"{tag}-healthy", lambda: maintain(t, 2, keep_snapshots=10)
    ) == 0
    assert t.snapshot().version == v

    assert spark_jobs(
        spark, f"{tag}-over", lambda: maintain(t, 1, keep_snapshots=10)
    ) == 3
    assert [e["kind"] for e in t.history()][-1] == "compact"
    assert t.snapshot().version == v + 1
