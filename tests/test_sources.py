"""Source readers: NDJSON with dead-letter capture, fallback-envelope
replay, typed CSV with header normalization (S4-S6 / W11)."""

from __future__ import annotations

import json
import os

from pyspark.sql import types as T

from jitsu_spark.sources import (
    parse_fallback_envelope,
    read_csv_typed,
    read_ndjson,
    split_malformed,
)

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.StringType()),
        T.StructField("n", T.LongType()),
    ]
)


def test_ndjson_dead_letter_split(spark, tmpdir_path):
    p = os.path.join(tmpdir_path, "in.json")
    with open(p, "w") as f:
        f.write('{"event_id": "a", "n": 1}\n')
        f.write("{this is not json\n")
        f.write('{"event_id": "b", "n": 2}\n')
    good, bad = read_ndjson(spark, p, EVENT_SCHEMA)
    assert {r["event_id"] for r in good.collect()} == {"a", "b"}
    bads = bad.collect()
    assert len(bads) == 1
    assert "not json" in bads[0]["raw"] and bads[0]["error"] == "malformed json"


def test_fallback_envelope_roundtrip(spark, tmpdir_path):
    import json

    p = os.path.join(tmpdir_path, "fb.json")
    with open(p, "w") as f:
        f.write(json.dumps({"event": {"event_id": "x", "n": 7}, "error": "boom"}) + "\n")
    raw = spark.read.text(p).withColumnRenamed("value", "raw")
    out = parse_fallback_envelope(raw, EVENT_SCHEMA)
    rows = out.collect()
    assert rows[0]["event_id"] == "x" and rows[0]["n"] == 7


def test_csv_typed_normalized_headers(spark, tmpdir_path):
    p = os.path.join(tmpdir_path, "in.csv")
    with open(p, "w") as f:
        f.write("User ID,Amount (USD),When\n")
        f.write("u1,12.5,2024-03-05T10:00:00Z\n")
    df = read_csv_typed(
        spark, p,
        {"user_id": "string", "amount__usd_": "double", "when": "timestamp"},
    )
    assert set(df.columns) == {"user_id", "amount__usd_", "when"}
    r = df.collect()[0]
    assert r["amount__usd_"] == 12.5
    assert r["when"].year == 2024


def test_split_malformed_column(spark):
    df = spark.createDataFrame(
        [("ok", '{"event_id":"a","n":1}'), ("bad", "{nope"), ("nul", None)],
        ["tag", "payload"],
    )
    good, bad = split_malformed(df, "payload", EVENT_SCHEMA)
    assert {r["tag"] for r in good.collect()} == {"ok", "nul"}
    assert bad.collect()[0]["raw"] == "{nope"


# ---------------------------------------------------------------------------
# S8: interval pull-sync
# ---------------------------------------------------------------------------

def test_interval_sync_signature_gated(spark, tmpdir_path):
    """Initial sync loads every interval; an unchanged re-run skips all;
    a single-interval upstream change re-syncs ONLY that interval and the
    final state reflects it (reference driver.go/time_interval.go
    semantics over overwrite_where)."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from jitsu_spark.lake import LakeTable
    from jitsu_spark.sources.interval_sync import (
        IntervalDriver,
        IntervalSyncJob,
        TimeInterval,
    )

    schema = T.StructType(
        [
            T.StructField("rid", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("amount", T.DoubleType()),
        ]
    )

    class FakeAPI(IntervalDriver):
        """Two monthly intervals; `bump` simulates an upstream edit to
        January (new rows + new watermark)."""

        def __init__(self):
            self.bump = 0

        def available_intervals(self):
            return [
                TimeInterval("2024-01", "2024-01-01 00:00:00", "2024-02-01 00:00:00"),
                TimeInterval("2024-02", "2024-02-01 00:00:00", "2024-03-01 00:00:00"),
            ]

        def signature(self, itv):
            return f"sig-{self.bump}" if itv.id == "2024-01" else "sig-0"

        def read_interval(self, spark_, itv):
            month = itv.id
            amount = 100.0 + self.bump if month == "2024-01" else 200.0
            rows = [
                (f"{month}-r{i}", f"{month}-15 00:00:0{i}", amount)
                for i in range(3)
            ]
            return spark_.createDataFrame(rows, ["rid", "ts_s", "amount"]).select(
                "rid", F.col("ts_s").cast("timestamp").alias("ts"), "amount"
            )

    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "tbl"), schema, "rid", n_buckets=4
    )
    api = FakeAPI()
    job = IntervalSyncJob(t, api, "ts", os.path.join(tmpdir_path, "state.json"))

    r1 = job.run_once(spark)
    assert r1.synced == ["2024-01", "2024-02"] and r1.skipped == []
    assert t.read().count() == 6

    # unchanged upstream: everything skipped, table untouched
    v = t.snapshot().version
    r2 = job.run_once(spark)
    assert r2.synced == [] and set(r2.skipped) == {"2024-01", "2024-02"}
    assert t.snapshot().version == v

    # upstream edit to January only
    api.bump = 1
    r3 = job.run_once(spark)
    assert r3.synced == ["2024-01"] and r3.skipped == ["2024-02"]
    rows = {r["rid"]: r["amount"] for r in t.read().collect()}
    assert len(rows) == 6
    assert all(v == 101.0 for k, v in rows.items() if k.startswith("2024-01"))
    assert all(v == 200.0 for k, v in rows.items() if k.startswith("2024-02"))

    # lost sidecar state + unchanged upstream: the engine's commit
    # manifest still makes the re-apply idempotent (same chunk_id:sig)
    os.remove(os.path.join(tmpdir_path, "state.json"))
    v = t.snapshot().version
    r4 = job.run_once(spark)
    assert set(r4.synced) == {"2024-01", "2024-02"}  # state says resync...
    assert t.snapshot().version == v  # ...but the manifest skipped both


def _ga_fixture(spark, tmpdir_path):
    """4 days of events, one LATE arrival per day 2 (arrives day 5)."""
    import os

    from pyspark.sql import functions as F

    rows = [
        # (id, event ts, arrival ts, type, value)
        ("e1", "2024-01-01 10:00:00", "2024-01-01 12:00:00", "click", 1.0),
        ("e2", "2024-01-02 09:00:00", "2024-01-02 10:00:00", "click", 2.0),
        ("e3", "2024-01-02 23:00:00", "2024-01-05 01:00:00", "click", 4.0),  # late
        ("e4", "2024-01-03 08:00:00", "2024-01-05 02:00:00", "buy", 8.0),  # late
        ("e5", "2024-01-04 07:00:00", "2024-01-04 08:00:00", "buy", 16.0),
    ]
    src = os.path.join(tmpdir_path, "src")
    (
        spark.createDataFrame(rows, ["event_id", "ts_s", "arr_s", "event_type", "value"])
        .select(
            "event_id",
            F.col("ts_s").cast("timestamp").alias("ts"),
            F.col("arr_s").cast("timestamp").alias("arrival"),
            "event_type",
            "value",
        )
        .write.parquet(src)
    )
    return src


def test_ga_shaped_driver_two_run_sync(spark, tmpdir_path):
    """Concrete GA-shaped driver end-to-end: day intervals, trailing-lag
    signatures, NEW/REFRESH/UPTODATE decisions, and the lag trade-off —
    an arrival later than the lag window is missed forever on a frozen
    day but picked up on a refreshed one."""
    import os

    from pyspark.sql import types as T

    from jitsu_spark.lake import LakeTable
    from jitsu_spark.sources.ga_driver import GaShapedReportDriver
    from jitsu_spark.sources.interval_sync import IntervalSyncJob

    src = _ga_fixture(spark, tmpdir_path)
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
    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "tbl"), schema, "report_id",
        n_buckets=4, properties={"write.stats.column": "report_date"},
    )
    drv = GaShapedReportDriver(
        source_path=src, ts_col="ts", arrival_col="arrival",
        dimensions=["event_type"],
        metrics={"sessions": ("count", "*"), "revenue": ("sum_money", "value")},
        now="2024-01-04 00:00:00", days_back=4,
    )
    job = IntervalSyncJob(
        t, drv, "report_date", os.path.join(tmpdir_path, "state.json"),
        job_id="ga",
    )

    # run 1 at now=01-04: lag clock = 01-03; every day is NEW
    r1 = job.run_once(spark)
    assert all(s == "NEW" for s in r1.statuses.values())
    assert len(r1.synced) == 4
    state1 = {
        (r["_time_chunk"], r["event_type"]): (r["sessions"], float(r["revenue"]))
        for r in t.read().collect()
    }
    # e3 (day 2, arrives 01-05) and e4 (day 3, arrives 01-05) not visible
    assert state1[("UTC_DAY_2024-01-02", "click")] == (1, 2.0)
    assert ("UTC_DAY_2024-01-03", "buy") not in state1

    # run 2 at now=01-06: lag clock = 01-05. Days 01-01/01-02 froze at
    # run 1 (upper <= 01-03) -> UPTODATE, e3 is missed FOREVER; days
    # 01-03/01-04 refresh and pick up e4; 01-05/01-06 are NEW (empty).
    drv.now, drv.days_back = "2024-01-06 00:00:00", 6
    r2 = job.run_once(spark)
    assert r2.statuses["UTC_DAY_2024-01-01"] == "UPTODATE"
    assert r2.statuses["UTC_DAY_2024-01-02"] == "UPTODATE"
    assert r2.statuses["UTC_DAY_2024-01-03"] == "REFRESH"
    assert r2.statuses["UTC_DAY_2024-01-04"] == "REFRESH"
    assert r2.statuses["UTC_DAY_2024-01-05"] == "NEW"
    assert r2.statuses["UTC_DAY_2024-01-06"] == "NEW"
    state2 = {
        (r["_time_chunk"], r["event_type"]): (r["sessions"], float(r["revenue"]))
        for r in t.read().collect()
    }
    assert state2[("UTC_DAY_2024-01-02", "click")] == (1, 2.0)  # e3 lost (lag)
    assert state2[("UTC_DAY_2024-01-03", "buy")] == (1, 8.0)  # e4 recovered
    assert state2[("UTC_DAY_2024-01-04", "buy")] == (1, 16.0)


def test_ga_shaped_driver_crash_resume(spark, tmpdir_path):
    """State is saved per interval: a crash mid-run re-reads only the
    intervals that had not yet committed (same-now signatures of synced
    intervals are unchanged -> UPTODATE)."""
    import os

    from pyspark.sql import types as T

    from jitsu_spark.lake import LakeTable
    from jitsu_spark.sources.ga_driver import GaShapedReportDriver
    from jitsu_spark.sources.interval_sync import IntervalSyncJob

    src = _ga_fixture(spark, tmpdir_path)
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
    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "tbl"), schema, "report_id", n_buckets=4
    )

    class CrashyDriver(GaShapedReportDriver):
        crash_on: str | None = None

        def read_interval(self, spark_, itv):
            if itv.id == self.crash_on:
                raise RuntimeError("simulated API failure")
            return super().read_interval(spark_, itv)

    drv = CrashyDriver(
        source_path=src, ts_col="ts", arrival_col="arrival",
        dimensions=["event_type"],
        metrics={"sessions": ("count", "*"), "revenue": ("sum_money", "value")},
        now="2024-01-04 00:00:00", days_back=4,
    )
    job = IntervalSyncJob(
        t, drv, "report_date", os.path.join(tmpdir_path, "state.json"),
        job_id="ga",
    )
    # newest-first enumeration: 01-04, 01-03 sync, then 01-02 crashes
    drv.crash_on = "UTC_DAY_2024-01-02"
    try:
        job.run_once(spark)
        raise AssertionError("expected simulated crash")
    except RuntimeError:
        pass
    drv.crash_on = None
    drv.read_log.clear()
    r = job.run_once(spark)
    # only the unfinished intervals are re-read; no duplicate rows
    assert set(drv.read_log) == {"UTC_DAY_2024-01-02", "UTC_DAY_2024-01-01"}
    assert r.statuses["UTC_DAY_2024-01-04"] == "UPTODATE"
    assert r.statuses["UTC_DAY_2024-01-03"] == "UPTODATE"
    rows = t.read().collect()
    assert len(rows) == len({r["report_id"] for r in rows})
    counts = {
        (r["_time_chunk"], r["event_type"]): r["sessions"] for r in rows
    }
    assert counts[("UTC_DAY_2024-01-01", "click")] == 1
    assert counts[("UTC_DAY_2024-01-02", "click")] == 1


# ---------------------------------------------------------------------------
# S9: Singer tap protocol
# ---------------------------------------------------------------------------

def test_interval_driver_paginated_reads(spark, tmpdir_path):
    """Paginated report reads (google_analytics.go:124 GetObjectsFor
    loop): with page_size set, read_interval_pages yields ceil(n/size)
    frames whose union equals the single-shot report; the sync job
    unions them into ONE chunk commit, so the synced table state is
    identical to unpaginated sync."""
    import datetime as dt
    import os

    from pyspark.sql import types as T

    from jitsu_spark.lake import LakeTable
    from jitsu_spark.sources.ga_driver import GaShapedReportDriver
    from jitsu_spark.sources.interval_sync import IntervalSyncJob

    src = os.path.join(tmpdir_path, "page_src")
    spark.createDataFrame(
        [(f"t{i % 5}", float(i), dt.datetime(2024, 1, 1, i)) for i in range(20)],
        "event_type string, value double, ts timestamp",
    ).write.parquet(src)

    def make(page_size):
        return GaShapedReportDriver(
            source_path=src, ts_col="ts", dimensions=["event_type"],
            metrics={"sessions": ("count", "*"),
                     "revenue": ("sum_money", "value")},
            now="2024-01-03 00:00:00", days_back=3, page_size=page_size,
        )

    drv = make(2)
    itv = [
        i for i in drv.available_intervals() if i.id == "UTC_DAY_2024-01-01"
    ][0]
    pages = list(drv.read_interval_pages(spark, itv))
    assert len(pages) == 3  # 5 dimension rows / page_size 2
    assert sum(p.count() for p in pages) == 5
    single = {
        r["report_id"] for r in make(None).read_interval(spark, itv).collect()
    }
    paged = {r["report_id"] for p in pages for r in p.collect()}
    assert paged == single

    schema = T.StructType([
        T.StructField("report_id", T.StringType()),
        T.StructField("report_date", T.TimestampType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("sessions", T.LongType()),
        T.StructField("revenue", T.DecimalType(28, 2)),
        T.StructField("_time_chunk", T.StringType()),
        T.StructField("_interval_start", T.TimestampType()),
        T.StructField("_interval_end", T.TimestampType()),
    ])

    def sync(name, page_size):
        t = LakeTable.create(
            spark, os.path.join(tmpdir_path, name), schema, "report_id",
            n_buckets=4, properties={"write.stats.column": "report_date"},
        )
        IntervalSyncJob(
            t, make(page_size), "report_date",
            os.path.join(tmpdir_path, f"{name}_state.json"), job_id=name,
        ).run_once(spark)
        return {
            (r["_time_chunk"], r["event_type"]):
                (r["sessions"], float(r["revenue"]))
            for r in t.read().collect()
        }

    assert sync("paged", 2) == sync("oneshot", None)


def test_interval_sync_into_mor_table(spark, tmpdir_path):
    """IntervalSyncJob targeting a write.mode=mor destination: the table
    already carries MERGE deltas (stale report rows landed via the merge
    path); the interval overwrite detects the deltas, reconciles through
    the MoR read, and replaces the interval's rows in one atomic commit —
    rows outside the interval survive, stale in-interval rows are gone,
    and the post-overwrite snapshot carries no delta entries for the
    rewritten data (the overwrite folds them)."""
    import datetime as dt
    import os

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from jitsu_spark.lake import LakeTable
    from jitsu_spark.lake.merge import merge_batch
    from jitsu_spark.sources.ga_driver import GaShapedReportDriver
    from jitsu_spark.sources.interval_sync import IntervalSyncJob

    src = os.path.join(tmpdir_path, "mor_src")
    spark.createDataFrame(
        [("click", 3.0, dt.datetime(2024, 1, 2, 10)),
         ("view", 1.0, dt.datetime(2024, 1, 2, 11))],
        "event_type string, value double, ts timestamp",
    ).write.parquet(src)

    schema = T.StructType([
        T.StructField("report_id", T.StringType()),
        T.StructField("report_date", T.TimestampType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("sessions", T.LongType()),
        T.StructField("revenue", T.DecimalType(28, 2)),
        T.StructField("_time_chunk", T.StringType()),
        T.StructField("_interval_start", T.TimestampType()),
        T.StructField("_interval_end", T.TimestampType()),
    ])
    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "tbl"), schema, "report_id",
        n_buckets=4,
        properties={"write.mode": "mor", "write.stats.column": "report_date"},
    )
    # seed via the MERGE path: a stale in-interval row + a row outside
    # the sync window; the second merge leaves genuine delta files
    env = [T.StructField("seq", T.LongType()), T.StructField("op", T.StringType())]
    stale = spark.createDataFrame(
        [(1, "i", "STALE1", dt.datetime(2024, 1, 2), "click", 99,
          None, "UTC_DAY_2024-01-02", dt.datetime(2024, 1, 2),
          dt.datetime(2024, 1, 3))],
        T.StructType(env + list(schema.fields)),
    )
    keeper = spark.createDataFrame(
        [(2, "i", "KEEP1", dt.datetime(2023, 12, 25), "buy", 7,
          None, "UTC_DAY_2023-12-25", dt.datetime(2023, 12, 25),
          dt.datetime(2023, 12, 26))],
        T.StructType(env + list(schema.fields)),
    )
    merge_batch(t, stale, batch_id=0, job_id="seed")
    merge_batch(t, keeper, batch_id=1, job_id="seed")
    assert any(
        e.get("kind") == "delta"
        for es in t.snapshot().files.values() for e in es
    )

    drv = GaShapedReportDriver(
        source_path=src, ts_col="ts", dimensions=["event_type"],
        metrics={"sessions": ("count", "*"),
                 "revenue": ("sum_money", "value")},
        now="2024-01-03 00:00:00", days_back=2,
    )
    IntervalSyncJob(
        t, drv, "report_date", os.path.join(tmpdir_path, "state.json"),
        job_id="mor-itv",
    ).run_once(spark)

    rows = {
        (r["_time_chunk"], r["event_type"]): (r["report_id"], r["sessions"])
        for r in t.read().collect()
    }
    # stale in-window row replaced by the fresh report, out-of-window
    # row survived the reconciled rewrite
    assert ("UTC_DAY_2024-01-02", "click") in rows
    assert rows[("UTC_DAY_2024-01-02", "click")][0] != "STALE1"
    assert rows[("UTC_DAY_2024-01-02", "click")][1] == 1
    assert rows[("UTC_DAY_2024-01-02", "view")][1] == 1
    assert rows[("UTC_DAY_2023-12-25", "buy")] == ("KEEP1", 7)
    assert len(rows) == 3
    # the overwrite folded the deltas into fresh base files
    assert not any(
        e.get("kind") == "delta"
        for es in t.snapshot().files.values() for e in es
    )


def test_facebook_marketing_shaped_config(spark, tmpdir_path):
    """FB-Marketing insights shape as a named GaShapedReportDriver config
    (facebook_marketing.go:51-62,107-118): DAY intervals, REQUIRED
    account id folded into the report-row id, insights fields split into
    dimensions + DECIMAL-exact money metrics, attribution-window lag."""
    import datetime as dt
    import os

    from jitsu_spark.sources.report_configs import (
        facebook_marketing_insights_driver,
    )

    src = os.path.join(tmpdir_path, "insights_src")
    spark.createDataFrame(
        [
            ("c1", "a1", 1.50, dt.datetime(2024, 3, 10, 9)),
            ("c1", "a1", 2.25, dt.datetime(2024, 3, 10, 15)),
            ("c1", "a2", 4.00, dt.datetime(2024, 3, 11, 8)),
        ],
        "campaign_id string, ad_id string, spend double, ts timestamp",
    ).write.parquet(src)

    try:
        facebook_marketing_insights_driver(src, "", now="2024-03-12 00:00:00")
        raise AssertionError("expected account_id requirement")
    except ValueError:
        pass

    drv = facebook_marketing_insights_driver(
        src, account_id="act123", now="2024-03-12 00:00:00",
        days_back=3, attribution_lag_days=7,
    )
    ivs = drv.available_intervals()
    assert [i.id for i in ivs] == [
        "UTC_DAY_2024-03-12", "UTC_DAY_2024-03-11", "UTC_DAY_2024-03-10"
    ]
    # attribution lag: now-7d=03-05 < every upper bound, so ALL days keep
    # a moving signature (re-sync until the attribution window passes)
    assert all(
        drv.signature(i) == "2024-03-05T00:00:00.000Z" for i in ivs
    )
    rows = {
        (r["campaign_id"], r["ad_id"]): r
        for r in drv.read_interval(spark, ivs[2]).collect()  # 03-10
    }
    assert rows[("c1", "a1")]["impressions"] == 2
    assert float(rows[("c1", "a1")]["spend"]) == 3.75  # DECIMAL sum
    assert rows[("c1", "a1")]["account_id"] == "act123"
    # the account id is part of the row identity: same dims, different
    # account -> different report_id (shared-table safety)
    drv2 = facebook_marketing_insights_driver(
        src, account_id="act999", now="2024-03-12 00:00:00", days_back=3,
    )
    rows2 = {
        (r["campaign_id"], r["ad_id"]): r
        for r in drv2.read_interval(spark, ivs[2]).collect()
    }
    assert (
        rows2[("c1", "a1")]["report_id"] != rows[("c1", "a1")]["report_id"]
    )


def test_google_play_shaped_config(spark, tmpdir_path):
    """Google-Play bucket-report shape (google_play.go:21-27,103-155):
    MONTH intervals (one sales/earnings bundle per month, year-wrap
    correct), account-scoped ids, earningsTypeCasts-style DECIMAL money,
    current-month moving signature until lag_days past the boundary."""
    import datetime as dt
    import os

    from pyspark.sql import types as T

    from jitsu_spark.lake import LakeTable
    from jitsu_spark.sources.interval_sync import IntervalSyncJob
    from jitsu_spark.sources.report_configs import google_play_driver

    src = os.path.join(tmpdir_path, "sales_src")
    spark.createDataFrame(
        [
            ("app1", "US", 2, 1.99, dt.datetime(2023, 12, 15)),
            ("app1", "US", 1, 1.99, dt.datetime(2023, 12, 20)),
            ("app1", "DE", 1, 2.49, dt.datetime(2024, 1, 5)),
            ("app2", "US", 3, 0.99, dt.datetime(2024, 1, 20)),
        ],
        "product_id string, country string, units int, amount double,"
        " ts timestamp",
    ).write.parquet(src)

    try:
        google_play_driver(src, "acc", now="2024-02-02 00:00:00",
                           collection="reviews")
        raise AssertionError("expected sales/earnings-only rejection")
    except ValueError:
        pass

    drv = google_play_driver(
        src, account_id="pub1", now="2024-02-02 00:00:00",
        months_back=3, lag_days=3,
    )
    ivs = drv.available_intervals()
    assert [i.id for i in ivs] == [
        "UTC_MONTH_2024-02", "UTC_MONTH_2024-01", "UTC_MONTH_2023-12"
    ]
    assert ivs[1].lower == "2024-01-01 00:00:00"
    assert ivs[1].upper == "2024-02-01 00:00:00"
    assert ivs[2].lower == "2023-12-01 00:00:00"  # year wrap
    assert ivs[2].upper == "2024-01-01 00:00:00"
    # lag clock = 01-30: December froze (upper 01-01 < lag), January's
    # bundle is still inside the lag window -> moving signature
    assert drv.signature(ivs[2]) == "2024-01-01T00:00:00.000Z"
    assert drv.signature(ivs[1]) == "2024-01-30T00:00:00.000Z"

    schema = T.StructType([
        T.StructField("report_id", T.StringType()),
        T.StructField("report_date", T.TimestampType()),
        T.StructField("account_id", T.StringType()),
        T.StructField("product_id", T.StringType()),
        T.StructField("country", T.StringType()),
        T.StructField("units", T.LongType()),
        T.StructField("charged_amount", T.DecimalType(28, 2)),
        T.StructField("_time_chunk", T.StringType()),
        T.StructField("_interval_start", T.TimestampType()),
        T.StructField("_interval_end", T.TimestampType()),
    ])
    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "tbl"), schema, "report_id",
        n_buckets=4, properties={"write.stats.column": "report_date"},
    )
    job = IntervalSyncJob(
        t, drv, "report_date", os.path.join(tmpdir_path, "state.json"),
        job_id="gplay",
    )
    r1 = job.run_once(spark)
    assert set(r1.statuses.values()) == {"NEW"}
    state = {
        (r["_time_chunk"], r["product_id"], r["country"]):
            (r["units"], float(r["charged_amount"]), r["account_id"])
        for r in t.read().collect()
    }
    assert state[("UTC_MONTH_2023-12", "app1", "US")] == (3, 3.98, "pub1")
    assert state[("UTC_MONTH_2024-01", "app1", "DE")] == (1, 2.49, "pub1")
    assert state[("UTC_MONTH_2024-01", "app2", "US")] == (3, 0.99, "pub1")

    # next run: December frozen -> UPTODATE; January re-syncs while its
    # signature still moves
    drv.now = "2024-02-03 00:00:00"
    r2 = job.run_once(spark)
    assert r2.statuses["UTC_MONTH_2023-12"] == "UPTODATE"
    assert r2.statuses["UTC_MONTH_2024-01"] == "REFRESH"


def test_year_granularity_intervals():
    """YEAR interval enumeration (drivers/granularity.go:13,23,39,55):
    Lower/Upper snap to Jan-1 year bounds, newest first, and the trailing
    lag signature freezes closed years while the current one keeps a
    moving signature."""
    from jitsu_spark.sources.ga_driver import GaShapedReportDriver

    drv = GaShapedReportDriver(
        source_path="unused",
        ts_col="ts",
        dimensions=["d"],
        metrics={"hits": ("count", "")},
        now="2024-03-15 12:30:00",
        granularity="YEAR",
        years_back=3,
        lag_days=30,
    )
    ivs = drv.available_intervals()
    assert [i.id for i in ivs] == [
        "UTC_YEAR_2024", "UTC_YEAR_2023", "UTC_YEAR_2022"
    ]
    assert ivs[0].lower == "2024-01-01 00:00:00"
    assert ivs[0].upper == "2025-01-01 00:00:00"
    assert ivs[2].lower == "2022-01-01 00:00:00"
    assert ivs[2].upper == "2023-01-01 00:00:00"
    # lag clock = 2024-02-14: 2022/2023 froze (upper <= lag boundary...
    # 2023's upper 2024-01-01 < 2024-02-14 -> frozen); 2024 still open
    assert drv.signature(ivs[2]) == "2023-01-01T00:00:00.000Z"
    assert drv.signature(ivs[1]) == "2024-01-01T00:00:00.000Z"
    assert drv.signature(ivs[0]) == "2024-02-14T12:30:00.000Z"
    # layout signature covers granularity so a DAY<->YEAR flip re-syncs
    assert '"YEAR"' in drv.layout_signature()


def test_singer_message_parsing(spark):
    """SCHEMA/RECORD/STATE split, typed record extraction with corrupt
    dead-lettering, and last-state bookmark selection."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from jitsu_spark.sources.singer import (
        latest_state,
        singer_records,
        split_singer_messages,
    )

    lines = [
        '{"type": "SCHEMA", "stream": "users", "schema": {"properties": {"id": {"type": "integer"}}}, "key_properties": ["id"]}',
        '{"type": "RECORD", "stream": "users", "record": {"id": 1, "name": "ann"}}',
        '{"type": "STATE", "value": {"bookmarks": {"users": {"id": 1}}}}',
        '{"type": "RECORD", "stream": "users", "record": {"id": 2, "name": "bo"}}',
        '{"type": "RECORD", "stream": "orders", "record": {"oid": 9}}',
        '{"type": "RECORD", "stream": "users", "record": "not-an-object"}',
        '{"type": "STATE", "value": {"bookmarks": {"users": {"id": 2}}}}',
    ]
    df = spark.createDataFrame(
        [(i, l) for i, l in enumerate(lines)], ["lineno", "value"]
    )
    msgs = split_singer_messages(df, order_col="lineno")

    schemas = msgs.schemas.collect()
    assert len(schemas) == 1 and schemas[0]["key_properties"] == ["id"]

    rec_schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
    )
    users = singer_records(msgs, "users", rec_schema).collect()
    good = {r["id"]: r["name"] for r in users if r["_corrupt"] is None}
    assert good == {1: "ann", 2: "bo"}
    bad = [r for r in users if r["_corrupt"] is not None]
    assert len(bad) == 1  # the non-object record dead-letters, not drops

    assert msgs.records.filter(F.col("stream") == "orders").count() == 1
    assert '"id":2' in latest_state(msgs, "lineno").replace(" ", "")


_TAP_SCRIPT = r'''
import argparse, json, sys

p = argparse.ArgumentParser()
p.add_argument("-c", "--config", default=None)
p.add_argument("--state", default=None)
p.add_argument("--crash-after", type=int, default=-1)
a = p.parse_args()
start = 0
if a.state:
    with open(a.state) as f:
        start = json.load(f).get("bookmark", 0)
print(json.dumps({
    "type": "SCHEMA", "stream": "users",
    "schema": {"properties": {"id": {"type": "integer"},
                              "name": {"type": "string"},
                              "balance": {"type": "number"}}},
    "key_properties": ["id"],
}))
emitted = 0
for chunk in range(start, 4):
    for i in range(5):
        rid = chunk * 5 + i
        print(json.dumps({"type": "RECORD", "stream": "users",
                          "record": {"id": rid % 12, "name": "n%d" % rid,
                                     "balance": float(rid)}}))
    print(json.dumps({"type": "STATE", "value": {"bookmark": chunk + 1}}))
    emitted += 1
    if a.crash_after == emitted:
        sys.exit(3)
'''


def _expected_users():
    """Dict oracle for the tap: per id (rid % 12), the LAST rid wins."""
    final = {}
    for rid in range(20):
        final[rid % 12] = ("n%d" % rid, float(rid))
    return final


def test_singer_tap_end_to_end(spark, tmpdir_path):
    """Drive a real tap subprocess through SingerTapJob: portions cut at
    STATE boundaries, per-stream lake table keyed by md5(key fields),
    LWW by emission order, state bookmark committed per portion."""
    import os
    import sys

    from jitsu_spark.sources.singer_tap import SingerTapJob

    tap = os.path.join(tmpdir_path, "tap.py")
    with open(tap, "w") as f:
        f.write(_TAP_SCRIPT)
    job = SingerTapJob(
        spark=spark,
        tap_cmd=[sys.executable, tap],
        work_dir=os.path.join(tmpdir_path, "work"),
        tables_root=os.path.join(tmpdir_path, "tables"),
        job_id="singer-e2e",
    )
    rep = job.run_once()
    assert rep.tap_exit_code == 0
    assert rep.portions == 4  # one per STATE message
    assert json.loads(rep.final_state) == {"bookmark": 4}
    rows = {
        r["id"]: (r["name"], r["balance"], r["src"])
        for r in job.tables["users"].read().collect()
    }
    assert {k: (n, b) for k, (n, b, _) in rows.items()} == _expected_users()
    assert all(src == "source" for _, _, src in rows.values())

    # a second run resumes past the bookmark: tap emits nothing new
    rep2 = job.run_once()
    assert rep2.portions == 0
    assert job.tables["users"].read().count() == 12


def test_singer_tap_crash_resume_no_dupes(spark, tmpdir_path):
    """Kill the tap between STATE messages; the next run resumes from the
    committed bookmark and converges to the same final state, no dupes."""
    import os
    import sys

    from jitsu_spark.sources.singer_tap import SingerTapJob

    tap = os.path.join(tmpdir_path, "tap.py")
    with open(tap, "w") as f:
        f.write(_TAP_SCRIPT)
    job = SingerTapJob(
        spark=spark,
        tap_cmd=[sys.executable, tap, "--crash-after", "2"],
        work_dir=os.path.join(tmpdir_path, "work"),
        tables_root=os.path.join(tmpdir_path, "tables"),
        job_id="singer-crash",
    )
    try:
        job.run_once()
        raise AssertionError("expected tap crash")
    except RuntimeError:
        pass
    # two portions committed before the crash, bookmark = 2
    assert json.loads(job.committed_state()) == {"bookmark": 2}
    mid = {r["id"] for r in job.tables["users"].read().collect()}
    assert mid == {rid % 12 for rid in range(10)}

    job.tap_cmd = [sys.executable, tap]  # healthy tap now
    rep = job.run_once()
    assert rep.tap_exit_code == 0 and rep.portions == 2
    rows = {
        r["id"]: (r["name"], r["balance"])
        for r in job.tables["users"].read().collect()
    }
    assert rows == _expected_users()
    # exactly one row per key — the md5 event_id keyed MERGE absorbed
    # any overlap
    allrows = job.tables["users"].read().collect()
    assert len(allrows) == len({r["event_id"] for r in allrows}) == 12


def test_singer_tap_mor_mode_with_compaction_cadence(spark, tmpdir_path):
    """Steady-state Singer: stream tables in write.mode=mor (portion
    merges are O(portion) delta writes) with per-portion maintenance
    folding deltas back to base. Final state identical to the
    CoW sync; per-bucket file counts stay bounded; crash-resume still
    converges."""
    import os
    import sys

    from jitsu_spark.sources.singer_tap import SingerTapJob

    tap = os.path.join(tmpdir_path, "tap.py")
    with open(tap, "w") as f:
        f.write(_TAP_SCRIPT)
    job = SingerTapJob(
        spark=spark,
        tap_cmd=[sys.executable, tap, "--crash-after", "3"],
        work_dir=os.path.join(tmpdir_path, "work"),
        tables_root=os.path.join(tmpdir_path, "tables"),
        job_id="singer-mor",
        n_buckets=4,
        table_properties={"write.mode": "mor"},
        compact_max_files_per_bucket=1,
    )
    try:
        job.run_once()
        raise AssertionError("expected tap crash")
    except RuntimeError:
        pass
    job.tap_cmd = [sys.executable, tap]
    rep = job.run_once()
    assert rep.tap_exit_code == 0
    t = job.tables["users"]
    assert t.snapshot().properties.get("write.mode") == "mor"
    rows = {
        r["id"]: (r["name"], r["balance"]) for r in t.read().collect()
    }
    assert rows == _expected_users()
    snap = t.snapshot()
    # 4 portions of deltas would pile up ~4 files/bucket unbounded;
    # maintenance folds every bucket that reaches 2 files
    assert any(e.get("kind") == "compact" for e in snap.lineage)
    assert max((len(es) for es in snap.files.values()), default=0) <= 3


def test_stream_auto_compaction_bounds_files(spark, tmpdir_path):
    """In-stream maintenance folds MoR deltas mid-stream; final state
    stays oracle-exact and per-bucket file counts stay bounded."""
    import os

    from pyspark.sql import functions as F

    from jitsu_spark.changelog import (
        CHANGELOG_SCHEMA,
        assert_matches_oracle,
        changelog_df,
        dict_replay,
    )
    from jitsu_spark.lake import LakeTable
    from jitsu_spark.streaming import CdcStreamJob
    from tests.test_merge import TARGET_SCHEMA

    log = changelog_df(spark, n_events=4000, n_docs=300, seed=13)
    expected = dict_replay([r.asDict(recursive=True) for r in log.collect()])
    src = os.path.join(tmpdir_path, "log")
    for i in range(8):  # 8 file drops -> 8 micro-batches
        log.filter(
            (F.col("seq") >= i * 500) & (F.col("seq") < (i + 1) * 500)
        ).coalesce(1).write.mode("append").parquet(src)

    table = LakeTable.create(
        spark, os.path.join(tmpdir_path, "tbl"), TARGET_SCHEMA, "doc_id",
        n_buckets=4, properties={"write.mode": "mor"},
    )
    job = CdcStreamJob(
        table=table,
        source_dir=src,
        checkpoint_dir=os.path.join(tmpdir_path, "ckpt"),
        source_schema=CHANGELOG_SCHEMA,
        max_files_per_trigger=1,
        job_id="autocompact",
        compact_max_files_per_bucket=2,
        expire_snapshots_keep=5,
    )
    job.run_available_now(spark)
    assert_matches_oracle(table.read(), expected)
    snap = table.snapshot()
    # without compaction each bucket would hold ~8 delta files
    assert max(len(es) for es in snap.files.values()) <= 4
    assert any(e.get("kind") == "compact" for e in snap.lineage)
    # in-stream snapshot expiry bounds the version-descriptor count too
    # (8 merges + compactions would otherwise leave >12 v*.json files)
    vfiles = [
        f for f in os.listdir(os.path.join(table.root, "metadata"))
        if f.startswith("v") and f.endswith(".json")
    ]
    assert len(vfiles) <= 7


def test_snapshot_collection_driver_full_replace(spark, tmpdir_path):
    """Firebase/Redis-shaped ALL-interval sync: every run re-reads the
    whole collection; upstream deletes disappear (full replace), and an
    unchanged content signature is deduped by the commit manifest while
    the interval still reports REFRESH (reference IsAll semantics)."""
    import os

    from pyspark.sql import types as T

    from jitsu_spark.lake import LakeTable
    from jitsu_spark.sources.interval_sync import IntervalSyncJob
    from jitsu_spark.sources.snapshot_driver import SnapshotCollectionDriver

    src = os.path.join(tmpdir_path, "collection")
    spark.createDataFrame(
        [("k1", "alice"), ("k2", "bob"), ("k3", "carol")],
        "key string, name string",
    ).write.parquet(src)

    schema = T.StructType(
        [
            T.StructField("key", T.StringType()),
            T.StructField("name", T.StringType()),
            T.StructField("_collection_id", T.StringType()),
        ]
    )
    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "tbl"), schema,
        "_collection_id", n_buckets=4,
    )
    drv = SnapshotCollectionDriver(source_path=src, id_col="key", version="v1")
    job = IntervalSyncJob(
        t, drv, "_collection_id",
        os.path.join(tmpdir_path, "state.json"), job_id="fb",
    )

    r1 = job.run_once(spark)
    assert r1.statuses == {"ALL": "NEW"} and r1.synced == ["ALL"]
    assert {r["name"] for r in t.read().collect()} == {"alice", "bob", "carol"}

    # unchanged content: IsAll -> still REFRESH (re-read happens), but the
    # manifest dedupes the rewrite -> no new table version
    v = t.snapshot().version
    r2 = job.run_once(spark)
    assert r2.statuses == {"ALL": "REFRESH"} and r2.synced == ["ALL"]
    assert t.snapshot().version == v

    # upstream change incl. a DELETE of k2: full replace semantics
    spark.createDataFrame(
        [("k1", "alice2"), ("k3", "carol"), ("k4", "dan")],
        "key string, name string",
    ).write.mode("overwrite").parquet(src)
    drv.version = "v2"
    job.run_once(spark)
    rows = {r["_collection_id"]: r["name"] for r in t.read().collect()}
    assert rows == {"k1": "alice2", "k3": "carol", "k4": "dan"}


def test_interval_sync_concurrent_workers(spark, tmpdir_path):
    """Worker-pool interval sync (the reference's 16-task pool): four
    threads overwrite-committing into one table race, retry on conflict,
    and converge to exactly the sequential result."""
    import os

    from pyspark.sql import types as T

    from jitsu_spark.lake import LakeTable
    from jitsu_spark.sources.ga_driver import GaShapedReportDriver
    from jitsu_spark.sources.interval_sync import IntervalSyncJob

    src = _ga_fixture(spark, tmpdir_path)
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

    def run(mode: str, workers: int):
        t = LakeTable.create(
            spark, os.path.join(tmpdir_path, f"tbl_{mode}"), schema,
            "report_id", n_buckets=4,
        )
        drv = GaShapedReportDriver(
            source_path=src, ts_col="ts", arrival_col="arrival",
            dimensions=["event_type"],
            metrics={"sessions": ("count", "*"),
                     "revenue": ("sum_money", "value")},
            now="2024-01-06 00:00:00", days_back=6,
        )
        job = IntervalSyncJob(
            t, drv, "report_date",
            os.path.join(tmpdir_path, f"state_{mode}.json"), job_id="ga",
        )
        rep = job.run_once(spark, max_workers=workers)
        return t, rep

    t_seq, rep_seq = run("seq", 1)
    t_par, rep_par = run("par", 4)
    assert set(rep_par.synced) == set(rep_seq.synced) and len(rep_par.synced) == 6
    rows_seq = {
        (r["_time_chunk"], r["event_type"]): (r["sessions"], str(r["revenue"]))
        for r in t_seq.read().collect()
    }
    rows_par = {
        (r["_time_chunk"], r["event_type"]): (r["sessions"], str(r["revenue"]))
        for r in t_par.read().collect()
    }
    assert rows_par == rows_seq and len(rows_par) > 0
    # every interval's chunk landed exactly once in the manifest
    committed = [c for c in t_par.snapshot().committed if c.startswith("ga/")]
    assert len(committed) == len(set(committed)) == 6


def test_singer_tap_crash_between_merge_and_state_save(spark, tmpdir_path):
    """The OTHER crash window: a portion's merge commits but the state
    save dies. The resumed tap re-emits that portion; its deterministic
    batch id hits the commit manifest and the re-merge is skipped — the
    two idempotency layers mean no duplicates either way."""
    import os
    import sys

    from jitsu_spark.sources.singer_tap import SingerTapJob

    tap = os.path.join(tmpdir_path, "tap.py")
    with open(tap, "w") as f:
        f.write(_TAP_SCRIPT)
    job = SingerTapJob(
        spark=spark,
        tap_cmd=[sys.executable, tap],
        work_dir=os.path.join(tmpdir_path, "work"),
        tables_root=os.path.join(tmpdir_path, "tables"),
        job_id="singer-ms",
    )
    orig_save = job._save_state
    calls = {"n": 0}

    def flaky(state_json):
        if calls["n"] == 1:
            raise OSError("simulated disk-full on state save")
        calls["n"] += 1
        orig_save(state_json)

    job._save_state = flaky
    try:
        job.run_once()
        raise AssertionError("expected state-save crash")
    except OSError:
        pass
    # portion 0 committed state; portion 1 merged but its bookmark is lost
    assert json.loads(job.committed_state()) == {"bookmark": 1}

    job._save_state = orig_save
    rep = job.run_once()  # tap re-emits chunks 1..3; chunk 1 re-merge skips
    assert rep.tap_exit_code == 0 and rep.portions == 3
    assert rep.records["users"] == 10  # chunks 2+3 merged; chunk 1 skipped
    rows = {
        r["id"]: (r["name"], r["balance"])
        for r in job.tables["users"].read().collect()
    }
    assert rows == _expected_users()
    allrows = job.tables["users"].read().collect()
    assert len(allrows) == len({r["event_id"] for r in allrows}) == 12


_EVOLVING_TAP = r'''
import argparse, json

p = argparse.ArgumentParser()
p.add_argument("-c", "--config", default=None)
p.add_argument("--state", default=None)
a = p.parse_args()
start = 0
if a.state:
    with open(a.state) as f:
        start = json.load(f).get("bookmark", 0)
schema_v1 = {"properties": {"id": {"type": "integer"},
                            "name": {"type": "string"}}}
schema_v2 = {"properties": {"id": {"type": "integer"},
                            "name": {"type": "string"},
                            "tier": {"type": "string"}}}
if start < 1:
    print(json.dumps({"type": "SCHEMA", "stream": "users",
                      "schema": schema_v1, "key_properties": ["id"]}))
    for i in range(3):
        print(json.dumps({"type": "RECORD", "stream": "users",
                          "record": {"id": i, "name": "n%d" % i}}))
    print(json.dumps({"type": "STATE", "value": {"bookmark": 1}}))
if start < 2:
    # upstream evolved: SCHEMA v2 adds `tier`, records carry it
    print(json.dumps({"type": "SCHEMA", "stream": "users",
                      "schema": schema_v2, "key_properties": ["id"]}))
    for i in range(2, 5):
        print(json.dumps({"type": "RECORD", "stream": "users",
                          "record": {"id": i, "name": "m%d" % i,
                                     "tier": "t%d" % (i % 2)}}))
    print(json.dumps({"type": "STATE", "value": {"bookmark": 2}}))
'''


def test_singer_tap_mid_stream_schema_evolution(spark, tmpdir_path):
    """A SCHEMA message between portions widens the stream: the new
    column lands via the lake's add-only evolution, earlier rows read
    back NULL for it, and overlapping keys are upserted by the md5 key
    hash (id 2 appears in both portions — v2 wins by emission order)."""
    import os
    import sys

    from jitsu_spark.sources.singer_tap import SingerTapJob

    tap = os.path.join(tmpdir_path, "tap.py")
    with open(tap, "w") as f:
        f.write(_EVOLVING_TAP)
    job = SingerTapJob(
        spark=spark,
        tap_cmd=[sys.executable, tap],
        work_dir=os.path.join(tmpdir_path, "work"),
        tables_root=os.path.join(tmpdir_path, "tables"),
        job_id="singer-evo",
    )
    rep = job.run_once()
    assert rep.tap_exit_code == 0 and rep.portions == 2
    t = job.tables["users"]
    assert [f.name for f in t.schema().fields] == [
        "event_id", "id", "name", "src", "_record_version", "tier"
    ]
    rows = {r["id"]: (r["name"], r["tier"]) for r in t.read().collect()}
    assert rows == {
        0: ("n0", None), 1: ("n1", None),          # v1 rows: tier NULL
        2: ("m2", "t0"), 3: ("m3", "t1"), 4: ("m4", "t0"),  # v2 upserts
    }


def test_singer_tap_heartbeat_states_do_not_collide(spark, tmpdir_path):
    """Two different portions closing on IDENTICAL STATE lines (heartbeat
    bookmarks) must both apply: the portion id covers the starting
    bookmark + full content, not just the closing line (the r4 review
    found the closing-line-only id silently skipped the second portion)."""
    import os
    import sys

    from jitsu_spark.sources.singer_tap import SingerTapJob

    tap = os.path.join(tmpdir_path, "tap.py")
    with open(tap, "w") as f:
        f.write(r'''
import json
print(json.dumps({"type": "SCHEMA", "stream": "users",
                  "schema": {"properties": {"id": {"type": "integer"},
                                            "name": {"type": "string"}}},
                  "key_properties": ["id"]}))
print(json.dumps({"type": "RECORD", "stream": "users",
                  "record": {"id": 1, "name": "a"}}))
print(json.dumps({"type": "STATE", "value": {"hb": 0}}))
print(json.dumps({"type": "RECORD", "stream": "users",
                  "record": {"id": 2, "name": "b"}}))
print(json.dumps({"type": "STATE", "value": {"hb": 0}}))  # identical line
''')
    job = SingerTapJob(
        spark=spark,
        tap_cmd=[sys.executable, tap],
        work_dir=os.path.join(tmpdir_path, "work"),
        tables_root=os.path.join(tmpdir_path, "tables"),
        job_id="singer-hb",
    )
    rep = job.run_once()
    assert rep.portions == 2
    rows = {r["id"]: r["name"] for r in job.tables["users"].read().collect()}
    assert rows == {1: "a", 2: "b"}  # BOTH portions landed


def test_singer_tap_activate_version_full_table_replace(spark, tmpdir_path):
    """Public Singer FULL_TABLE contract: records carry a table version;
    ACTIVATE_VERSION purges rows of OLDER versions. A second full sync
    with a smaller row set deletes the rows absent from it; NULL-version
    (incremental) rows are untouched."""
    import os
    import sys

    from jitsu_spark.sources.singer_tap import SingerTapJob

    tap = os.path.join(tmpdir_path, "tap.py")
    with open(tap, "w") as f:
        f.write(r'''
import argparse, json
p = argparse.ArgumentParser()
p.add_argument("-c", "--config", default=None)
p.add_argument("--state", default=None)
a = p.parse_args()
start = 0
if a.state:
    with open(a.state) as f:
        start = json.load(f).get("bookmark", 0)
print(json.dumps({"type": "SCHEMA", "stream": "users",
                  "schema": {"properties": {"id": {"type": "integer"},
                                            "name": {"type": "string"}}},
                  "key_properties": ["id"]}))
if start < 1:
    for i in range(4):  # full sync v1: ids 0..3
        print(json.dumps({"type": "RECORD", "stream": "users", "version": 1,
                          "record": {"id": i, "name": "v1n%d" % i}}))
    print(json.dumps({"type": "ACTIVATE_VERSION", "stream": "users",
                      "version": 1}))
    print(json.dumps({"type": "STATE", "value": {"bookmark": 1}}))
if start < 2:
    for i in (1, 3):  # full sync v2: ids 0 and 2 gone upstream
        print(json.dumps({"type": "RECORD", "stream": "users", "version": 2,
                          "record": {"id": i, "name": "v2n%d" % i}}))
    print(json.dumps({"type": "ACTIVATE_VERSION", "stream": "users",
                      "version": 2}))
    print(json.dumps({"type": "STATE", "value": {"bookmark": 2}}))
''')
    job = SingerTapJob(
        spark=spark,
        tap_cmd=[sys.executable, tap],
        work_dir=os.path.join(tmpdir_path, "work"),
        tables_root=os.path.join(tmpdir_path, "tables"),
        job_id="singer-av",
    )
    rep = job.run_once()
    assert rep.tap_exit_code == 0 and rep.portions == 2
    rows = {
        r["id"]: (r["name"], r["_record_version"])
        for r in job.tables["users"].read().collect()
    }
    # v2 activation purged ids 0 and 2; survivors are the v2 rows
    assert rows == {1: ("v2n1", 2), 3: ("v2n3", 2)}

    # re-run: everything bookmarked, nothing re-applied
    rep2 = job.run_once()
    assert rep2.portions == 0
    assert {
        r["id"] for r in job.tables["users"].read().collect()
    } == {1, 3}


def test_singer_tap_chatter_and_spool_cleanup(spark, tmpdir_path):
    """Robustness corners from the r4 review: scalar-JSON stdout lines
    (a bare number / string) are chatter — tolerated like non-JSON noise,
    not an AttributeError that aborts the sync — and portion spool files
    are deleted once the portion's merges commit (bounded work_dir)."""
    import os
    import sys

    from jitsu_spark.sources.singer_tap import SingerTapJob

    tap = os.path.join(tmpdir_path, "tap.py")
    with open(tap, "w") as f:
        f.write(r'''
import json
print(json.dumps({"type": "SCHEMA", "stream": "users",
                  "schema": {"properties": {"id": {"type": "integer"},
                                            "name": {"type": "string"}}},
                  "key_properties": ["id"]}))
print(42)                       # valid JSON, not an object
print(json.dumps("progress"))   # valid JSON string
print("plain log chatter")      # not JSON at all
print(json.dumps({"type": "RECORD", "stream": "users",
                  "record": {"id": 1, "name": "a"}}))
print(json.dumps({"type": "STATE", "value": {"bookmark": 1}}))
print(json.dumps({"type": "RECORD", "stream": "users",
                  "record": {"id": 2, "name": "b"}}))
print(json.dumps({"type": "STATE", "value": {"bookmark": 2}}))
''')
    work = os.path.join(tmpdir_path, "work")
    job = SingerTapJob(
        spark=spark,
        tap_cmd=[sys.executable, tap],
        work_dir=work,
        tables_root=os.path.join(tmpdir_path, "tables"),
        job_id="singer-chatter",
    )
    rep = job.run_once()
    assert rep.tap_exit_code == 0 and rep.portions == 2
    rows = {r["id"]: r["name"] for r in job.tables["users"].read().collect()}
    assert rows == {1: "a", 2: "b"}
    spool_dir = os.path.join(work, "spool")
    assert os.listdir(spool_dir) == []  # spools unlinked after commit


def test_singer_tap_rejects_reserved_schema_columns(spark, tmpdir_path):
    """A stream SCHEMA declaring an engine-owned column (event_id, src,
    _record_version, seq, op) is rejected at SCHEMA time — before any
    record merges produce ambiguous duplicate columns."""
    import os
    import sys

    from jitsu_spark.sources.singer_tap import SingerTapJob

    tap = os.path.join(tmpdir_path, "tap.py")
    with open(tap, "w") as f:
        f.write(r'''
import json
print(json.dumps({"type": "SCHEMA", "stream": "users",
                  "schema": {"properties": {"id": {"type": "integer"},
                                            "event_id": {"type": "string"}}},
                  "key_properties": ["id"]}))
print(json.dumps({"type": "RECORD", "stream": "users",
                  "record": {"id": 1, "event_id": "boom"}}))
print(json.dumps({"type": "STATE", "value": {"bookmark": 1}}))
''')
    job = SingerTapJob(
        spark=spark,
        tap_cmd=[sys.executable, tap],
        work_dir=os.path.join(tmpdir_path, "work"),
        tables_root=os.path.join(tmpdir_path, "tables"),
        job_id="singer-reserved",
    )
    try:
        job.run_once()
        raise AssertionError("expected reserved-column SCHEMA rejection")
    except ValueError as e:
        assert "event_id" in str(e)
    assert "users" not in job.tables  # nothing merged


_MULTI_STREAM_TAP = r'''
import argparse, json
p = argparse.ArgumentParser()
p.add_argument("-c", "--config", default=None)
p.add_argument("--catalog", default=None)
p.add_argument("-p", "--properties", default=None)
p.add_argument("--state", default=None)
p.add_argument("--discover", action="store_true")
a = p.parse_args()
streams = {
    "users":  {"id": {"type": "integer"}, "name": {"type": "string"}},
    "orders": {"oid": {"type": "integer"}, "total": {"type": "number"}},
    "logs":   {"line": {"type": "string"}},
}
keys = {"users": ["id"], "orders": ["oid"], "logs": []}
if a.discover:
    print(json.dumps({"streams": [
        {"tap_stream_id": s, "stream": s,
         "schema": {"properties": props}, "key_properties": keys[s]}
        for s, props in streams.items()]}))
    raise SystemExit(0)
# deliberately IGNORES the catalog content: emits all three streams, so
# the engine-side selection filter is what's under test
for s, props in streams.items():
    print(json.dumps({"type": "SCHEMA", "stream": s,
                      "schema": {"properties": props},
                      "key_properties": keys[s]}))
print(json.dumps({"type": "RECORD", "stream": "users",
                  "record": {"id": 1, "name": "a"}}))
print(json.dumps({"type": "RECORD", "stream": "orders",
                  "record": {"oid": 7, "total": 9.5}}))
print(json.dumps({"type": "RECORD", "stream": "logs",
                  "record": {"line": "noise"}}))
print(json.dumps({"type": "STATE", "value": {"bookmark": 1}}))
'''


def test_singer_tap_catalog_selection_and_discover(spark, tmpdir_path):
    """Reference catalog semantics (singer.go:101-104,187-188,274): the
    catalog is passed to the tap as --catalog AND enforced engine-side —
    a 3-stream tap with a 2-stream-selected catalog syncs exactly 2
    tables; discover() runs the tap with --discover and returns the
    catalog, from which catalog_schemas() derives Spark schemas."""
    import os
    import sys

    from pyspark.sql import types as T

    from jitsu_spark.sources.singer_tap import (
        SingerTapJob,
        catalog_schemas,
        selected_streams,
    )

    tap = os.path.join(tmpdir_path, "tap.py")
    with open(tap, "w") as f:
        f.write(_MULTI_STREAM_TAP)
    job = SingerTapJob(
        spark=spark,
        tap_cmd=[sys.executable, tap],
        work_dir=os.path.join(tmpdir_path, "work"),
        tables_root=os.path.join(tmpdir_path, "tables"),
        job_id="singer-cat",
    )

    cat = job.discover()
    schemas = catalog_schemas(cat)
    assert set(schemas) == {"users", "orders", "logs"}
    assert schemas["users"]["id"].dataType == T.LongType()
    assert schemas["orders"]["total"].dataType == T.DoubleType()

    # select 2 of 3 via the standard breadcrumb-[] metadata entry
    for s in cat["streams"]:
        s["metadata"] = [{
            "breadcrumb": [],
            "metadata": {"selected": s["stream"] != "logs"},
        }]
    assert selected_streams(cat) == {"users", "orders"}

    job.catalog = cat
    rep = job.run_once()
    assert rep.tap_exit_code == 0 and rep.portions == 1
    assert set(job.tables) == {"users", "orders"}  # logs never created
    assert not os.path.exists(
        os.path.join(tmpdir_path, "tables", "logs")
    )
    assert {r["id"] for r in job.tables["users"].read().collect()} == {1}
    assert {
        (r["oid"], r["total"])
        for r in job.tables["orders"].read().collect()
    } == {(7, 9.5)}
    # the catalog file really was handed to the tap
    assert os.path.exists(os.path.join(tmpdir_path, "work", "catalog.json"))


def test_singer_catalog_whitelist_without_flags():
    """A catalog with NO selection flags anywhere acts as a whitelist:
    every listed stream is selected."""
    from jitsu_spark.sources.singer_tap import selected_streams

    cat = {"streams": [{"stream": "a"}, {"tap_stream_id": "b"}]}
    assert selected_streams(cat) == {"a", "b"}
    # legacy top-level flag also honored
    cat2 = {"streams": [{"stream": "a", "selected": True},
                        {"stream": "b", "selected": False}]}
    assert selected_streams(cat2) == {"a"}


def test_singer_tap_mid_portion_schema_order(spark, tmpdir_path):
    """Two SCHEMA messages for one stream inside ONE portion (mid-portion
    evolution before any STATE boundary) must apply in line order — the
    collected rows are sorted by _ln, so the LATER schema wins and its
    columns survive into the table."""
    import os
    import sys

    from jitsu_spark.sources.singer_tap import SingerTapJob

    tap = os.path.join(tmpdir_path, "tap.py")
    with open(tap, "w") as f:
        f.write(r'''
import json
print(json.dumps({"type": "SCHEMA", "stream": "users",
                  "schema": {"properties": {"id": {"type": "integer"}}},
                  "key_properties": ["id"]}))
print(json.dumps({"type": "RECORD", "stream": "users",
                  "record": {"id": 1}}))
print(json.dumps({"type": "SCHEMA", "stream": "users",
                  "schema": {"properties": {"id": {"type": "integer"},
                                            "name": {"type": "string"}}},
                  "key_properties": ["id"]}))
print(json.dumps({"type": "RECORD", "stream": "users",
                  "record": {"id": 2, "name": "late"}}))
print(json.dumps({"type": "STATE", "value": {"bookmark": 1}}))
''')
    job = SingerTapJob(
        spark=spark,
        tap_cmd=[sys.executable, tap],
        work_dir=os.path.join(tmpdir_path, "work"),
        tables_root=os.path.join(tmpdir_path, "tables"),
        job_id="singer-order",
    )
    rep = job.run_once()
    assert rep.tap_exit_code == 0 and rep.portions == 1
    t = job.tables["users"]
    assert "name" in {f.name for f in t.schema().fields}
    rows = {r["id"]: r["name"] for r in t.read().collect()}
    assert rows == {1: None, 2: "late"}


def test_singer_deselected_stream_reserved_schema_does_not_abort(spark, tmpdir_path):
    """A DESELECTED stream's SCHEMA declaring a reserved engine column
    must not abort the sync: the tap may ignore --catalog and emit every
    stream's SCHEMA, but only selected streams ever merge (r5 review
    finding — the clash check ran before selection was applied)."""
    import os
    import sys

    from jitsu_spark.sources.singer_tap import SingerTapJob

    tap = os.path.join(tmpdir_path, "tap.py")
    with open(tap, "w") as f:
        f.write(r'''
import json
print(json.dumps({"type": "SCHEMA", "stream": "audit",
                  "schema": {"properties": {"id": {"type": "integer"},
                                            "op": {"type": "string"}}},
                  "key_properties": ["id"]}))
print(json.dumps({"type": "SCHEMA", "stream": "users",
                  "schema": {"properties": {"id": {"type": "integer"},
                                            "name": {"type": "string"}}},
                  "key_properties": ["id"]}))
print(json.dumps({"type": "RECORD", "stream": "audit",
                  "record": {"id": 9, "op": "x"}}))
print(json.dumps({"type": "RECORD", "stream": "users",
                  "record": {"id": 1, "name": "ann"}}))
print(json.dumps({"type": "STATE", "value": {"bookmark": 1}}))
''')
    job = SingerTapJob(
        spark=spark,
        tap_cmd=[sys.executable, tap],
        work_dir=os.path.join(tmpdir_path, "work"),
        tables_root=os.path.join(tmpdir_path, "tables"),
        job_id="singer-desel",
        catalog={
            "streams": [
                {"stream": "users", "selected": True},
                {"stream": "audit", "selected": False},
            ]
        },
    )
    rep = job.run_once()
    assert rep.records == {"users": 1}
    assert set(job.tables) == {"users"}
    rows = job.tables["users"].read().collect()
    assert len(rows) == 1 and rows[0]["name"] == "ann"


def test_interval_page_spool_resume(spark, tmpdir_path):
    """Chunked-state resume INSIDE one interval: with a page spool
    configured, a crash mid-interval resumes at the first unfetched page
    (pages already spooled are not re-read from the upstream), the
    interval still lands as one atomic overwrite, and the final state
    equals the unpaged sync. A signature change discards the spool."""
    import datetime as dt

    from pyspark.sql import types as T

    from jitsu_spark.lake import LakeTable
    from jitsu_spark.sources.ga_driver import GaShapedReportDriver
    from jitsu_spark.sources.interval_sync import IntervalSyncJob

    src = os.path.join(tmpdir_path, "spool_src")
    spark.createDataFrame(
        [(f"t{i % 5}", float(i), dt.datetime(2024, 1, 1, i)) for i in range(20)],
        "event_type string, value double, ts timestamp",
    ).write.parquet(src)

    class CrashingDriver(GaShapedReportDriver):
        crash = True

        def read_interval_pages(self, spark, itv, start_page=0):
            gen = super().read_interval_pages(spark, itv, start_page)
            k = start_page
            while True:
                if self.crash and itv.id == "UTC_DAY_2024-01-01" and k >= 2:
                    raise RuntimeError("upstream page fetch died")
                try:
                    p = next(gen)
                except StopIteration:
                    return
                yield p
                k += 1

    def make(cls=GaShapedReportDriver, page_size=2):
        return cls(
            source_path=src, ts_col="ts", dimensions=["event_type"],
            metrics={"sessions": ("count", "*"),
                     "revenue": ("sum_money", "value")},
            now="2024-01-03 00:00:00", days_back=3, page_size=page_size,
        )

    schema = T.StructType([
        T.StructField("report_id", T.StringType()),
        T.StructField("report_date", T.TimestampType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("sessions", T.LongType()),
        T.StructField("revenue", T.DecimalType(28, 2)),
        T.StructField("_time_chunk", T.StringType()),
        T.StructField("_interval_start", T.TimestampType()),
        T.StructField("_interval_end", T.TimestampType()),
    ])
    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "spool_tbl"), schema, "report_id",
        n_buckets=4, properties={"write.stats.column": "report_date"},
    )
    state = os.path.join(tmpdir_path, "spool_state.json")
    spool = os.path.join(tmpdir_path, "pages")

    drv1 = make(CrashingDriver)
    job1 = IntervalSyncJob(t, drv1, "report_date", state, job_id="ps",
                           page_spool_dir=spool)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="page fetch died"):
        job1.run_once(spark)
    # pages 0 and 1 of the crashed interval are durably spooled
    assert drv1.page_log.count("UTC_DAY_2024-01-01#p0") == 1
    assert drv1.page_log.count("UTC_DAY_2024-01-01#p1") == 1
    assert "UTC_DAY_2024-01-01#p2" not in drv1.page_log

    drv2 = make(CrashingDriver)
    drv2.crash = False
    job2 = IntervalSyncJob(t, drv2, "report_date", state, job_id="ps",
                           page_spool_dir=spool)
    rep = job2.run_once(spark)
    assert "UTC_DAY_2024-01-01" in rep.synced
    # resume fetched ONLY the page the crash lost — p0/p1 came from spool
    jan1_pages = [p for p in drv2.page_log if p.startswith("UTC_DAY_2024-01-01")]
    assert jan1_pages == ["UTC_DAY_2024-01-01#p2"]
    # spool is cleaned after the interval lands (job-namespaced path)
    assert not os.path.exists(os.path.join(spool, "ps", "UTC_DAY_2024-01-01"))

    # final state identical to an unpaged, unspooled sync
    t2 = LakeTable.create(
        spark, os.path.join(tmpdir_path, "plain_tbl"), schema, "report_id",
        n_buckets=4, properties={"write.stats.column": "report_date"},
    )
    IntervalSyncJob(
        t2, make(page_size=None), "report_date",
        os.path.join(tmpdir_path, "plain_state.json"), job_id="plain",
    ).run_once(spark)
    key = lambda r: (r["_time_chunk"], r["event_type"])  # noqa: E731
    got = {key(r): (r["sessions"], float(r["revenue"]))
           for r in t.read().collect()}
    want = {key(r): (r["sessions"], float(r["revenue"]))
            for r in t2.read().collect()}
    assert got == want

    # a changed signature discards the spool and refetches from page 0
    drv3 = make(CrashingDriver)
    drv3.crash = False
    job3 = IntervalSyncJob(t, drv3, "report_date", state, job_id="ps",
                           page_spool_dir=spool)
    itv = [i for i in drv3.available_intervals()
           if i.id == "UTC_DAY_2024-01-01"][0]
    job3._spool_pages(spark, itv, "some-other-signature")
    assert [p for p in drv3.page_log if p.startswith("UTC_DAY_2024-01-01")] == [
        f"UTC_DAY_2024-01-01#p{k}" for k in range(3)
    ]


def test_interval_page_spool_layout_and_job_isolation(spark, tmpdir_path):
    """The spool tag binds the driver's LAYOUT signature (a page_size /
    report-config change between crash and resume discards the spool —
    old- and new-layout pages must never mix), and the spool base is
    namespaced by job_id (two jobs sharing a spool dir never serve each
    other's frames even with identical interval ids and signatures)."""
    import datetime as dt

    from pyspark.sql import types as T

    from jitsu_spark.lake import LakeTable
    from jitsu_spark.sources.ga_driver import GaShapedReportDriver
    from jitsu_spark.sources.interval_sync import IntervalSyncJob

    src = os.path.join(tmpdir_path, "lay_src")
    spark.createDataFrame(
        [(f"t{i % 5}", float(i), dt.datetime(2024, 1, 1, i)) for i in range(20)],
        "event_type string, value double, ts timestamp",
    ).write.parquet(src)

    def make(page_size):
        return GaShapedReportDriver(
            source_path=src, ts_col="ts", dimensions=["event_type"],
            metrics={"sessions": ("count", "*")},
            now="2024-01-03 00:00:00", days_back=3, page_size=page_size,
        )

    schema = T.StructType([
        T.StructField("report_id", T.StringType()),
        T.StructField("report_date", T.TimestampType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("sessions", T.LongType()),
        T.StructField("_time_chunk", T.StringType()),
        T.StructField("_interval_start", T.TimestampType()),
        T.StructField("_interval_end", T.TimestampType()),
    ])
    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "lay_tbl"), schema, "report_id",
        n_buckets=4,
    )
    spool = os.path.join(tmpdir_path, "lay_pages")
    state = os.path.join(tmpdir_path, "lay_state.json")

    drv_a = make(page_size=2)
    itv = [i for i in drv_a.available_intervals()
           if i.id == "UTC_DAY_2024-01-01"][0]
    sig = drv_a.signature(itv)
    job_a = IntervalSyncJob(t, drv_a, "report_date", state, job_id="lj",
                            page_spool_dir=spool)
    job_a._spool_pages(spark, itv, sig)  # 5 report rows / 2 per page = 3
    assert len(drv_a.page_log) == 3

    # same job + signature but page_size 2 -> 3: the spool is discarded
    # and refetched under the new layout (2 pages), never mixed
    drv_b = make(page_size=3)
    job_b = IntervalSyncJob(t, drv_b, "report_date", state, job_id="lj",
                            page_spool_dir=spool)
    frame_b = job_b._spool_pages(spark, itv, sig)
    assert [p for p in drv_b.page_log] == [
        "UTC_DAY_2024-01-01#p0", "UTC_DAY_2024-01-01#p1"
    ]
    got = {(r["event_type"], r["sessions"]) for r in frame_b.collect()}
    want = {(r["event_type"], r["sessions"])
            for r in drv_b.read_interval(spark, itv).collect()}
    assert got == want  # no dropped or duplicated rows

    # a different job_id sharing the spool dir fetches its OWN pages
    drv_c = make(page_size=2)
    job_c = IntervalSyncJob(t, drv_c, "report_date", state, job_id="other",
                            page_spool_dir=spool)
    job_c._spool_pages(spark, itv, sig)
    assert len(drv_c.page_log) == 3  # nothing served from job lj's spool


def test_singer_lenient_record_lines_still_merge(spark, tmpdir_path):
    """Parser-divergence guard (r7): a RECORD line with trailing bytes is
    rejected by strict json.loads but ACCEPTED by the Spark-side
    get_json_object classifier (premise pinned here), so the driver-side
    control plane must still mark the stream present — both mid-portion
    and in the trailing no-STATE tail — or those records silently skip
    their merge. Chatter that merely LOOKS record-ish must stay inert."""
    import os
    import sys

    from pyspark.sql import functions as F

    from jitsu_spark.sources.singer_tap import SingerTapJob

    # premise: Spark's streaming JSON path accepts trailing bytes
    probe = spark.createDataFrame(
        [('{"type":"RECORD","stream":"s","record":{"id":9}}x',)], "value string"
    ).select(F.get_json_object("value", "$.type").alias("t")).collect()
    assert probe[0]["t"] == "RECORD"

    tap = os.path.join(tmpdir_path, "lenient_tap.py")
    with open(tap, "w") as f:
        f.write(
            "import json\n"
            "print(json.dumps({'type': 'SCHEMA', 'stream': 's',"
            " 'schema': {'properties': {'id': {'type': 'integer'}}},"
            " 'key_properties': ['id']}))\n"
            "print(json.dumps({'type': 'RECORD', 'stream': 's',"
            " 'record': {'id': 1}}))\n"
            # trailing byte: json.loads rejects, get_json_object accepts
            "print(json.dumps({'type': 'RECORD', 'stream': 's',"
            " 'record': {'id': 2}}) + 'x')\n"
            # record-ish chatter for an UNKNOWN stream: must be ignored
            "print('log: ' + json.dumps({'type': 'RECORD',"
            " 'stream': 'ghost'}) + ' seen')\n"
            "print(json.dumps({'type': 'STATE', 'value': {'b': 1}}))\n"
            # tail after the last STATE holding ONLY a lenient record:
            # the portion gate must still fire
            "print(json.dumps({'type': 'RECORD', 'stream': 's',"
            " 'record': {'id': 3}}) + 'y')\n"
        )
    job = SingerTapJob(
        spark=spark,
        tap_cmd=[sys.executable, tap],
        work_dir=os.path.join(tmpdir_path, "lwork"),
        tables_root=os.path.join(tmpdir_path, "ltables"),
        job_id="singer-lenient",
    )
    rep = job.run_once()
    assert rep.tap_exit_code == 0
    ids = sorted(
        r["id"] for r in job.tables["s"].read().select("id").collect()
    )
    assert ids == [1, 2, 3]
    assert "ghost" not in job.tables
