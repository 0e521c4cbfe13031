"""Transform-surface tests: flatten golden case (FIXTURES.md §4), mapping
rules, enrichment determinism, routing skip semantics, salted aggregation
equivalence."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from jitsu_spark.changelog import changelog_df
from jitsu_spark.operators import (
    apply_mappings,
    flatten,
    normalize_name,
    parse_rule,
    route_to_tables,
    salted_agg,
    table_name_expr,
    with_context_enrichment,
    with_deterministic_event_id,
)
from jitsu_spark.operators.mapping import MappingRule


def test_flatten_golden_case(spark):
    """The reference's canonical fixture shape: nested maps -> a_b columns,
    arrays -> JSON strings, scalars pass through."""
    df = spark.createDataFrame(
        [
            Row(
                eventn_ctx=Row(event_id="123"),
                key1=Row(inner_key_1=["1", "2", "3"], inner_key_2="test"),
                key2=5,
            )
        ]
    )
    out = flatten(df)
    row = out.collect()[0].asDict()
    assert row == {
        "eventn_ctx_event_id": "123",
        "key1_inner_key_1": '["1","2","3"]',
        "key1_inner_key_2": "test",
        "key2": 5,
    }


def test_flatten_deep_nesting_and_keep(spark):
    df = spark.createDataFrame(
        [Row(a=Row(b=Row(c=1)), tokens=[1, 2, 3])]
    )
    out = flatten(df, keep=("tokens",))
    row = out.collect()[0].asDict()
    assert row["a_b_c"] == 1
    assert row["tokens"] == [1, 2, 3]  # native array preserved


@pytest.mark.parametrize(
    "raw,want",
    [
        ("Shoes san-francisco", "shoes_san_francisco"),
        ("column(with)specials!", "column_with_specials_"),
        ("a.b,c;d:e", "a_b_c_d_e"),
        ("UPPER", "upper"),
    ],
)
def test_normalize_name(raw, want):
    assert normalize_name(raw) == want


def test_parse_rule_styles():
    r = parse_rule("/a/b -> (integer) /c")
    assert (r.kind, r.src, r.dst, r.cast_type) == ("cast", "a_b", "c", "integer")
    r = parse_rule("/a/b -> /c/d")
    assert (r.kind, r.src, r.dst) == ("move", "a_b", "c_d")
    r = parse_rule("/drop/me -> ")
    assert (r.kind, r.src) == ("remove", "drop_me")


def test_apply_mappings_move_cast_constant_strict(spark):
    df = spark.createDataFrame([Row(a_b="7", drop_me=1, untouched="x")])
    rules = [
        parse_rule("/a/b -> (integer) /c"),
        parse_rule("/drop/me -> "),
        MappingRule(kind="constant", dst="v", value="const"),
    ]
    out = apply_mappings(df, rules, keep_unmapped=True)
    row = out.collect()[0].asDict()
    assert row == {"untouched": "x", "c": 7, "v": "const"}
    strict = apply_mappings(df, rules, keep_unmapped=False)
    assert set(strict.columns) == {"c", "v"}


def test_deterministic_event_id(spark):
    df = spark.createDataFrame([Row(a=1, b="x"), Row(a=1, b="x"), Row(a=2, b="y")])
    out = with_deterministic_event_id(df).collect()
    assert out[0]["event_id"] == out[1]["event_id"]  # same payload, same id
    assert out[0]["event_id"] != out[2]["event_id"]
    # existing ids are preserved (coalesce)
    df2 = spark.createDataFrame([Row(a=1, event_id="keep"), Row(a=2, event_id=None)])
    got = {r["a"]: r["event_id"] for r in with_deterministic_event_id(df2).collect()}
    assert got[1] == "keep" and got[2] is not None


def test_context_enrichment_conditional_src(spark):
    df = spark.createDataFrame([Row(a=1, src="api"), Row(a=2, src=None)])
    out = with_context_enrichment(df, api_key="tok1", src="js")
    rows = {r["a"]: r for r in out.collect()}
    assert rows[1]["src"] == "api"  # api events keep their src (P13)
    assert rows[2]["src"] == "js"
    assert rows[1]["api_key"] == "tok1"
    assert rows[1]["_timestamp"] is not None


def test_table_routing_and_skip(spark):
    import datetime as dt

    df = spark.createDataFrame(
        [
            Row(event_type="Sign-Up", ts=dt.datetime(2024, 3, 5)),
            Row(event_type=None, ts=dt.datetime(2024, 3, 5)),
        ]
    )
    out = route_to_tables(df.withColumn("_t", table_name_expr("events_{ts:yyyy_MM}")),
                          "events_{ts:yyyy_MM}")
    assert [r["_table"] for r in out.collect()] == ["events_2024_03", "events_2024_03"]
    # content-based routing; NULL column -> empty name -> row skipped
    routed = route_to_tables(df, "{event_type}")
    rows = routed.collect()
    assert len(rows) == 1 and rows[0]["_table"] == "sign_up"


def test_salted_agg_equals_plain(spark):
    log = changelog_df(spark, n_events=2000, n_docs=50, seed=5, hot_key_pct=0.3)
    plain = {
        (r["source"]): (r["n"], r["s"])
        for r in log.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_tok").alias("s"))
        .collect()
    }
    salted = {
        (r["source"]): (r["n"], r["s"])
        for r in salted_agg(
            log, ["source"], {"n": ("count", "*"), "s": ("sum", "n_tok")}, n_salts=8
        ).collect()
    }
    assert plain == salted


# ---------------------------------------------------------------------------
# P11/P12: geo-IP + UA enrichment
# ---------------------------------------------------------------------------

def test_parsed_ua_golden(spark):
    """Golden parses mirroring the reference's processor_test shapes."""
    from jitsu_spark.operators import with_parsed_ua

    uas = [
        ("chrome", "Mozilla/5.0 (Windows NT 10.0; Win64; x64) "
                   "AppleWebKit/537.36 (KHTML, like Gecko) "
                   "Chrome/120.0.0.0 Safari/537.36"),
        ("safari", "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) "
                   "AppleWebKit/605.1.15 (KHTML, like Gecko) "
                   "Version/17.1 Safari/605.1.15"),
        ("iphone", "Mozilla/5.0 (iPhone; CPU iPhone OS 16_6 like Mac OS X) "
                   "AppleWebKit/605.1.15 (KHTML, like Gecko) Version/16.6 "
                   "Mobile/15E148 Safari/604.1"),
        ("edge", "Mozilla/5.0 (Windows NT 10.0; Win64; x64) "
                 "AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 "
                 "Safari/537.36 Edg/120.0.2210.91"),
        ("samsung", "Mozilla/5.0 (Linux; Android 13; SM-G991B) "
                    "AppleWebKit/537.36 (KHTML, like Gecko) "
                    "Chrome/119.0.6045.163 Mobile Safari/537.36"),
        ("bot", "Mozilla/5.0 (compatible; Googlebot/2.1; "
                "+http://www.google.com/bot.html)"),
    ]
    df = spark.createDataFrame(uas, ["tag", "user_agent"])
    rows = {r["tag"]: r for r in with_parsed_ua(df).collect()}
    c = rows["chrome"]
    assert (c["ua_family"], c["ua_version"]) == ("Chrome", "120.0.0.0")
    assert (c["ua_os_family"], c["ua_os_version"]) == ("Windows", "10.0")
    assert not c["ua_bot"]
    s = rows["safari"]
    assert (s["ua_family"], s["ua_version"]) == ("Safari", "17.1")
    assert (s["ua_os_family"], s["ua_os_version"]) == ("Mac OS X", "10.15.7")
    assert (s["ua_device_family"], s["ua_device_brand"]) == ("Mac", "Apple")
    i = rows["iphone"]
    assert i["ua_family"] == "Mobile Safari"
    assert (i["ua_os_family"], i["ua_os_version"]) == ("iOS", "16.6")
    assert (i["ua_device_family"], i["ua_device_model"]) == ("iPhone", "iPhone")
    e = rows["edge"]
    assert (e["ua_family"], e["ua_version"]) == ("Edge", "120.0.2210.91")
    g = rows["samsung"]
    assert (g["ua_os_family"], g["ua_os_version"]) == ("Android", "13")
    assert (g["ua_device_brand"], g["ua_device_model"]) == ("Samsung", "SM-G991B")
    b = rows["bot"]
    assert b["ua_bot"] and b["ua_family"] == "Other"


def test_geo_lookup_range_join(spark):
    """CIDR-range lookup incl. a block spanning multiple /16 buckets,
    a no-match IP, and a malformed IP (all keep NULL geo, as the
    reference skips enrichment on resolve errors)."""
    from jitsu_spark.operators import with_geo_lookup

    def ipn(a, b, c, d):
        return ((a * 256 + b) * 256 + c) * 256 + d

    dim = spark.createDataFrame(
        [
            (ipn(10, 0, 0, 0), ipn(10, 0, 255, 255), "US", "nyc"),
            # spans 4 /16 buckets: 10.4.0.0 - 10.7.255.255
            (ipn(10, 4, 0, 0), ipn(10, 7, 255, 255), "DE", "berlin"),
        ],
        ["net_start", "net_end", "country", "city"],
    )
    events = spark.createDataFrame(
        [
            ("e1", "10.0.3.7"),
            ("e2", "10.6.200.1"),   # inside the spanning block
            ("e3", "10.9.0.1"),     # no block
            ("e4", "not-an-ip"),    # malformed
        ],
        ["event_id", "source_ip"],
    )
    rows = {r["event_id"]: r for r in with_geo_lookup(events, dim).collect()}
    assert (rows["e1"]["geo_country"], rows["e1"]["geo_city"]) == ("US", "nyc")
    assert (rows["e2"]["geo_country"], rows["e2"]["geo_city"]) == ("DE", "berlin")
    assert rows["e3"]["geo_country"] is None
    assert rows["e4"]["geo_country"] is None
    assert len(rows) == 4  # left join: no row loss, no duplication


# ---------------------------------------------------------------------------
# W10 analog: conversion payload templating + spool sink
# ---------------------------------------------------------------------------

def test_ga_payload_templating(spark):
    from jitsu_spark.operators.conversion import ga_payload

    df = spark.createDataFrame(
        [("1", "conversion", "9.5"), ("2", "click", "1.0"), ("3", "x", "a b")],
        ["cid", "t", "ev"],
    )
    rows = {
        r["cid"]: r["ga_payload"]
        for r in ga_payload(df, tracking_id="UA-9").collect()
    }
    # keys sorted, event type aliased through the GA table, tid/v stamped
    assert rows["1"] == "cid=1&ev=9.5&t=transaction&tid=UA-9&v=1"
    # unknown event types default to 'event'
    assert rows["2"] == "cid=2&ev=1.0&t=event&tid=UA-9&v=1"
    # values are url-encoded (space -> +)
    assert rows["3"] == "cid=3&ev=a+b&t=event&tid=UA-9&v=1"


def test_fb_user_data_hashing(spark):
    import hashlib

    from jitsu_spark.operators.conversion import fb_hash_user_data

    pre_hashed = hashlib.sha256(b"x@y.z").hexdigest()
    df = spark.createDataFrame(
        [("a@b.c", "555", "alice"), (pre_hashed, "777", "bob")],
        ["em", "ud_ph", "ud_fn"],
    )
    rows = {r["ud_ph"]: r for r in fb_hash_user_data(df, email_col="em").collect()}
    h = lambda s: hashlib.sha256(s.encode()).hexdigest()  # noqa: E731
    assert rows[h("555")]["em"] == h("a@b.c")     # raw email hashed
    assert rows[h("777")]["em"] == pre_hashed     # pre-hashed passes through
    assert rows[h("555")]["ud_fn"] == h("alice")  # customer fields hashed


def test_conversion_spool_sink_idempotent(spark, tmpdir_path):
    import os

    from jitsu_spark.operators.conversion import ConversionSpoolSink, ga_payload

    spool = os.path.join(tmpdir_path, "spool")
    sink = ConversionSpoolSink(spool)
    batch = ga_payload(
        spark.createDataFrame([("1", "event", "5")], ["cid", "t", "ev"]),
        tracking_id="UA-9",
    )
    sink.apply(batch, batch_id=7)
    sink.apply(batch, batch_id=7)  # redelivery overwrites, not appends
    lines = (
        spark.read.text(os.path.join(spool, "batch=7")).collect()
    )
    assert [r["value"] for r in lines] == ["cid=1&ev=5&t=event&tid=UA-9&v=1"]


def test_ip_to_long_rejects_out_of_range_octets(spark):
    """A malformed IP like 10.0.0.300 must resolve to NULL, never alias
    into a neighboring block's numeric range (ADVICE r2)."""
    from jitsu_spark.operators.geo_ua import ip_to_long, with_geo_lookup

    df = spark.createDataFrame(
        [("10.0.0.300",), ("10.0.0.30",), ("256.1.1.1",), ("1.2.3",),
         ("a.b.c.d",), ("-1.2.3.4",), ("0.0.0.0",), ("255.255.255.255",)],
        "ip string",
    )
    got = {r["ip"]: r["n"] for r in df.select(
        "ip", ip_to_long(F.col("ip")).alias("n")).collect()}
    assert got["10.0.0.300"] is None
    assert got["256.1.1.1"] is None
    assert got["1.2.3"] is None
    assert got["a.b.c.d"] is None
    assert got["-1.2.3.4"] is None
    assert got["10.0.0.30"] == 10 * 16777216 + 30
    assert got["0.0.0.0"] == 0
    assert got["255.255.255.255"] == 2**32 - 1

    # end-to-end: the out-of-range IP keeps NULL geo columns instead of
    # matching the block that contains the aliased numeric value
    dim = spark.createDataFrame(
        [(10 * 16777216, 10 * 16777216 + 255, "XX")],
        "net_start long, net_end long, country string",
    )
    out = {r["ip"]: r["geo_country"] for r in with_geo_lookup(
        df, dim, ip_col="ip").collect()}
    assert out["10.0.0.30"] == "XX"
    assert out["10.0.0.300"] is None


def test_validate_geo_dim_rejects_overlap(spark):
    from jitsu_spark.operators.geo_ua import validate_geo_dim

    ok = spark.createDataFrame(
        [(0, 10, "A"), (11, 20, "B")],
        "net_start long, net_end long, country string",
    )
    validate_geo_dim(ok)  # no raise
    overlapping = spark.createDataFrame(
        [(0, 10, "A"), (5, 20, "B")],
        "net_start long, net_end long, country string",
    )
    with pytest.raises(ValueError, match="overlap"):
        validate_geo_dim(overlapping)
    inverted = spark.createDataFrame(
        [(10, 0, "A")], "net_start long, net_end long, country string",
    )
    with pytest.raises(ValueError, match="overlap|inverted"):
        validate_geo_dim(inverted)


def test_ga_payload_reserved_keys_raise(spark):
    from jitsu_spark.operators.conversion import ga_payload

    df = spark.createDataFrame([("1", "x")], "cid string, tid string")
    with pytest.raises(ValueError, match="reserved"):
        ga_payload(df, tracking_id="UA-9")          # default fields include tid
    with pytest.raises(ValueError, match="reserved"):
        ga_payload(df, tracking_id="UA-9", fields=["cid", "tid"])
    # excluding the colliding column works
    out = ga_payload(df, tracking_id="UA-9", fields=["cid"]).collect()
    assert out[0]["ga_payload"] == "cid=1&tid=UA-9&v=1"


def test_transform_preview_matches_real_run(spark, tmpdir_path):
    """Dry-run contract (handlers/dry_run.go analog): the preview's routed
    frame, evolution plan, and DDL delta equal the observable state of a
    REAL merge of the same batch — with nothing committed by the preview."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from jitsu_spark.lake import LakeTable
    from jitsu_spark.lake.merge import merge_batch
    from jitsu_spark.operators.preview import transform_preview

    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    table = LakeTable.create(
        spark, os.path.join(tmpdir_path, "tbl"), schema, "doc_id", n_buckets=4
    )
    batch = spark.createDataFrame(
        [("a", 1.5, "red", 0, "i"), ("b", 2.5, "blue", 1, "i")],
        "doc_id string, value double, tag string, seq long, op string",
    )

    v0 = table.snapshot().version
    prev = transform_preview(
        batch,
        destinations={"events": table},
        table_template="events",
        transform=lambda df: df.withColumn("value", F.col("value") * 2),
    )
    # preview committed NOTHING
    assert table.snapshot().version == v0
    tp = prev.tables["events"]
    assert tp.exists and tp.added == ["tag"] and tp.widened == []
    assert any("ADD COLUMN" in s and '"tag"' in s for s in tp.ddl)
    ftypes = {f["field"]: f["sql_type"] for f in tp.fields}
    from jitsu_spark.lake.export_ddl import column_type

    assert ftypes["tag"] == "text"
    assert ftypes["value"] == column_type(T.DoubleType(), "postgres")
    prev_rows = {
        r["doc_id"]: (r["value"], r["tag"]) for r in tp.frame.collect()
    }

    # the REAL run: same stages, then merge — outcome must equal preview
    merge_batch(
        table,
        batch.withColumn("value", F.col("value") * 2),
        batch_id=0,
        job_id="preview-check",
    )
    assert [f.name for f in table.schema().fields] == [
        f["field"] for f in tp.fields
    ]
    real_rows = {
        r["doc_id"]: (r["value"], r["tag"]) for r in table.read().collect()
    }
    assert real_rows == prev_rows == {
        "a": (3.0, "red"), "b": (5.0, "blue")
    }


def test_transform_preview_new_table_create(spark):
    """Routing to tables that don't exist previews CREATE DDL per routed
    name, with per-field SQL types and a sample value."""
    from jitsu_spark.operators.preview import transform_preview

    batch = spark.createDataFrame(
        [("a", "click", 1), ("b", "view", 2)],
        "doc_id string, event_type string, n long",
    )
    prev = transform_preview(
        batch, table_template="ev_{event_type}", key_field="doc_id",
        dialect="bigquery",
    )
    assert set(prev.tables) == {"ev_click", "ev_view"}
    tp = prev.tables["ev_click"]
    assert not tp.exists
    assert tp.ddl[0].startswith("CREATE TABLE")
    vals = {f["field"]: f["value"] for f in tp.fields}
    assert vals["event_type"] == "click" and vals["n"] == 1


# W10 send path: spool -> batched executor-side send -> ack manifest


def _payloads_df(spark, n=100):
    from jitsu_spark.operators.conversion import ga_payload

    rows = [(str(i), "event", str(i % 7)) for i in range(n)]
    return ga_payload(
        spark.createDataFrame(rows, ["cid", "t", "ev"]), tracking_id="UA-9"
    ).selectExpr("cid as event_id", "ga_payload as payload")


def _fs_transport(calls_dir, poison=lambda b: False, heal_flag=None):
    """Picklable transport that logs one O_EXCL marker file per call and
    fails poisoned batches unless the heal flag file exists."""
    import os

    def transport(batch_no, payloads):
        assert all(isinstance(p, str) and "tid=UA-9" in p for p in payloads)
        i = 0
        while True:
            try:
                fd = os.open(
                    os.path.join(calls_dir, f"b{batch_no}_{i}"),
                    os.O_CREAT | os.O_EXCL | os.O_WRONLY,
                )
                os.close(fd)
                break
            except FileExistsError:
                i += 1
        if poison(batch_no) and not (heal_flag and os.path.exists(heal_flag)):
            raise RuntimeError(f"poisoned batch {batch_no}")

    return transport


def _calls(calls_dir):
    import os
    from collections import Counter

    return Counter(int(n.split("_")[0][1:]) for n in os.listdir(calls_dir))


def test_conversion_send_exactly_once_resume(spark, tmpdir_path):
    import os

    from jitsu_spark.operators.sender import ConversionSendJob

    calls = os.path.join(tmpdir_path, "calls")
    os.makedirs(calls)
    job = ConversionSendJob(
        os.path.join(tmpdir_path, "send"),
        _fs_transport(calls),
        id_col="event_id",
        payload_col="payload",
        n_batches=8,
    )
    counts = job.spool(_payloads_df(spark))
    assert sum(counts.values()) == 100

    rep = job.send(spark)
    assert rep.sent == len(counts) and rep.failed == 0
    assert sum(_calls(calls).values()) == len(counts)  # one call per batch

    # acked batches are skipped on a re-run (exactly-once at the ack level)
    rep2 = job.send(spark)
    assert rep2.sent == 0 and sum(_calls(calls).values()) == len(counts)

    # crash window: ack lost after a successful send -> that batch (only)
    # is re-sent; idempotent receiver absorbs the duplicate
    lost = sorted(counts)[0]
    os.remove(os.path.join(job.acks_dir, f"batch_{lost}.json"))
    rep3 = job.send(spark)
    assert rep3.sent == 1
    assert _calls(calls)[lost] == 2
    assert sum(_calls(calls).values()) == len(counts) + 1


def test_conversion_send_retry_dlq_and_replay(spark, tmpdir_path):
    import os

    from jitsu_spark.operators.sender import ConversionSendJob

    calls = os.path.join(tmpdir_path, "calls")
    os.makedirs(calls)
    heal = os.path.join(tmpdir_path, "healed")
    poison = lambda b: b % 3 == 1  # noqa: E731
    job = ConversionSendJob(
        os.path.join(tmpdir_path, "send"),
        _fs_transport(calls, poison=poison, heal_flag=heal),
        n_batches=8,
        max_retries=3,
    )
    counts = job.spool(_payloads_df(spark))
    bad = {b for b in counts if poison(b)}
    assert bad and bad != set(counts)

    rep = job.send(spark)
    assert rep.failed == len(bad) and rep.sent == len(counts) - len(bad)
    acks = job.acks()
    for b in bad:  # retried to the cap, error recorded
        assert acks[b]["status"] == "failed"
        assert acks[b]["attempts"] == 3 and "poisoned" in acks[b]["error"]
    assert all(_calls(calls)[b] == 3 for b in bad)

    # replay_failed() after the cause is fixed: ONLY failed batches re-send
    open(heal, "w").close()
    rep2 = job.replay_failed(spark)
    assert rep2.sent == len(bad) and rep2.failed == 0
    assert all(job.acks()[b]["status"] == "sent" for b in counts)
    good_calls = sum(_calls(calls)[b] for b in counts if b not in bad)
    assert good_calls == len(counts) - len(bad)  # good batches never re-sent

    # the ack ledger accounts for every spooled event exactly once
    ledger = job.ack_frame(spark)
    assert ledger.agg({"n_events": "sum"}).collect()[0][0] == 100


def test_conversion_send_respool_invalidates_stale_acks(spark, tmpdir_path):
    """Re-spooling DIFFERENT content into a reused work_dir must re-send:
    acks are tied to the spool content signature, so day-2 data cannot be
    silently 'already sent' (review finding r5)."""
    import os

    from jitsu_spark.operators.sender import ConversionSendJob

    calls = os.path.join(tmpdir_path, "calls")
    os.makedirs(calls)
    job = ConversionSendJob(
        os.path.join(tmpdir_path, "send"),
        _fs_transport(calls),
        id_col="event_id",
        payload_col="payload",
        n_batches=8,
    )
    day1 = job.spool(_payloads_df(spark, n=60))
    assert job.send(spark).sent == len(day1)

    # identical re-spool: signatures match, acks survive, nothing re-sends
    job.spool(_payloads_df(spark, n=60))
    assert job.send(spark).sent == 0

    # different content (disjoint ids): every batch must send again
    day2 = job.spool(
        _payloads_df(spark, n=120).filter("cast(event_id as int) >= 60")
    )
    rep = job.send(spark)
    assert rep.sent == len(day2)
    assert rep.skipped_acked == 0 or rep.sent > 0  # no silent full-skip


def test_conversion_send_null_ids_rejected(spark, tmpdir_path):
    import os

    import pytest as _pt

    from jitsu_spark.operators.sender import ConversionSendJob

    job = ConversionSendJob(
        os.path.join(tmpdir_path, "send2"),
        _fs_transport(os.path.join(tmpdir_path, "c2")),
    )
    df = spark.createDataFrame(
        [(None, "p0"), ("1", "p1")], "event_id string, payload string"
    )
    with _pt.raises(ValueError, match="NULL"):
        job.spool(df)
