"""Retrospective user recognition (ST8): anonymous events are parked and
retroactively completed when the identity mapping arrives — port of the
reference's retrospective_users_recognition integration semantics."""

from __future__ import annotations

import os

from pyspark.sql import types as T

from jitsu_spark.lake import LakeTable
from jitsu_spark.streaming.recognition import UserRecognition

DEST_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.StringType()),
        T.StructField("anon_id", T.StringType()),
        T.StructField("user_id", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)

BATCH_SCHEMA = T.StructType(
    [T.StructField("seq", T.LongType()), T.StructField("op", T.StringType())]
    + list(DEST_SCHEMA.fields)
)


def ev(seq, event_id, anon_id, user_id, value=1.0, op="i"):
    return {
        "seq": seq, "op": op, "event_id": event_id,
        "anon_id": anon_id, "user_id": user_id, "value": value,
    }


def test_retrospective_recognition(spark, tmpdir_path):
    dest = LakeTable.create(
        spark, os.path.join(tmpdir_path, "dest"), DEST_SCHEMA, "event_id",
        n_buckets=4,
    )
    rec = UserRecognition(spark, tmpdir_path, dest)

    # batch 0: two anonymous events + one directly-identified event
    b0 = spark.createDataFrame(
        [
            ev(1, "e1", "a1", None),
            ev(2, "e2", "a1", None),
            ev(3, "e3", None, "u3"),
        ],
        BATCH_SCHEMA,
    )
    r0 = rec.apply_batch(b0, batch_id=0)
    assert (r0.n_direct, r0.n_recognized_in_batch, r0.n_parked) == (1, 0, 2)
    dest_rows = {r["event_id"]: r for r in dest.read().collect()}
    assert set(dest_rows) == {"e3"}
    assert rec._pending.read().count() == 2

    # batch 1: the identify event arrives -> parked events are completed
    b1 = spark.createDataFrame([ev(4, "e4", "a1", "U1", 9.0)], BATCH_SCHEMA)
    r1 = rec.apply_batch(b1, batch_id=1)
    assert r1.n_direct == 1 and r1.n_reconciled == 2
    dest_rows = {r["event_id"]: r for r in dest.read().collect()}
    assert set(dest_rows) == {"e1", "e2", "e3", "e4"}
    assert dest_rows["e1"]["user_id"] == "U1"
    assert dest_rows["e2"]["user_id"] == "U1"
    assert rec._pending.read().count() == 0  # unparked

    # batch 2: a later anonymous event for an ALREADY-known anon id is
    # recognized inline, never parked
    b2 = spark.createDataFrame([ev(5, "e5", "a1", None, 2.0)], BATCH_SCHEMA)
    r2 = rec.apply_batch(b2, batch_id=2)
    assert r2.n_recognized_in_batch == 1 and r2.n_parked == 0
    assert {r["event_id"] for r in dest.read().collect()} == {
        "e1", "e2", "e3", "e4", "e5"
    }
    assert {
        r["user_id"] for r in dest.read().filter("event_id = 'e5'").collect()
    } == {"U1"}


def test_recognition_mor_with_snapshot_expiry(spark, tmpdir_path):
    """Steady-state recognition: ALL tables (destination + identities +
    pending) in write.mode=mor, with consumer-cursor-safe snapshot expiry
    running between batches. The expiry horizon floors at a lagging
    mirror's sync cursor, so the mirror can still catch up exactly; the
    recognition fixpoint is identical to the CoW run's."""
    from jitsu_spark.lake import sync_mirror
    from jitsu_spark.lake.maintenance import expire_snapshots_safe

    dest = LakeTable.create(
        spark, os.path.join(tmpdir_path, "dest"), DEST_SCHEMA, "event_id",
        n_buckets=4, properties={"write.mode": "mor"},
    )
    mirror = LakeTable.create(
        spark, os.path.join(tmpdir_path, "mirror"), DEST_SCHEMA, "event_id",
        n_buckets=4,
    )
    rec = UserRecognition(
        spark, tmpdir_path, dest, table_properties={"write.mode": "mor"}
    )
    assert rec.identities.snapshot().properties.get("write.mode") == "mor"

    b0 = spark.createDataFrame(
        [ev(1, "e1", "a1", None), ev(2, "e2", "a1", None),
         ev(3, "e3", None, "u3")],
        BATCH_SCHEMA,
    )
    rec.apply_batch(b0, batch_id=0)
    sync_mirror(dest, mirror, job_id="m")  # mirror cursor parks here
    assert rec._pending.snapshot().properties.get("write.mode") == "mor"

    # several more batches advance the destination while the mirror lags
    b1 = spark.createDataFrame([ev(4, "e4", "a1", "U1", 9.0)], BATCH_SCHEMA)
    rec.apply_batch(b1, batch_id=1)
    b2 = spark.createDataFrame([ev(5, "e5", "a1", None, 2.0)], BATCH_SCHEMA)
    rec.apply_batch(b2, batch_id=2)

    # aggressive expiry request on every table: the destination's horizon
    # must floor at the lagging mirror's cursor; the state tables have no
    # registered consumers and expire down to the minimum window
    cur = dest.snapshot().version
    expired = expire_snapshots_safe(dest, [(mirror, "m")], keep_last=2)
    assert all(v < cur for v in expired)
    expire_snapshots_safe(rec.identities, [], keep_last=2)
    expire_snapshots_safe(rec._pending, [], keep_last=2)

    # lagging mirror catches up across the expiry — cursor floor held
    sync_mirror(dest, mirror, job_id="m")
    dest_rows = {r["event_id"]: r["user_id"] for r in dest.read().collect()}
    assert dest_rows == {
        "e1": "U1", "e2": "U1", "e3": "u3", "e4": "U1", "e5": "U1"
    }
    mirror_rows = {
        r["event_id"]: r["user_id"] for r in mirror.read().collect()
    }
    assert mirror_rows == dest_rows
    assert rec._pending.read().count() == 0
    # reconciler keeps working after expiry: a new anon for a known id
    b3 = spark.createDataFrame([ev(6, "e6", "a1", None, 3.0)], BATCH_SCHEMA)
    r3 = rec.apply_batch(b3, batch_id=3)
    assert r3.n_recognized_in_batch == 1 and r3.n_parked == 0


def test_unkeyed_events_route_to_destination(spark, tmpdir_path):
    """Events with neither user_id nor anon_id (e.g. a delete envelope
    without ids) must reach the destination merge, not vanish."""
    dest = LakeTable.create(
        spark, os.path.join(tmpdir_path, "dest"), DEST_SCHEMA, "event_id",
        n_buckets=4,
    )
    rec = UserRecognition(spark, tmpdir_path, dest)
    b0 = spark.createDataFrame(
        [ev(1, "e1", None, None, 5.0), ev(2, "e2", None, "u2")], BATCH_SCHEMA
    )
    r0 = rec.apply_batch(b0, batch_id=0)
    assert r0.n_unkeyed == 1 and r0.n_direct == 1 and r0.n_parked == 0
    assert {r["event_id"] for r in dest.read().collect()} == {"e1", "e2"}
    # an unkeyed delete tombstone removes the row
    b1 = spark.createDataFrame([ev(3, "e1", None, None, op="d")], BATCH_SCHEMA)
    r1 = rec.apply_batch(b1, batch_id=1)
    assert r1.n_unkeyed == 1
    assert {r["event_id"] for r in dest.read().collect()} == {"e2"}


def test_recognition_redelivery_idempotent(spark, tmpdir_path):
    dest = LakeTable.create(
        spark, os.path.join(tmpdir_path, "dest"), DEST_SCHEMA, "event_id",
        n_buckets=4,
    )
    rec = UserRecognition(spark, tmpdir_path, dest)
    b0 = spark.createDataFrame(
        [ev(1, "e1", "a1", None), ev(2, "e2", "a1", "U1")], BATCH_SCHEMA
    )
    rec.apply_batch(b0, batch_id=0)
    before = sorted(map(str, dest.read().collect()))
    rec.apply_batch(b0, batch_id=0)  # foreachBatch redelivery
    after = sorted(map(str, dest.read().collect()))
    assert before == after


def test_expire_pending_bounds_state(spark, tmpdir_path):
    """Parked events older than the retention horizon are dropped; newer
    ones stay identifiable."""
    dest = LakeTable.create(
        spark, os.path.join(tmpdir_path, "dest"), DEST_SCHEMA, "event_id",
        n_buckets=4,
    )
    rec = UserRecognition(spark, tmpdir_path, dest)
    b0 = spark.createDataFrame(
        [ev(1, "e1", "a1", None), ev(50, "e2", "a2", None)], BATCH_SCHEMA
    )
    rec.apply_batch(b0, batch_id=0)
    assert rec._pending.read().count() == 2
    assert rec.expire_pending(before_seq=10, batch_id="exp0") == 1
    assert {r["event_id"] for r in rec._pending.read().collect()} == {"e2"}
    # the surviving parked event is still identifiable
    b1 = spark.createDataFrame([ev(60, "e3", "a2", "U2")], BATCH_SCHEMA)
    r1 = rec.apply_batch(b1, batch_id=1)
    assert r1.n_reconciled == 1
    rows = {r["event_id"]: r["user_id"] for r in dest.read().collect()}
    assert rows.get("e2") == "U2" and "e1" not in rows


def test_recognition_large_anon_slice_falls_back_to_shuffle(spark, tmpdir_path):
    """Above broadcast_row_threshold the anonymous slice must not be
    force-broadcast (ADVICE r2: 10^7-row slices would blow the driver);
    results stay identical through the shuffled path."""
    dest = LakeTable.create(
        spark, os.path.join(tmpdir_path, "dest"), DEST_SCHEMA, "event_id",
        n_buckets=4,
    )
    rec = UserRecognition(
        spark, tmpdir_path, dest, broadcast_row_threshold=2
    )
    b0 = spark.createDataFrame(
        [ev(1, "e1", "a1", "U1")], BATCH_SCHEMA
    )
    rec.apply_batch(b0, batch_id=0)  # seed the identity mapping
    # 5 anonymous events > threshold=2 -> shuffled join regime
    b1 = spark.createDataFrame(
        [ev(10 + i, f"x{i}", "a1" if i % 2 == 0 else "a9", None)
         for i in range(5)],
        BATCH_SCHEMA,
    )
    r1 = rec.apply_batch(b1, batch_id=1)
    assert r1.n_recognized_in_batch == 3   # a1 events resolve to U1
    assert r1.n_parked == 2                # a9 events park
    rows = {r["event_id"]: r["user_id"] for r in dest.read().collect()}
    assert rows["x0"] == rows["x2"] == rows["x4"] == "U1"
    assert "x1" not in rows and "x3" not in rows
