"""The two workloads of the CDC-path benchmark.

Both drive the engine only through its public API (``changelog_df`` to
make the input, ``LakeTable``, ``CdcStreamJob``) and time the calls into
each layer from here. The engine receives nothing but the generated
change-log files.

``backlog_cow``
    Closed-loop catch-up: a backlog of large single-row-group change-log
    files lands at once in an empty 64-bucket copy-on-write table's source
    directory and is replayed by ``run_available_now``, one file per
    trigger. Large batches amortise the fixed per-batch cost, so source
    decode, the stats pre-pass, the LWW reduce and the bucket rewrite do
    most of the work.
``tail_mor``
    Open loop: one thread lands small files by ``os.rename`` on a fixed
    schedule into the source of ``start_continuous`` (trigger ``0
    seconds``, one file per trigger, no in-stream compaction) over a
    preloaded, compacted merge-on-read table. The rate stays below
    capacity, so freshness comes from one population of batches. Tiny
    batches make the fixed per-batch cost dominate. Dirty scans then
    exercise the reconcile path that ``backlog_cow`` bypasses, and a
    compaction folds the deltas.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQueryListener

from jitsu_spark.changelog import CHANGELOG_SCHEMA, changelog_df
from jitsu_spark.lake import LakeTable
from jitsu_spark.lake import metadata as lake_metadata
from jitsu_spark.streaming import CdcStreamJob

from perfbench import sparkstats, state
from perfbench.stats import TooFewSamples, percentile
from perfbench.timeline import Tracer, commit_for_files, uncovered

TABLE_SCHEMA = T.StructType(
    [f for f in CHANGELOG_SCHEMA.fields if f.name not in ("seq", "op")]
)
# Change-log mix shared by both workloads: 10% of events hit one hot key,
# 1% are delivered twice, 10% are deletes.
LOG_MIX = dict(hot_key_pct=0.10, dup_pct=0.01, p_delete=0.10)
# Set-up work that can be repeated (table preparation) runs this many
# times; setup_s takes the median, and the repeats double as warm-ups.
PREPS = 3

BACKLOG = dict(
    n_buckets=64,
    n_docs=20_000,
    file_events=25_000,
    # the catch-up lands --seconds / file_s files (odd, at least 3, so the
    # median event never sits on a file boundary): file_s is about what one
    # file takes today, so the catch-up lasts about --seconds
    file_s=2.5,
    warm_file_events=2_000,
    warm_buckets=8,
    scans=11,
)
TAIL = dict(
    n_buckets=4,
    n_docs=20_000,
    file_events=2_000,
    # a micro-batch takes 0.4 s on a quiet 4-core VM and up to 1.0 s when
    # its host is busy, so the loop keeps up through a further 1.6x slowdown
    interval_s=1.6,
    min_files=20,  # the median needs 10 files beyond it
    drain_s=30.0,
    # a dirty scan over 20 delta commits takes 3 to 5 s
    scans=1,
)


@dataclass
class StagedFile:
    path: str
    lo: int
    hi: int
    rows: int
    nbytes: int

    @property
    def name(self) -> str:
        return os.path.basename(self.path)


@dataclass
class Run:
    """State of one benchmark run: its session, working directory, tracer,
    the operations it attempted, and the metrics it measured."""

    spark: object
    work: str
    seed: int
    seconds: float
    tracer: Tracer
    attempted: int = 0
    failed: int = 0
    correct: bool = True
    e2e: dict = field(default_factory=dict)  # name -> (value, unit)
    layer: dict = field(default_factory=dict)  # name -> value
    notes: list = field(default_factory=list)

    @property
    def sc(self):
        return self.spark.sparkContext

    def op(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"FAILED {what}")
        return ok

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p


# -- input staging -----------------------------------------------------------


def stage_log(run: Run, n_docs: int, segments) -> list[list[StagedFile]]:
    """Generate one change log with ``changelog_df`` and cut it by seq
    range into single-row-group parquet files, as a producer lands them.

    ``segments``: ``(directory, n_files, events_per_file)`` in seq order.
    Both deliveries of a duplicated event share its seq, so they land in
    the same file."""
    t = time.time()
    n_events = sum(n * e for _, n, e in segments)
    log = changelog_df(
        run.spark, n_events, n_docs, seed=run.seed, n_partitions=4, **LOG_MIX
    ).toArrow()
    log = log.take(pc.sort_indices(log, [("seq", "ascending")]))
    seq = log.column("seq").to_numpy()
    out, lo = [], 0
    for directory, n_files, events in segments:
        os.makedirs(directory, exist_ok=True)
        files = []
        for i in range(n_files):
            a, b = np.searchsorted(seq, [lo, lo + events])
            path = os.path.join(directory, f"log-{lo:012d}.parquet")
            pq.write_table(log.slice(a, b - a), path, row_group_size=b - a)
            files.append(StagedFile(path, lo, lo + events - 1, int(b - a),
                                    os.path.getsize(path)))
            lo += events
        out.append(files)
    run.notes.append(f"staging: {n_events} events in {time.time() - t:.2f} s")
    return out


# -- engine calls ------------------------------------------------------------


def new_table(run: Run, root: str, n_buckets: int, mode: str) -> LakeTable:
    return LakeTable.create(
        run.spark, root, TABLE_SCHEMA, "doc_id", n_buckets=n_buckets,
        properties={"write.mode": mode},
    )


def stream_job(table: LakeTable, src: str, ckpt: str, job_id: str,
               probe: "MergeProbe | None" = None) -> CdcStreamJob:
    return CdcStreamJob(
        table,
        source_dir=src,
        checkpoint_dir=ckpt,
        job_id=job_id,
        source_schema=CHANGELOG_SCHEMA,
        max_files_per_trigger=1,
        transform=probe.before if probe else None,
        post_commit=probe.after if probe else None,
    )


def full_scan(table: LakeTable) -> None:
    """Full snapshot scan into a sink that discards rows."""
    table.read().write.format("noop").mode("overwrite").save()


def timed_calls(run: Run, name: str, fn, n: int) -> list[float]:
    """Call ``fn`` ``n`` times, each inside a span and its own job group."""
    walls = []
    for i in range(n):
        group = f"pb.{name}.{i}"
        prev = sparkstats.tag(run.sc, group) if run.tracer.enabled else None
        try:
            with run.tracer.span(name, group=group) as s:
                fn()
            walls.append(s.duration)
            run.op(True, name)
        except Exception as e:  # noqa: BLE001 - a failed call is counted, not fatal
            run.op(False, f"{name}: {e!r}")
        finally:
            if run.tracer.enabled:
                sparkstats.restore(run.sc, prev)
    return walls


def commits(table: LakeTable, job_id: str) -> list[dict]:
    return [
        e for e in table.snapshot().lineage
        if e.get("kind") == "merge" and e.get("job_id") == job_id
    ]


def check_state(run: Run, table: LakeTable, expected, what: str) -> int:
    """Compare the table with the expected state; returns the live rows."""
    got = state.digest(table.read())
    ok = got == expected
    run.op(ok, f"state check {what}: table {got} != expected {expected}")
    if not ok:
        run.correct = False
    run.notes.append(f"state check {what}: {'ok' if ok else 'MISMATCH'} "
                     f"({got[0]} live rows)")
    return got[0]


def table_health(table: LakeTable) -> dict:
    snap = table.snapshot()
    live_bytes = sum(
        os.path.getsize(os.path.join(table.root, e["path"]))
        for es in snap.files.values() for e in es
    )
    return {
        "files": sum(len(es) for es in snap.files.values()),
        "files_per_bucket_max": max((len(es) for es in snap.files.values()), default=0),
        "delta_depth_max": max(
            (sum(e.get("kind") == "delta" for e in es) for es in snap.files.values()),
            default=0,
        ),
        "dirty_buckets": sum(
            any(e.get("kind") == "delta" for e in es) for es in snap.files.values()
        ),
        "live_bytes": live_bytes,
    }


def applied_files(run: Run, landed: list[StagedFile], applied: list) -> int:
    """One operation per landed file: it succeeded when a commit covers the
    file. Returns the files no commit covers."""
    for f, c in zip(landed, applied):
        run.op(c is not None, f"apply {f.name}")
    undrained = sum(c is None for c in applied)
    run.layer["harness.backlog_files_end"] = undrained
    return undrained


def file_freshness(run: Run, landed: list[StagedFile], due: list[float],
                   applied: list) -> None:
    """freshness_s_p50 of an open loop: per landed file, from its scheduled
    landing to the commit that covers it. A loop that left a file undrained
    did not keep up, and reports that instead of a freshness."""
    undrained = applied_files(run, landed, applied)
    samples = [c["ts_ms"] / 1e3 - d for d, c in zip(due, applied) if c is not None]
    run.layer["harness.freshness_samples"] = len(samples)
    run.notes.append(f"freshness samples: {len(samples)} landed files")
    if undrained:
        run.notes.append(f"freshness not reported: {undrained} files undrained")
        return
    try:
        run.e2e["freshness_s_p50"] = (percentile(samples, 0.5), "s")
    except TooFewSamples as e:
        run.notes.append(f"freshness not reported: {e}")


def setup_metric(run: Run, wall_s: float, prep_s: list[float]) -> None:
    """setup_s: all set-up wall time, with the repeated preparation
    counted once, at its median."""
    value = wall_s - sum(prep_s) + statistics.median(prep_s)
    run.notes.append(
        f"setup: {wall_s:.2f} s wall; preparations "
        + ", ".join(f"{p:.2f}" for p in prep_s) + f" s; setup_s {value:.2f} s"
    )
    run.e2e["setup_s"] = (value, "s")


# -- tracing probes (traced runs only) ---------------------------------------


class MergeProbe:
    """``transform`` / ``post_commit`` hooks of a ``CdcStreamJob``: they run
    in the micro-batch thread right before and right after the engine's
    merge call, so they open a ``lake.merge`` span around it and tag its
    Spark jobs with a job group of their own."""

    def __init__(self, run: Run, prefix: str):
        self.run = run
        self.prefix = prefix
        self.calls: list[tuple[str, object]] = []
        self._open = None

    def before(self, batch_df):
        t = time.time()
        group = f"{self.prefix}.merge.{len(self.calls)}"
        prev = sparkstats.tag(self.run.sc, group)
        span = self.run.tracer.enter("lake.merge", group=group)
        self._open = (span, prev)
        self.calls.append((group, span))
        self.run.tracer.hook_s += time.time() - t
        return batch_df

    def after(self, batch_id) -> None:
        t = time.time()
        span, prev = self._open
        self.run.tracer.exit(span)
        sparkstats.restore(self.run.sc, prev)
        self.run.tracer.hook_s += time.time() - t


class ProgressLog(StreamingQueryListener):
    """Collects every micro-batch progress report of the run's queries."""

    def __init__(self):
        self.progress = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.progress.append(event.progress)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def instrument_metadata(tracer: Tracer):
    """Wrap the snapshot load and commit of the lake metadata layer in
    spans. Returns a function that removes the wrappers."""
    orig_load = lake_metadata.load_snapshot
    orig_commit = lake_metadata.commit_snapshot

    def load_snapshot(root, version=None):
        with tracer.span("lake.metadata.load"):
            return orig_load(root, version)

    def commit_snapshot(root, snap):
        with tracer.span("lake.metadata.commit", version=snap.version, root=root):
            return orig_commit(root, snap)

    lake_metadata.load_snapshot = load_snapshot
    lake_metadata.commit_snapshot = commit_snapshot

    def undo():
        lake_metadata.load_snapshot = orig_load
        lake_metadata.commit_snapshot = orig_commit

    return undo


def p50(values) -> float:
    return statistics.median(values) if values else 0.0


def merge_layers(run: Run, probe: MergeProbe, progress, table: LakeTable,
                 files: list[StagedFile]) -> None:
    """Per-layer numbers of the timed merges, read after the window.

    Spark's stage input bytes undercount vectorized parquet reads, so the
    bytes a batch brings in are the on-disk bytes of its landed file."""
    sc, tr, L = run.sc, run.tracer, run.layer
    stats = [(sparkstats.group_stats(sc, g), span) for g, span in probe.calls]
    n = max(len(stats), 1)
    # streaming layer: the query's own progress reports of data batches
    data = [p for p in progress if p.numInputRows > 0]
    dur = [p.durationMs for p in data]
    L["sources.offset_ms_p50"] = p50([d.get("latestOffset", 0) for d in dur])
    events = sum(f.rows for f in files)
    L["sources.input_bytes_per_batch"] = p50([f.nbytes for f in files])
    L["sources.scan_tasks_per_batch"] = p50([s.first_stage_tasks for s, _ in stats])
    L["streaming.trigger_ms_p50"] = p50([d.get("triggerExecution", 0) for d in dur])
    L["streaming.overhead_ms_p50"] = p50(
        [d.get("triggerExecution", 0) - d.get("addBatch", 0) for d in dur]
    )
    L["streaming.wal_ms_p50"] = p50([d.get("walCommit", 0) for d in dur])
    # merge layer
    L["lake.merge.wall_ms_p50"] = p50([sp.duration * 1e3 for _, sp in stats])
    L["lake.merge.jobs_per_call"] = p50([s.jobs for s, _ in stats])
    L["lake.merge.stages_per_call"] = p50([s.stages for s, _ in stats])
    L["lake.merge.tasks_per_call"] = p50([s.tasks for s, _ in stats])
    L["lake.merge.driver_gap_ms_per_call"] = p50(
        [uncovered(sp.start, sp.end, s.job_intervals) * 1e3 for s, sp in stats]
    )
    cpu = sum(s.cpu_ms for s, _ in stats)
    L["lake.merge.executor_cpu_ms_per_krow"] = cpu / max(events / 1e3, 1e-9)
    L["lake.merge.shuffle_write_bytes_per_row"] = (
        sum(s.shuffle_write_bytes for s, _ in stats) / max(events, 1)
    )
    L["lake.merge.output_bytes_per_call"] = p50([s.output_bytes for s, _ in stats])
    L["lake.merge.rewrite_amplification"] = (
        sum(s.output_bytes for s, _ in stats) / max(sum(f.nbytes for f in files), 1)
    )
    # metadata layer: loads and commits made inside the timed merge calls
    merge_ids = {sp.sid for _, sp in stats}
    loads = [s for s in tr.named("lake.metadata.load") if s.parent in merge_ids]
    commit_spans = [s for s in tr.named("lake.metadata.commit") if s.parent in merge_ids]
    L["lake.metadata.load_calls_per_batch"] = len(loads) / n
    L["lake.metadata.load_ms_per_batch"] = sum(s.duration for s in loads) * 1e3 / n
    L["lake.metadata.commit_ms_p50"] = p50([s.duration * 1e3 for s in commit_spans])
    snap = table.snapshot()
    L["lake.metadata.descriptor_bytes"] = os.path.getsize(
        os.path.join(table.root, "metadata", f"v{snap.version}.json")
    )
    L["lake.merge.files_written_per_call"] = p50(
        [files_written(table, c.attrs["version"]) for c in commit_spans]
    )


def files_written(table: LakeTable, version: int) -> int:
    """Data files a commit added: paths in its snapshot but not its parent's."""
    new = {e["path"] for es in table.snapshot(version).files.values() for e in es}
    old = {e["path"] for es in table.snapshot(version - 1).files.values() for e in es}
    return len(new - old)


def call_layers(run: Run, name: str, prefix: str, walls: list[float]) -> None:
    """Spark counters of our own scan / compact calls (median per call)."""
    stats = [sparkstats.group_stats(run.sc, f"pb.{name}.{i}") for i in range(len(walls))]
    if name == "read":
        run.layer[f"{prefix}.scan_ms_p50"] = p50([w * 1e3 for w in walls])
        run.layer[f"{prefix}.shuffle_bytes"] = p50([s.shuffle_write_bytes for s in stats])
    else:
        run.layer[f"{prefix}.bytes_rewritten"] = p50([s.output_bytes for s in stats])
        run.layer[f"{prefix}.tasks"] = p50([s.tasks for s in stats])
    run.layer[f"{prefix}.executor_cpu_ms"] = p50([s.cpu_ms for s in stats])


def health_layers(run: Run, h: dict) -> None:
    run.layer["table.delta_depth_max"] = h["delta_depth_max"]
    run.layer["table.files_per_bucket_max"] = h["files_per_bucket_max"]
    run.layer["table.live_bytes"] = h["live_bytes"]
    # a full scan opens every live file
    run.layer["lake.table.read.files_opened"] = h["files"]
    run.layer["lake.table.read.dirty_buckets"] = h["dirty_buckets"]


# -- workloads ---------------------------------------------------------------


def land(files: list[StagedFile], directory: str) -> list[StagedFile]:
    """Make staged files visible to the source, each by one atomic rename."""
    out = []
    for f in files:
        dst = os.path.join(directory, f.name)
        os.rename(f.path, dst)
        out.append(StagedFile(dst, f.lo, f.hi, f.rows, f.nbytes))
    return out


def post_window(run: Run, table: LakeTable, expected, what: str, scans: int) -> int:
    """Untimed state check, then the timed scans; returns the live rows."""
    live = check_state(run, table, expected, what)
    health = table_health(table)
    t = time.time()
    walls = timed_calls(run, "read", lambda: full_scan(table), scans)
    run.notes.append(f"scans: {time.time() - t:.2f} s")
    if walls:
        run.e2e["scan_rows_per_s"] = (live / statistics.median(walls), "1/s")
    run.e2e["bytes_per_live_row"] = (health["live_bytes"] / max(live, 1), "B")
    if run.tracer.enabled:
        call_layers(run, "read", "lake.table.read", walls)
        health_layers(run, health)
    return live


def backlog_cow(run: Run, t_start: float) -> None:
    S = BACKLOG
    tracer = run.tracer
    n_files = max(3, int(run.seconds / S["file_s"])) | 1
    warm, backlog = stage_log(
        run, S["n_docs"],
        [(run.path("stage", "warm", ""), PREPS, S["warm_file_events"]),
         (run.path("stage", "backlog", ""), n_files, S["file_events"])],
    )
    # untimed warm-ups of the timed merges and compaction, on a table of
    # their own: PREPS replays (into the empty table, then into the
    # populated one) and a full compaction; the state check warms the
    # scans. The warm-up table has fewer buckets: the plans and their
    # generated code are the same, and a replay costs a third as much.
    prep_s = []
    warm_table = new_table(run, run.path("warm", "table"), S["warm_buckets"], "cow")
    warm_job = stream_job(warm_table, run.path("warm", "src", ""), run.path("warm", "ckpt"), "warm")
    for f in warm:
        t = time.time()
        land([f], warm_job.source_dir)
        warm_job.run_available_now(run.spark)
        prep_s.append(time.time() - t)
    warm_table.compact(max_files_per_bucket=0)
    table = new_table(run, run.path("table"), S["n_buckets"], "cow")
    src = run.path("src", "")
    probe = MergeProbe(run, "pb") if tracer.enabled else None
    job = stream_job(table, src, run.path("ckpt"), "backlog", probe)
    progress = None
    if tracer.enabled:
        progress = ProgressLog()
        run.spark.streams.addListener(progress)
        undo = instrument_metadata(tracer)
    setup_metric(run, time.time() - t_start, prep_s)

    # timed: the whole backlog lands at once and is caught up
    t_land = time.time()
    landed = land(backlog, src)
    job.run_available_now(run.spark, timeout_s=150)
    wall = time.time() - t_land
    if tracer.enabled:
        undo()
    events = sum(f.rows for f in landed)
    run.e2e["apply_rows_per_s"] = (events / wall, "1/s")
    run.notes.append(f"catch-up: {len(landed)} files, {events} events in {wall:.2f} s")
    applied = commit_for_files([(f.lo, f.hi) for f in landed], commits(table, "backlog"))
    applied_files(run, landed, applied)
    # The files land together and each holds the same number of seqs, so
    # the median event lies in the middle one (the count is odd): one
    # sample per run, the catch-up time to the commit of that file.
    middle = applied[len(applied) // 2]
    run.layer["harness.freshness_samples"] = 1
    if middle is not None:
        run.e2e["freshness_s_p50"] = (middle["ts_ms"] / 1e3 - t_land, "s")

    expected = state.expected_digest(run.spark, [f.path for f in landed])
    post_window(run, table, expected, "after catch-up", S["scans"])
    # the catch-up leaves one file per bucket, so the default threshold
    # would find nothing to do: time a full fold of every bucket instead
    walls = timed_calls(run, "compact", lambda: table.compact(max_files_per_bucket=0), 1)
    if walls:
        run.e2e["compact_s"] = (walls[0], "s")
    if tracer.enabled:
        # the listener bus delivers progress asynchronously
        deadline = time.time() + 10
        while (sum(p.numInputRows > 0 for p in progress.progress) < len(landed)
               and time.time() < deadline):
            time.sleep(0.05)
        run.spark.streams.removeListener(progress)
        merge_layers(run, probe, progress.progress, table, landed)
        call_layers(run, "compact", "lake.table.compact", walls)
        run.layer["harness.generator_late_s_max"] = 0.0


def tail_mor(run: Run, t_start: float) -> None:
    S = TAIL
    tracer = run.tracer
    n_files = max(S["min_files"], int(run.seconds / S["interval_s"]))
    preload, staged = stage_log(
        run, S["n_docs"],
        [(run.path("stage", "preload", ""), PREPS, S["file_events"]),
         (run.path("stage", "tail", ""), n_files, S["file_events"])],
    )
    # preload the table in PREPS delta merges, then compact it fully:
    # untimed warm-ups of the timed merges and compaction (the state check
    # warms the dirty scans)
    prep_s = []
    table = new_table(run, run.path("table"), S["n_buckets"], "mor")
    pre_job = stream_job(table, run.path("preload", "src", ""), run.path("preload", "ckpt"),
                         "preload")
    for f in preload:
        t = time.time()
        land([f], pre_job.source_dir)
        pre_job.run_available_now(run.spark)
        prep_s.append(time.time() - t)
    table.compact(max_files_per_bucket=0)
    src = run.path("src", "")
    probe = MergeProbe(run, "pb") if tracer.enabled else None
    job = stream_job(table, src, run.path("ckpt"), "tail", probe)
    q = job.start_continuous(run.spark, processing_time="0 seconds")
    deadline = time.time() + 30
    while q.status["message"] != "Waiting for data to arrive" and time.time() < deadline:
        time.sleep(0.05)
    if tracer.enabled:
        undo = instrument_metadata(tracer)
    setup_metric(run, time.time() - t_start, prep_s)

    # timed: open-loop landing on a fixed schedule, from its own thread
    interval = S["interval_s"]
    start = time.time() + 0.1
    due = [start + i * interval for i in range(n_files)]
    late, landed = [], []

    def lander():
        for f, d in zip(staged, due):
            time.sleep(max(0.0, d - time.time()))
            landed.extend(land([f], src))
            late.append(time.time() - d)

    th = threading.Thread(target=lander, name="perfbench-lander")
    th.start()
    th.join()
    last_hi = staged[-1].hi
    deadline = time.time() + S["drain_s"]
    while time.time() < deadline and q.isActive and not any(
        r.seq_max is not None and r.seq_max >= last_hi for r in job.results
    ):
        time.sleep(0.05)
    q.stop()
    if tracer.enabled:
        undo()
    run.op(q.exception() is None, f"tail query: {q.exception()!r}")
    progress = [p for p in q.recentProgress if p.numInputRows > 0]
    applied = commit_for_files([(f.lo, f.hi) for f in landed], commits(table, "tail"))
    file_freshness(run, landed, due, applied)
    # capacity: the median micro-batch's events per second of execution
    if progress:
        run.e2e["apply_rows_per_s"] = (statistics.median(
            p.numInputRows / (p.durationMs["triggerExecution"] / 1e3) for p in progress
        ), "1/s")
    run.notes.append(
        f"open loop: {len(landed)} files of {S['file_events']} events, one every "
        f"{interval} s; {sum(c is None for c in applied)} undrained"
    )

    t = time.time()
    expected = state.expected_digest(
        run.spark, [os.path.join(pre_job.source_dir, f.name) for f in preload]
        + [f.path for f in landed]
    )
    run.notes.append(f"expected: {time.time() - t:.2f} s")
    post_window(run, table, expected, "tail, before compaction", S["scans"])
    t = time.time()
    walls = timed_calls(run, "compact", table.compact, 1)
    run.notes.append(f"compact: {time.time() - t:.2f} s")
    if walls:
        run.e2e["compact_s"] = (walls[0], "s")
    check_state(run, table, expected, "tail, after compaction")
    if tracer.enabled:
        merge_layers(run, probe, progress, table, landed)
        call_layers(run, "compact", "lake.table.compact", walls)
        run.layer["harness.generator_late_s_max"] = max(late)


WORKLOADS = {"backlog_cow": backlog_cow, "tail_mor": tail_mor}
