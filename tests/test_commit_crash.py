"""Kill matrix for the snapshot publish: a committer process SIGKILLed at
each point of ``commit_snapshot`` must leave a table that (1) reads the
last committed state, (2) accepts the next commit, (3) applies the
killed batch exactly once — skipped on re-run if and only if its
descriptor was published — and (4) loses the killed writer's temp
descriptor to the next ``expire_snapshots``."""

from __future__ import annotations

import os
import signal
import subprocess
import sys

import pytest

from jitsu_spark.lake import metadata as md
from jitsu_spark.lake.maintenance import expire_snapshots
from jitsu_spark.lake.merge import merge_batch
from tests.test_merge import batch, ev, make_table

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Pure-Python committer (no Spark session): publishes a metadata-only
# successor carrying the manifest key "kill/7" and SIGKILLs itself at the
# requested point by wrapping the os calls the publish makes.
COMMITTER = r"""
import os, signal, sys

from jitsu_spark.lake import metadata as md

root, point = sys.argv[1], sys.argv[2]


def die():
    os.kill(os.getpid(), signal.SIGKILL)


if point == "mid_descriptor":
    def torn_fsync(fd):  # only part of the JSON reached the file
        os.ftruncate(fd, os.fstat(fd).st_size // 2)
        die()
    os.fsync = torn_fsync
elif point == "before_link":
    os.link = lambda src, dst: die()
elif point == "before_hint":
    link = os.link

    def link_then_die(src, dst):
        link(src, dst)
        die()
    os.link = link_then_die
snap = md.load_snapshot(root)
md.commit_snapshot(root, md.next_snapshot(
    snap, "merge", snap.files, commit_key=md.commit_key("kill", 7),
    job_id="kill", batch_id=7,
))
sys.exit(3)  # not reached: every point kills the process
"""


def kill_commit(root: str, point: str) -> None:
    """Run the committer against ``root`` and check it died by SIGKILL."""
    proc = subprocess.run(
        [sys.executable, "-c", COMMITTER, root, point],
        cwd=REPO, env={**os.environ, "PYTHONPATH": REPO},
        capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == -signal.SIGKILL, proc.stderr[-2000:]


def _rows(t) -> dict:
    return {r["doc_id"]: r["tokens"] for r in t.read().collect()}


@pytest.mark.parametrize(
    "point,linked",
    [("mid_descriptor", False), ("before_link", False), ("before_hint", True)],
)
def test_killed_publish_recovers_exactly_once(spark, tmpdir_path, point, linked):
    t = make_table(spark, tmpdir_path, n_buckets=4)
    merge_batch(t, batch(spark, [ev(1, "i", "a", [1])]), batch_id=0, job_id="kill")
    v = md.current_version(t.root)
    oracle = {"a": [1]}

    kill_commit(t.root, point)
    # a descriptor exists only if the link happened, and then it is whole
    path = os.path.join(t.root, "metadata", f"v{v + 1}.json")
    assert os.path.exists(path) == linked
    if linked:
        assert md.load_snapshot(t.root, v + 1).committed[-1] == "kill/7"
    assert md.current_version(t.root) == v + linked
    assert _rows(t) == oracle  # (1) readable, last committed state

    # (2) the next commit lands
    merge_batch(t, batch(spark, [ev(2, "i", "b", [2])]), batch_id=8, job_id="kill")
    oracle["b"] = [2]
    assert t.snapshot().version == v + linked + 1
    assert _rows(t) == oracle

    # (3) the killed batch id applies exactly once
    killed = batch(spark, [ev(3, "i", "c", [3])])
    assert merge_batch(t, killed, batch_id=7, job_id="kill").skipped == linked
    if not linked:
        oracle["c"] = [3]
    assert _rows(t) == oracle
    assert merge_batch(t, killed, batch_id=7, job_id="kill").skipped
    assert _rows(t) == oracle

    # (4) one more commit puts the temp descriptor below the horizon of
    # expire_snapshots(keep_last=2), which sweeps it
    assert _temps(t.root) == [v + 1]
    merge_batch(t, batch(spark, [ev(4, "i", "d", [4])]), batch_id=9, job_id="kill")
    oracle["d"] = [4]
    expire_snapshots(t, keep_last=2)
    assert _temps(t.root) == []
    assert _rows(t) == oracle
    merge_batch(t, batch(spark, [ev(5, "i", "e", [5])]), batch_id=10, job_id="kill")
    oracle["e"] = [5]
    assert _rows(t) == oracle


def _temps(root: str) -> list[int]:
    """Versions of the temp descriptors in the metadata dir."""
    return sorted(
        int(fn[len("tmp-v"):].split("-")[0])
        for fn in os.listdir(os.path.join(root, "metadata"))
        if fn.startswith("tmp-v")
    )


def test_swept_temp_descriptor_is_a_conflict(spark, tmpdir_path, monkeypatch):
    """The sweep removes only temp descriptors below the expiry horizon,
    so a writer whose temp file vanished before its link lost the race
    for that version: the publish raises CommitConflict (which
    retry_commit retries), not FileNotFoundError."""
    t = make_table(spark, tmpdir_path, n_buckets=4)
    merge_batch(t, batch(spark, [ev(1, "i", "a", [1])]), batch_id=0, job_id="j")
    v = md.current_version(t.root)
    snap = md.load_snapshot(t.root)
    snap = md.next_snapshot(snap, "merge", snap.files)
    link = os.link

    def sweep_then_link(src, dst):  # expiry runs between write and link
        os.unlink(src)
        link(src, dst)

    monkeypatch.setattr(os, "link", sweep_then_link)
    with pytest.raises(md.CommitConflict):
        md.commit_snapshot(t.root, snap)
    monkeypatch.setattr(os, "link", link)
    assert md.current_version(t.root) == v and _temps(t.root) == []
    merge_batch(t, batch(spark, [ev(2, "i", "b", [2])]), batch_id=1, job_id="j")
    assert _rows(t) == {"a": [1], "b": [2]}
