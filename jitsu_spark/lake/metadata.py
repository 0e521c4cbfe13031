"""Snapshot metadata + atomic commit protocol for the lake table.

A from-scratch, minimal lakehouse metadata layer (the sandbox has no
Iceberg/Delta jars; at 100 TB the same design maps 1:1 onto Iceberg —
snapshots = Iceberg snapshots, the O_EXCL version claim = Iceberg's
optimistic catalog swap, per-file schema ids = Iceberg schema evolution).

Layout on disk:

    <table_root>/
      metadata/
        version-hint.txt       # current version number (tmp+rename, atomic)
        v{N}.json              # immutable snapshot descriptor, claimed O_EXCL
      data/
        c-<token>/_jb=<bucket>/part-*.parquet  # files of one commit (hex token)

Snapshot descriptor contents:
- logical table schema (+ history of physical schema ids; every data file
  records which physical schema it was written under, so readers group
  files by schema id and cast to the logical schema — that is the whole
  schema-evolution read path),
- file list per hash bucket (bucket = pmod(xxhash64(key), n_buckets)),
- exactly-once commit manifest: set of "job_id/batch_id" already applied
  (the Spark-side analog of the reference's per-(file,storage,table)
  status manifests — semantics per /root/reference/server/logfiles/
  status_manager.go:17-110, re-derived),
- lineage rows (batch id, source seq range, row counts, wall time) for
  per-partition offset -> snapshot tracing.

Concurrency: the claim of ``v{N}.json`` uses O_CREAT|O_EXCL, so two racing
writers cannot both commit version N — the loser gets CommitConflict and
retries on top of the new snapshot (optimistic concurrency, same shape as
the reference's version-rechecked DDL lock, table_helper.go:74-167).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field


class CommitConflict(Exception):
    """Another writer claimed this version first; reload and retry."""


@dataclass
class Snapshot:
    version: int
    key_field: str
    n_buckets: int
    schema_json: str  # logical schema (Spark StructType json)
    schemas: dict[str, str] = field(default_factory=dict)  # schema_id -> json
    current_schema_id: str = "0"
    # bucket (as str for JSON) -> list of {"path": rel, "schema_id": sid}
    files: dict[str, list[dict]] = field(default_factory=dict)
    committed: list[str] = field(default_factory=list)  # "job_id/batch_id"
    lineage: list[dict] = field(default_factory=list)
    properties: dict = field(default_factory=dict)
    parent: int | None = None
    timestamp_ms: int = 0

    def to_json(self) -> str:
        return json.dumps(
            {
                "version": self.version,
                "key_field": self.key_field,
                "n_buckets": self.n_buckets,
                "schema_json": self.schema_json,
                "schemas": self.schemas,
                "current_schema_id": self.current_schema_id,
                "files": self.files,
                "committed": self.committed,
                "lineage": self.lineage,
                "properties": self.properties,
                "parent": self.parent,
                "timestamp_ms": self.timestamp_ms,
            }
        )

    @staticmethod
    def from_json(s: str) -> "Snapshot":
        d = json.loads(s)
        return Snapshot(**d)


def _metadata_dir(root: str) -> str:
    return os.path.join(root, "metadata")


def _hint_path(root: str) -> str:
    return os.path.join(_metadata_dir(root), "version-hint.txt")


def _version_path(root: str, version: int) -> str:
    return os.path.join(_metadata_dir(root), f"v{version}.json")


def current_version(root: str) -> int:
    """Current committed version = the hint, rolled FORWARD past any
    complete ``v{N}.json`` whose hint rename was lost to a crash.

    A writer killed between the O_EXCL claim of v{N}.json and the hint
    rename would otherwise wedge the table permanently: every future
    commit rebuilds version N and hits CommitConflict forever. A snapshot
    counts as committed once its descriptor is complete (valid JSON —
    truncated in-flight claims fail to parse and stop the roll-forward);
    the hint is opportunistically repaired, best effort."""
    with open(_hint_path(root)) as f:
        v = int(f.read().strip())
    hint = v
    if not os.path.exists(_version_path(root, v)):
        # the hint points at an EXPIRED descriptor: a stalled repairer can
        # regress the hint below expire_snapshots' horizon after the old
        # descriptors are deleted. Recover by scanning the metadata dir
        # for the newest complete descriptor and restarting the
        # roll-forward there — only this broken case pays the listdir.
        versions = []
        for fn in os.listdir(_metadata_dir(root)):
            if fn.startswith("v") and fn.endswith(".json"):
                try:
                    versions.append(int(fn[1:-5]))
                except ValueError:
                    continue
        live = [n for n in sorted(versions, reverse=True) if n > v]
        for n in live:
            try:
                with open(_version_path(root, n)) as f:
                    Snapshot.from_json(f.read())
            except (OSError, ValueError, TypeError, KeyError):
                continue  # incomplete claim
            v = n
            break
        else:
            raise FileNotFoundError(
                f"no complete snapshot descriptor at or above hint {hint} "
                f"in {_metadata_dir(root)}"
            )
    while True:
        nxt = _version_path(root, v + 1)
        if not os.path.exists(nxt):
            break
        try:
            with open(nxt) as f:
                Snapshot.from_json(f.read())
        except (OSError, ValueError, TypeError, KeyError):
            break  # incomplete claim (in-flight or dead writer)
        v += 1
    if v != hint:
        _repair_hint(root, hint, v)
    return v


def _write_hint(root: str, version: int, blocking: bool) -> None:
    """Advance the hint to ``version`` iff that moves it FORWARD, under an
    exclusive flock so concurrent committers and repairers serialize.

    The hint is advisory, but serialized monotone writes give two
    guarantees the previous unlocked read-check-replace could not:
    (1) a stale hint is always BEHIND the truth (readers roll forward
    cheaply; combined with expire_snapshots' hint floor, a descriptor the
    hint points at is never deleted), and (2) committers cannot clobber
    each other's in-flight rename (the old shared tmp name let a raced
    os.replace throw FileNotFoundError out of a commit that had already
    landed). Non-blocking callers (opportunistic repair) skip when the
    lock is contended."""
    import fcntl

    lock_path = _hint_path(root) + ".lock"
    with open(lock_path, "a") as lf:
        try:
            fcntl.flock(
                lf, fcntl.LOCK_EX | (0 if blocking else fcntl.LOCK_NB)
            )
        except OSError:
            return  # contended; opportunistic caller gives up
        try:
            try:
                with open(_hint_path(root)) as f:
                    cur = int(f.read().strip())
            except (OSError, ValueError):
                cur = -1
            if version <= cur:
                return
            tmp = f"{_hint_path(root)}.tmp.{os.getpid()}.{id(object())}"
            with open(tmp, "w") as f:
                f.write(str(version))
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, _hint_path(root))
        finally:
            fcntl.flock(lf, fcntl.LOCK_UN)


def _repair_hint(root: str, read_hint: int, rolled_v: int) -> None:
    """Opportunistically advance the hint to ``rolled_v``, best effort:
    monotone + flock-serialized via :func:`_write_hint`, skipped when the
    lock is contended (every reader re-runs the roll-forward loop, so a
    missed repair only costs a few extra stat() calls)."""
    try:
        _write_hint(root, rolled_v, blocking=False)
    except OSError:
        pass


def load_snapshot(root: str, version: int | None = None) -> Snapshot:
    if version is None:
        version = current_version(root)
    with open(_version_path(root, version)) as f:
        return Snapshot.from_json(f.read())


def commit_snapshot(root: str, snap: Snapshot) -> None:
    """Atomically publish ``snap`` as the next table version.

    Claims ``v{N}.json`` with O_EXCL (fails fast if a concurrent writer won),
    then swings the version hint with an atomic rename.
    """
    snap.timestamp_ms = int(time.time() * 1000)
    path = _version_path(root, snap.version)
    try:
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
    except FileExistsError as e:
        raise CommitConflict(
            f"version {snap.version} already committed at {path}"
        ) from e
    try:
        with os.fdopen(fd, "w") as f:
            f.write(snap.to_json())
            f.flush()
            os.fsync(f.fileno())
    except BaseException:
        os.unlink(path)
        raise
    _write_hint(root, snap.version, blocking=True)


def init_table_dir(root: str, snap: Snapshot) -> None:
    os.makedirs(_metadata_dir(root), exist_ok=True)
    os.makedirs(os.path.join(root, "data"), exist_ok=True)
    commit_snapshot(root, snap)
