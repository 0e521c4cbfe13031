"""Snapshot metadata + atomic commit protocol for the lake table.

A from-scratch, minimal lakehouse metadata layer (the sandbox has no
Iceberg/Delta jars; at 100 TB the same design maps 1:1 onto Iceberg —
snapshots = Iceberg snapshots, the put-if-absent publish of ``v{N}.json``
= Iceberg's optimistic catalog swap, per-file schema ids = Iceberg schema
evolution).

Layout on disk:

    <table_root>/
      metadata/
        version-hint.txt       # current version number (tmp+rename, atomic)
        v{N}.json              # immutable snapshot descriptor, always complete
        tmp-v{N}-<hex>         # a descriptor being published (or a dead
                               # writer's leftover, swept by
                               # expire_snapshots); never read
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

Every write op builds its successor with :func:`next_snapshot`, publishes
it with :func:`commit_snapshot` and repeats the whole op on
:class:`CommitConflict` through :func:`retry_commit`.

Concurrency: a commit writes its descriptor to a temp file of its own,
fsyncs it, and hard-links it (``os.link``) to ``v{N}.json``. The link
fails if the name exists, so two racing writers cannot both commit
version N — the loser gets CommitConflict and retries on top of the new
snapshot
(optimistic concurrency, same shape as the reference's version-rechecked
DDL lock, table_helper.go:74-167; Delta Lake's put-if-absent log record).
Because only a complete, fsynced file is ever linked, a ``v{N}.json`` is
complete the moment it exists: a writer killed at any point leaves either
nothing visible (an unlinked temp file) or a whole committed descriptor.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field


class CommitConflict(Exception):
    """Another writer published this version first; reload and retry."""


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


def versions(root: str) -> list[int]:
    """Version numbers of every ``v{N}.json`` in the metadata dir."""
    out = []
    for fn in os.listdir(_metadata_dir(root)):
        if fn.startswith("v") and fn.endswith(".json"):
            try:
                out.append(int(fn[1:-5]))
            except ValueError:
                continue
    return out


def sweep_temp_descriptors(root: str, below: int) -> None:
    """Delete the temp descriptors ``tmp-v{N}-*`` with N < ``below``.
    Writers killed mid-publish leave them behind; no reader opens them.
    A writer still publishing such an N lost its race: its link then
    fails and it retries as on any CommitConflict."""
    meta = _metadata_dir(root)
    for fn in os.listdir(meta):
        if not fn.startswith("tmp-v"):
            continue
        try:
            n = int(fn[len("tmp-v"):].split("-", 1)[0])
        except ValueError:
            continue
        if n < below:
            try:
                os.unlink(os.path.join(meta, fn))
            except FileNotFoundError:  # its writer unlinked it first
                pass


def current_version(root: str) -> int:
    """Current committed version = the hint, rolled FORWARD past every
    ``v{N}.json`` whose hint write was lost to a crash.

    A descriptor exists only once it is complete (see
    :func:`commit_snapshot`), so existence is commitment: the roll-forward
    is a chain of ``stat`` calls and no descriptor is opened. A hint that
    points at an EXPIRED descriptor (a stalled repairer can regress it
    below expire_snapshots' horizon after the old descriptors are deleted)
    restarts the roll-forward at the newest descriptor above it — only
    that broken case pays the listdir. The hint is opportunistically
    repaired, best effort."""
    with open(_hint_path(root)) as f:
        v = hint = int(f.read().strip())
    if not os.path.exists(_version_path(root, v)):
        v = max((n for n in versions(root) if n > hint), default=None)
        if v is None:
            raise FileNotFoundError(
                f"no snapshot descriptor at or above hint {hint} "
                f"in {_metadata_dir(root)}"
            )
    while os.path.exists(_version_path(root, v + 1)):
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
    """Atomically publish ``snap`` as version ``snap.version``
    (put-if-absent).

    The descriptor goes to a temp name no ``v*.json`` filter matches and
    is fsynced; ``os.link`` then publishes it under ``v{N}.json``, failing
    with CommitConflict if a concurrent writer published N first. The
    temp name is unlinked and the version hint swung forward. A writer
    killed before the link leaves only the temp file; one killed after it
    has committed, and readers roll the stale hint forward."""
    snap.timestamp_ms = int(time.time() * 1000)
    path = _version_path(root, snap.version)
    tmp = os.path.join(
        _metadata_dir(root), f"tmp-v{snap.version}-{uuid.uuid4().hex}"
    )
    try:
        with open(tmp, "w") as f:
            f.write(snap.to_json())
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, path)
        except (FileExistsError, FileNotFoundError) as e:
            # FileNotFoundError: sweep_temp_descriptors removed the temp
            # file, which it does only below the expiry horizon — so
            # version N is already committed
            raise CommitConflict(
                f"version {snap.version} already committed at {path}"
            ) from e
    finally:
        try:
            os.unlink(tmp)
        except FileNotFoundError:
            pass
    _write_hint(root, snap.version, blocking=True)


COMMIT_RETRIES = 5


def retry_commit(op, attempts: int = COMMIT_RETRIES):
    """Run ``op`` (snapshot, compute, publish) until it commits: on
    CommitConflict the whole op runs again on a fresh snapshot (optimistic
    concurrency). Every write op goes through here; single-writer
    deployments never retry. Without it a conflict raised out of a
    maintenance call inside foreachBatch (the runner compacts inline)
    kills the stream even though the op is safely repeatable.

    A short linearly-growing sleep between attempts de-synchronizes
    racing writers (N writers racing the same version otherwise retry in
    lockstep and one can starve through the whole budget)."""
    last: CommitConflict | None = None
    for attempt in range(attempts):
        try:
            return op()
        except CommitConflict as e:
            last = e
            time.sleep(0.05 * attempt)
    raise last  # type: ignore[misc]


def commit_key(job_id: str, batch_id) -> str | None:
    """Manifest entry of batch ``batch_id`` of ``job_id`` (None: the
    batch carries no id and is not tracked)."""
    return None if batch_id is None else f"{job_id}/{batch_id}"


def is_committed(snap: Snapshot, job_id: str, batch_id) -> bool:
    """Exactly-once membership check against the commit manifest — the
    only one in the engine.

    Besides explicit ``job_id/batch_id`` entries, understands the
    high-watermark markers ``job_id/<=N`` written by
    ``maintenance.compact_manifest`` — a marker covers every INTEGER
    batch id ≤ N (streaming epoch ids are contiguous from 0, which is
    exactly the contiguity the compactor proves before writing one).
    Without compaction the manifest grows one entry per batch forever —
    at 10^6 micro-batches the snapshot JSON rewrite becomes O(stream
    age) per commit."""
    if commit_key(job_id, batch_id) in snap.committed:
        return True
    try:
        bid = int(batch_id)
    except (TypeError, ValueError):
        return False
    prefix = f"{job_id}/<="
    for c in snap.committed:
        if c.startswith(prefix):
            try:
                if bid <= int(c[len(prefix):]):
                    return True
            except ValueError:
                continue
    return False


def schema_id(snap: Snapshot, schema_json: str | None) -> str:
    """Physical schema id of the files a child of ``snap`` with logical
    schema ``schema_json`` writes: the current id, or the next free one
    when ``schema_json`` is given and differs from the current schema."""
    if schema_json is None or schema_json == snap.schema_json:
        return snap.current_schema_id
    return str(max(int(s) for s in snap.schemas) + 1)


def add_files(
    files: dict[str, list[dict]], entries: dict[str, list[dict]]
) -> dict[str, list[dict]]:
    """``files`` with ``entries`` appended to their buckets."""
    return {
        b: files.get(b, []) + entries.get(b, [])
        for b in {**files, **entries}
    }


def replace_buckets(
    files: dict[str, list[dict]], buckets, entries: dict[str, list[dict]]
) -> dict[str, list[dict]]:
    """``files`` with each of ``buckets`` rewritten to its ``entries``
    (dropped when it has none: every row of the bucket was deleted)."""
    out = dict(files)
    for b in map(str, buckets):
        if b in entries:
            out[b] = entries[b]
        else:
            out.pop(b, None)
    return out


def next_snapshot(
    snap: Snapshot,
    kind: str,
    files: dict[str, list[dict]],
    *,
    commit_key: str | None = None,
    schema_json: str | None = None,
    n_buckets: int | None = None,
    **lineage_fields,
) -> Snapshot:
    """The child of ``snap`` holding ``files``: the next version, with
    ``snap`` as parent, ``commit_key`` (``job_id/batch_id``) appended to
    the manifest, the lineage entry ``{version, kind, **lineage_fields}``
    appended, and — when ``schema_json`` (the evolved logical schema)
    differs from the current one — a new physical schema id. Key,
    properties and (unless ``n_buckets``) the bucket count carry over.
    Metadata only: no I/O, no Spark."""
    version = snap.version + 1
    sid = schema_id(snap, schema_json)
    if sid == snap.current_schema_id:
        schemas, schema_json = snap.schemas, snap.schema_json
    else:
        schemas = {**snap.schemas, sid: schema_json}
    return Snapshot(
        version=version,
        key_field=snap.key_field,
        n_buckets=snap.n_buckets if n_buckets is None else n_buckets,
        schema_json=schema_json,
        schemas=schemas,
        current_schema_id=sid,
        files=files,
        committed=snap.committed + ([commit_key] if commit_key else []),
        lineage=snap.lineage
        + [{"version": version, "kind": kind, **lineage_fields}],
        properties=snap.properties,
        parent=snap.version,
    )


def evolve_schema(snap: Snapshot, incoming):
    """Schema evolution of an ``incoming`` Spark schema against ``snap``'s
    logical schema (merge key frozen, the table's ``schema.max_columns``
    guard applied). Returns the plan — its ``target`` is what the written
    rows are aligned to — and the ``schema_json`` to hand to
    :func:`next_snapshot`: the target's json when columns were added or
    widened, else None (the schema id stays)."""
    from pyspark.sql import types as T

    from jitsu_spark.typesys.evolution import max_columns_of, plan_evolution

    plan = plan_evolution(
        T.StructType.fromJson(json.loads(snap.schema_json)),
        incoming,
        frozen=(snap.key_field,),
        max_columns=max_columns_of(snap.properties),
    )
    return plan, plan.target.json() if plan.changed else None


def init_table_dir(root: str, snap: Snapshot) -> None:
    os.makedirs(_metadata_dir(root), exist_ok=True)
    os.makedirs(os.path.join(root, "data"), exist_ok=True)
    commit_snapshot(root, snap)
