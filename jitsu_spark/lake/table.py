"""Bucketed parquet lake table with snapshot isolation and schema evolution.

Scale design (the part that must survive 100 TB / 1000 executors):

- **Hash-bucketed layout.** Every row lives in bucket
  ``pmod(xxhash64(key), n_buckets)``; a bucket is a directory of parquet
  files tracked in the snapshot. A CDC merge touches ONLY the buckets that
  contain changed keys — bucket pruning happens at the metadata layer
  (driver-side file-list selection), strictly better than relying on
  catalog partition discovery. Size ``n_buckets`` so one bucket's live data
  fits a task comfortably (e.g. 100 TB / 4096 buckets ≈ 25 GB per bucket,
  split further into parquet row-groups → many input splits per bucket).
- **One file per written bucket per commit, one task per core.** Every
  write shuffles its rows by bucket id into ``min(buckets written,
  defaultParallelism)`` tasks (:meth:`LakeTable._by_bucket`); a task
  writes several buckets' files in turn, one file per bucket.
- **Copy-on-write per bucket.** The merge rewrites an affected bucket by
  streaming its files through a broadcast anti-join (see merge.py) — the
  big existing side never shuffles before that one bucket shuffle.
- **Reads are pruned + aligned.** Files record the physical schema id they
  were written under; the reader groups files by schema id, reads each
  group with its exact schema (no inference, no mergeSchema scan), and
  casts to the current logical schema in one projection.
- **One pinned key-pruned read.** :meth:`LakeTable.read_for` is the only
  place a reader turns probe keys into bucket ids, and it resolves them
  against the same snapshot it reads. That is the layout rule: bucket
  ids are meaningful only under the snapshot whose ``n_buckets`` made
  them (a rebucket changes the count).
- **Atomic snapshot commits** (metadata.py) give readers snapshot isolation
  and writers optimistic concurrency.

This is the same architecture as Iceberg CoW tables; it exists from scratch
here because the sandbox has no lakehouse jars. On a real cluster the
public API of this class maps onto Iceberg DDL + MERGE INTO directly.
"""

from __future__ import annotations

import json
import os
import re
import uuid
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jitsu_spark.lake import metadata as md
from jitsu_spark.lake.metadata import Snapshot
from jitsu_spark.typesys.align import align_to_schema, alignment_columns

BUCKET_COL = "_jb"  # internal bucket column used only around writes
MOR_OP_COL = "_mor_op_file"  # op column persisted inside MoR delta files
WRITE_MODE_PROP = "write.mode"  # "cow" (default) | "mor"
# Optional: bucket on the key's PREFIX up to (excluding) the first
# occurrence of this separator instead of the whole key. Keys sharing a
# prefix then co-locate in one bucket, so a read can bucket-prune by the
# prefix alone — the inverted-index layout (e.g. all occurrences of one
# passage keyed "hash#doc#pos" land together). A probe value that contains
# no separator hashes to itself, so bucket_expr(prefix) == the bucket of
# every full key with that prefix. Requires a STRING key; the separator
# must never appear inside the prefix component.
BUCKET_PREFIX_SEP_PROP = "bucket.prefix_sep"
# Every commit writes its files under data/c-<token>/<bucket dir>/; group 1
# is the commit's hex token (see _write_files).
COMMIT_TOKEN_RE = r"/c-([0-9a-f]+)/[^/]+/[^/]+$"


@dataclass
class CommitResult:
    version: int
    skipped: bool = False
    n_rows: int | None = None


def _schema(snap: Snapshot, sid: str | None = None) -> T.StructType:
    """The logical schema of ``snap``, or its physical schema ``sid``."""
    return T.StructType.fromJson(
        json.loads(snap.schema_json if sid is None else snap.schemas[sid])
    )


class LakeTable:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = os.path.abspath(root)

    # -- lifecycle ----------------------------------------------------------

    @staticmethod
    def create(
        spark: SparkSession,
        root: str,
        schema: T.StructType,
        key_field: str,
        n_buckets: int = 16,
        properties: dict | None = None,
    ) -> "LakeTable":
        if key_field not in schema.fieldNames():
            raise ValueError(f"key field {key_field!r} not in schema")
        kt = schema[key_field].dataType
        if isinstance(kt, (T.ArrayType, T.StructType, T.MapType)):
            raise ValueError("key field must be scalar (never key on arrays)")
        if (properties or {}).get(BUCKET_PREFIX_SEP_PROP) and not isinstance(
            kt, T.StringType
        ):
            raise ValueError(
                f"{BUCKET_PREFIX_SEP_PROP} requires a string key "
                "(the bucket is the hash of the key's prefix component)"
            )
        snap = Snapshot(
            version=0,
            key_field=key_field,
            n_buckets=n_buckets,
            schema_json=schema.json(),
            schemas={"0": schema.json()},
            current_schema_id="0",
            files={},
            properties=properties or {},
            parent=None,
        )
        md.init_table_dir(os.path.abspath(root), snap)
        return LakeTable(spark, root)

    @staticmethod
    def load(spark: SparkSession, root: str) -> "LakeTable":
        md.current_version(os.path.abspath(root))  # raises if absent
        return LakeTable(spark, root)

    @staticmethod
    def exists(root: str) -> bool:
        try:
            md.current_version(os.path.abspath(root))
            return True
        except FileNotFoundError:
            return False

    # -- snapshot / schema --------------------------------------------------

    def snapshot(self, version: int | None = None) -> Snapshot:
        return md.load_snapshot(self.root, version)

    def schema(self, version: int | None = None) -> T.StructType:
        return _schema(self.snapshot(version))

    def bucket_expr(
        self, key_col, n_buckets: int | None = None, snap: Snapshot | None = None
    ) -> F.Column:
        """Bucket id for a key value under ``snap`` (default: the current
        snapshot). With ``bucket.prefix_sep`` set, the hash covers only the
        key's prefix (text before the first separator) — a bare prefix
        therefore hashes to the same bucket as every full key carrying it,
        which is what makes prefix-pruned reads exact."""
        snap = snap or self.snapshot()
        n = snap.n_buckets if n_buckets is None else n_buckets
        sep = snap.properties.get(BUCKET_PREFIX_SEP_PROP)
        base = F.substring_index(key_col, sep, 1) if sep else key_col
        return F.pmod(F.xxhash64(base), F.lit(n)).cast("int")

    def write_mode(self, snap: Snapshot | None = None) -> str:
        """'cow' (default): merges rewrite affected buckets, reads are
        plain scans. 'mor': merges append LWW'd delta files (O(batch)
        writes regardless of table size), reads reconcile base+deltas;
        compaction folds deltas back into base."""
        snap = snap or self.snapshot()
        return snap.properties.get(WRITE_MODE_PROP, "cow")

    # -- read path ----------------------------------------------------------

    def read(
        self,
        buckets: list[int] | None = None,
        version: int | None = None,
        snap: Snapshot | None = None,
        prune: tuple[str, str, str] | None = None,
    ) -> DataFrame:
        """Snapshot-consistent merged scan, pruned to ``buckets`` if given.

        Files are read in one scan per physical schema id, with that exact
        schema (no footer-merging scan), and cast to the logical schema in
        a single projection.

        MoR reconcile is **delta-aware per bucket**: rows are hash-bucketed
        by key, so a key never spans buckets, and only the buckets that
        actually contain delta files need the LWW reconcile aggregate
        (max_by commit-seq per key, delta tombstones drop the key). Clean
        buckets — including every bucket of a CoW table — union in as plain
        pruned scans with no aggregate and no shuffle. At 100 TB with one
        hot delta'd bucket this shuffles that one bucket, not the table.

        ``prune=(col, lo, hi)``: additionally skip CLEAN-bucket files
        whose per-file stats (write.stats.column tables) cannot contain a
        row with ``col`` in [lo, hi). The result is a SUPERSET of the
        matching rows — the caller still applies its own filter; pruning
        only avoids opening files that cannot matter. Dirty buckets are
        never file-pruned: the LWW reconcile must see every delta of a
        key regardless of the pruned column's range.
        """
        snap = snap or self.snapshot(version)
        logical = _schema(snap)
        wanted = (
            set(str(b) for b in buckets) if buckets is not None else set(snap.files)
        )

        def excluded(e: dict) -> bool:
            if prune is None:
                return False
            col, lo, hi = prune
            st = (e.get("stats") or {}).get(col)
            return st is not None and (st[1] < lo or st[0] >= hi)

        # split selected buckets: clean (base-only) vs dirty (>=1 delta file)
        clean, dirty = [], []
        for b, entries in snap.files.items():
            if b not in wanted:
                continue
            if any(e.get("kind", "base") == "delta" for e in entries):
                dirty += entries
            else:
                clean += [e for e in entries if not excluded(e)]
        if not dirty:
            return self.scan_files(clean, snap, logical)
        rec = self._reconcile_scan(dirty, snap, logical)
        return self.scan_files(clean, snap, logical).unionByName(rec) if clean else rec

    def read_for(
        self, keys: DataFrame, col, snap: Snapshot | None = None
    ) -> DataFrame:
        """The rows of the buckets that ``keys[col]`` hashes into, read at
        ONE snapshot (default: the current one, loaded once). The bucket
        ids resolve against that same snapshot's layout, so a rebucket
        committed between the two steps, or a read pinned to an older
        version, never pairs one bucket count with another layout's
        files. ``col`` is a column name or a ``Column`` (e.g. a cast key).
        A snapshot without files needs no ids (no Spark job). The caller
        still joins ``keys`` to the result: buckets hold other keys too."""
        snap = snap or self.snapshot()
        if not snap.files:
            return self.read(buckets=[], snap=snap)
        c = F.col(col) if isinstance(col, str) else col
        ids = keys.select(self.bucket_expr(c, snap=snap).alias("b"))
        return self.read(
            buckets=[r["b"] for r in ids.distinct().collect()], snap=snap
        )

    def scan_files(
        self, entries: list[dict], snap: Snapshot, target: T.StructType
    ) -> DataFrame:
        """Aligned scan of an explicit file-entry list: one scan per
        physical schema id, each with its exact schema, cast to ``target``."""
        groups: dict[str, list[str]] = {}
        for e in entries:
            groups.setdefault(e["schema_id"], []).append(
                os.path.join(self.root, e["path"])
            )
        if not groups:
            return self.spark.createDataFrame([], target)
        reader = self.spark.read
        return reduce(DataFrame.unionByName, [
            align_to_schema(reader.schema(_schema(snap, sid)).parquet(*ps), target)
            for sid, ps in groups.items()
        ])

    def _commit_scan(
        self,
        entries: list[dict],
        snap: Snapshot,
        logical: T.StructType,
        seq_name: str,
        op_name: str,
    ) -> DataFrame:
        """Base and delta files of ``entries`` in one scan per physical
        schema id (read with the delta layout; base files lack the op
        column, read as NULL -> 'u'), aligned to ``logical``, plus each
        row's op ``op_name`` and commit sequence ``seq_name`` (0 for base).

        The sequence comes from a map, one entry per commit, from the hex
        token of the commit directory in the row's file path to its
        ``mseq``. Spark URL-encodes that path; the token needs no escaping.
        A row whose token misses the map fails the query."""
        groups: dict[str, list[str]] = {}
        seq_of: dict[str, int] = {}
        for e in entries:
            groups.setdefault(e["schema_id"], []).append(
                os.path.join(self.root, e["path"])
            )
            token, seq = re.search(COMMIT_TOKEN_RE, e["path"])[1], e.get("mseq", 0)
            if seq_of.setdefault(token, seq) != seq:
                raise ValueError(f"commit dir c-{token} holds two sequences")
        seq_map = F.create_map(*[F.lit(x) for kv in seq_of.items() for x in kv])
        parts = []
        for sid, paths in groups.items():
            phys = _schema(snap, sid).add(MOR_OP_COL, T.StringType())
            df = self.spark.read.schema(phys).parquet(*paths)
            path = df.metadataColumn("_metadata").getField("file_path")
            seq = seq_map[F.regexp_extract(path, COMMIT_TOKEN_RE, 1)]
            parts.append(
                df.select(
                    *alignment_columns(df, logical),
                    F.coalesce(F.col(MOR_OP_COL), F.lit("u")).alias(op_name),
                    F.coalesce(
                        seq, F.raise_error(F.concat(F.lit("no commit for "), path))
                    ).cast("long").alias(seq_name),
                )
            )
        return reduce(DataFrame.unionByName, parts)

    def _reconcile_scan(
        self, entries: list[dict], snap: Snapshot, logical: T.StructType
    ) -> DataFrame:
        """LWW-reconcile base+delta files of delta-bearing buckets, read by
        :meth:`_commit_scan`: latest commit sequence wins per key, op 'd'
        drops the key."""
        key = snap.key_field
        payload = [f.name for f in logical.fields if f.name != key]
        winner = F.max_by(
            F.struct(*[F.col(c) for c in payload], F.col("_mor_op")),
            F.col("_mor_seq"),
        ).alias("_w")
        return (
            self._commit_scan(entries, snap, logical, "_mor_seq", "_mor_op")
            .groupBy(key)
            .agg(winner)
            .select(key, "_w.*")
            .filter(F.col("_mor_op") != "d")
            .drop("_mor_op")
            .select(*[f.name for f in logical.fields])
        )

    def changes(
        self, since_version: int, to_version: int | None = None,
        snap: Snapshot | None = None,
    ) -> DataFrame:
        """Incremental (CDC-out) read: the change rows committed in
        versions (since_version, to_version] — the engine's analog of an
        Iceberg changelog scan, feeding downstream incremental pipelines
        without a full-table diff.

        Exact for merge-on-read tables: each MoR merge lands one
        LWW'd-per-batch delta file per bucket, stamped with its commit
        sequence, so the changelog IS those files, read in one scan per
        schema id (:meth:`_commit_scan`). Returns the payload columns plus
        ``_change_op`` ('i'/'u'/'d') and ``_commit_version``.

        Raises if the range contains a commit whose row-level changes are
        not reconstructible from files (CoW merge rewrites, overwrites) —
        exactly the Iceberg changelog-scan caveat. Maintenance commits are
        tolerated where they provably preserve the window's deltas:
        ``manifest_compact`` always (metadata-only — data files untouched),
        and ``compact``/``rebucket`` when no unconsumed merge PRECEDES the
        fold inside the window (the fold erases prior merges' delta files,
        so a lagging consumer must raise; a fully-caught-up consumer whose
        window merely STARTS before a background compaction is fine — the
        steady-state regime of every continuously-compacted stream).
        ``snap``, if given, is the loaded snapshot of ``to_version``."""
        snap = snap or self.snapshot(to_version)
        hi = snap.version
        logical = _schema(snap)
        if self.write_mode(snap) != "mor":
            raise ValueError(
                "changes() needs write.mode=mor (CoW merges rewrite whole "
                "buckets; row-level changes are not reconstructible)"
            )
        # verify every in-range commit is a MoR delta merge, matching
        # lineage entries by their stamped "version"
        by_version = {e["version"]: e for e in snap.lineage}
        merges_before_fold = 0
        for v in range(since_version + 1, hi + 1):
            entry = by_version.get(v)
            if entry is None:
                raise ValueError(
                    f"changes({since_version}, {hi}): lineage for commit "
                    f"{v} is archived (manifest compaction) — sync "
                    "downstream consumers before compact_manifest"
                )
            kind = entry.get("kind")
            if kind == "merge":
                merges_before_fold += 1
            elif kind == "manifest_compact":
                continue  # metadata-only: every delta file survives
            elif kind in ("compact", "rebucket"):
                if merges_before_fold:
                    raise ValueError(
                        f"changes({since_version}, {hi}): commit {v} is a "
                        f"{kind} that folded {merges_before_fold} "
                        "not-yet-consumed merge(s)' delta files into base — "
                        "row-level changes are lost (sync consumers past "
                        "every merge BEFORE compact/rebucket)"
                    )
            else:
                raise ValueError(
                    f"changes({since_version}, {hi}): commit {v} is "
                    f"{kind!r}, not a delta merge — row-level "
                    "changes are not reconstructible (consume changes "
                    "before overwrite/append, or use MoR write mode)"
                )
        window = [
            e
            for entries in snap.files.values()
            for e in entries
            if e.get("kind", "base") == "delta"
            and since_version < int(e["mseq"]) <= hi
        ]
        if not window:
            return self.spark.createDataFrame(
                [], logical.add("_change_op", "string").add("_commit_version", "long")
            )
        return self._commit_scan(
            window, snap, logical, "_commit_version", "_change_op"
        )

    # -- write path (internal; public entry points are in merge.py) ---------

    def _by_bucket(self, df_with_bucket: DataFrame, n_written: int) -> DataFrame:
        """Hash-partition ``df`` by BUCKET_COL into ``min(n_written,
        defaultParallelism)`` tasks (at least one) for a write touching up
        to ``n_written`` buckets. A bucket stays whole in one task and the
        planned write sorts each task by BUCKET_COL, so a written bucket
        still gets one file. One task per bucket paid about 44 ms of task
        start-up per bucket; AQE's size-based coalescing
        (``repartition(col)``) packs a small write into one task instead,
        which then writes its files serially."""
        n = max(1, min(n_written, self.spark.sparkContext.defaultParallelism))
        return df_with_bucket.repartition(n, F.col(BUCKET_COL))

    def _observed(self, obs: Observation) -> dict:
        """The metrics of ``obs``, read after the write that ran its plan.
        They are exact only if each task's update counts once; a
        speculative copy of a task can report its rows a second time, so
        the read refuses while ``spark.speculation`` is on."""
        if self.spark.conf.get("spark.speculation", "false").lower() == "true":
            raise ValueError(
                "observed write metrics would be inexact under "
                "spark.speculation=true; run lake writes with it off"
            )
        return obs.get

    def _write_files(self, df_with_bucket: DataFrame) -> dict[str, list[str]]:
        """Write ``df`` (carrying BUCKET_COL) under a fresh commit-token dir,
        one subdir per bucket; returns {bucket: [relative paths]}.

        No shuffle is introduced here: ``partitionBy`` splits by value within
        each task, and upstream plans keep each bucket inside one task
        (:meth:`_by_bucket`).
        """
        token = uuid.uuid4().hex[:12]
        rel_dir = os.path.join("data", f"c-{token}")
        out_dir = os.path.join(self.root, rel_dir)
        (
            df_with_bucket.write.partitionBy(BUCKET_COL)
            .mode("error")
            .parquet(out_dir)
        )
        files: dict[str, list[str]] = {}
        if os.path.isdir(out_dir):
            for d in os.listdir(out_dir):
                if not d.startswith(f"{BUCKET_COL}="):
                    continue
                b = d.split("=", 1)[1]
                for fn in os.listdir(os.path.join(out_dir, d)):
                    if fn.endswith(".parquet"):
                        files.setdefault(b, []).append(os.path.join(rel_dir, d, fn))
        return files

    # -- per-file column stats (Iceberg-manifest-style pruning metadata) ----

    STATS_COL_PROP = "write.stats.column"

    def stats_column(self, snap: Snapshot | None = None) -> str | None:
        """Column whose per-file min/max is recorded at write time (table
        property ``write.stats.column``) — enables file-level pruning for
        predicate-scoped rewrites (overwrite_where) even though the
        layout is hash-bucketed by key, not by that column."""
        snap = snap or self.snapshot()
        return snap.properties.get(self.STATS_COL_PROP)

    def build_entries(
        self,
        new_files: dict[str, list[str]],
        schema_id: str,
        snap: Snapshot | None = None,
        **extra,
    ) -> dict[str, list[dict]]:
        """File entries for a commit, with per-file stats attached when
        the table declares a stats column."""
        scol = self.stats_column(snap)
        stats = self.file_stats(new_files, scol) if scol else {}
        return {
            b: [
                {
                    "path": p,
                    "schema_id": schema_id,
                    **extra,
                    **({"stats": {scol: stats[p]}} if p in stats else {}),
                }
                for p in paths
            ]
            for b, paths in new_files.items()
        }

    def file_stats(
        self, files: dict[str, list[str]], col: str
    ) -> dict[str, list]:
        """[min, max] of ``col`` per written file, read from the parquet
        FOOTERS driver-side (no Spark job; bounded by files-per-commit).
        Timestamps normalize to naive-UTC ``str(datetime)`` so stored
        stats compare lexicographically with predicate bounds."""
        import datetime as dt

        import pyarrow.parquet as pq

        def norm(v):
            if isinstance(v, dt.datetime):
                if v.tzinfo is not None:
                    v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
                return str(v)
            return v

        out: dict[str, list] = {}
        for paths in files.values():
            for rel in paths:
                meta = pq.read_metadata(os.path.join(self.root, rel))
                names = [meta.schema.column(i).name for i in range(meta.num_columns)]
                if col not in names:
                    continue
                ci = names.index(col)
                lo = hi = None
                ok = True
                for rg in range(meta.num_row_groups):
                    st = meta.row_group(rg).column(ci).statistics
                    if st is None or not st.has_min_max:
                        ok = False
                        break
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
                if ok and lo is not None:
                    out[rel] = [norm(lo), norm(hi)]
        return out

    # -- maintenance --------------------------------------------------------

    def compact(self, max_files_per_bucket: int = 8) -> CommitResult:
        """Rewrite fragmented buckets (small-file compaction).

        CoW merges add a few files per affected bucket per micro-batch; this
        folds any bucket whose file count exceeds the threshold back to one
        file. Analogous to Iceberg rewrite_data_files. Retries on commit
        conflict (concurrent writers), recomputing from a fresh snapshot.
        """
        return md.retry_commit(lambda: self._compact_once(max_files_per_bucket))

    def _compact_once(self, max_files_per_bucket: int) -> CommitResult:
        snap = self.snapshot()
        frag = [b for b, es in snap.files.items() if len(es) > max_files_per_bucket]
        if not frag:
            return CommitResult(version=snap.version, skipped=True)
        df = self.read(buckets=[int(b) for b in frag], snap=snap)
        key = snap.key_field
        df = df.withColumn(BUCKET_COL, self.bucket_expr(F.col(key), snap=snap))
        # one file per folded bucket, in at most one task per core
        new_files = self._write_files(self._by_bucket(df, len(frag)))
        files = md.replace_buckets(snap.files, frag, self.build_entries(
            new_files, snap.current_schema_id, snap
        ))
        new_snap = md.next_snapshot(snap, "compact", files, buckets=frag)
        md.commit_snapshot(self.root, new_snap)
        return CommitResult(version=new_snap.version)

    def rebucket(self, factor: int = 2) -> CommitResult:
        """Bucket-count evolution: grow the hash-bucket count by an integer
        ``factor`` (admin op for table growth — a table created at 16
        buckets for 10^8 rows needs more at 10^10, or per-bucket files
        outgrow executor memory and merge parallelism caps at n_buckets).

        Because bucketing is ``pmod(xxhash64(key), n)`` and
        ``new_n = factor * n``, every old bucket b's rows land ONLY in the
        factor new buckets {b, b+n, ..., b+(factor-1)n} — a clean bucket's
        rewrite is a narrow per-task split (``partitionBy`` at write), never
        a shuffle. Delta-bearing buckets are folded into base during the
        rewrite: their reconciled rows leave the LWW aggregate in arbitrary
        tasks, so only those rows are shuffled by new bucket
        (:meth:`_by_bucket`), which keeps one file per new bucket. The
        commit manifest carries over, so exactly-once continuity is
        preserved across the resize; subsequent merges hash against the new
        count automatically (bucket_expr reads the snapshot).

        Like compaction, a rebucket folds delta files — a ``changes()``
        window is legal across it only when every in-window merge comes
        AFTER it (a fully-caught-up consumer; a lagging one still raises,
        see ``changes()``). Consumers reading pre-images at an older
        version must resolve bucket ids against THAT version's layout
        (``snapshot(v).n_buckets``), which :meth:`read_for` with that
        snapshot does — current-layout ids don't exist in the old one.
        Retries on commit conflict, recomputing from a fresh snapshot."""
        if factor < 2:
            raise ValueError("factor must be >= 2")
        return md.retry_commit(lambda: self._rebucket_once(factor))

    def _rebucket_once(self, factor: int) -> CommitResult:
        snap = self.snapshot()
        new_n = snap.n_buckets * factor
        dirty = [
            int(b) for b, es in snap.files.items()
            if any(e.get("kind", "base") == "delta" for e in es)
        ]
        clean = [int(b) for b in snap.files if int(b) not in dirty]

        def rebucketed(buckets: list[int]) -> DataFrame:
            return self.read(buckets=buckets, snap=snap).withColumn(
                BUCKET_COL,
                self.bucket_expr(F.col(snap.key_field), n_buckets=new_n, snap=snap),
            )

        df = rebucketed(clean)
        if dirty:
            df = df.unionByName(
                self._by_bucket(rebucketed(dirty), len(dirty) * factor)
            )
        new_files = self._write_files(df)
        entries = self.build_entries(new_files, snap.current_schema_id, snap)
        new_snap = md.next_snapshot(
            snap, "rebucket", entries, n_buckets=new_n,
            **{"from": snap.n_buckets, "to": new_n},
        )
        md.commit_snapshot(self.root, new_snap)
        return CommitResult(version=new_snap.version)

    def history(self) -> list[dict]:
        return list(self.snapshot().lineage)
