"""Singer tap subprocess orchestration (S9 end-to-end).

The reference spawns a Singer tap binary and consumes its stdout as a
stream of newline-delimited JSON messages, cutting the stream into
PORTIONS at STATE boundaries; each portion's records are stored per
stream (keyed by an md5 hash of the stream's key fields) and the state
bookmark is persisted only after a successful store, so a crash resumes
from the last committed bookmark by passing ``--state`` back to the tap
(/root/reference/server/drivers/singer.go:162-230 and
synchronization/singer_result_saver.go:38-94 — semantics re-derived, no
code ported; the tap protocol itself is the public Singer spec).

Spark-first split of responsibilities:
- subprocess + line spooling is driver-side I/O (inherently a single
  consumer of one pipe — same as the reference's goroutine);
- everything per-record is Spark: the spool is parsed columnar-ly
  (``split_singer_messages``/``singer_records``), records get their
  deterministic key hash as a column expression, and land via the lake
  MERGE kernel — so a portion with 10^8 records is a normal distributed
  upsert, not a driver loop.

Exactly-once across crashes = the same two layers as the CDC stream:
the state bookmark is only advanced after the portion's merge commits,
and each portion's merge carries a deterministic batch id (md5 of the
portion's closing state), so a re-delivered identical portion is skipped
by the table's commit manifest.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import subprocess
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jitsu_spark.lake.maintenance import maintain
from jitsu_spark.lake.merge import merge_batch
from jitsu_spark.lake.table import LakeTable
from jitsu_spark.sources.singer import split_singer_messages

#: system columns stamped onto every record (singer_result_saver.go:44-55
#: analog; ``src`` marks provenance, ``event_id`` is the key-fields hash)
SRC_VALUE = "source"

#: engine-owned column names; a tap stream whose SCHEMA declares one of
#: these would produce duplicate/ambiguous columns in the merge batch, so
#: it is rejected at SCHEMA time (before any record merges)
RESERVED_COLUMNS = frozenset({"event_id", "src", "_record_version", "seq", "op"})

#: tolerant RECORD sniff for lines strict json.loads rejects (see the
#: portion loop) — captures the stream name of a record-shaped prefix
_RECORD_FALLBACK_RE = re.compile(
    r'"type"\s*:\s*"RECORD".*?"stream"\s*:\s*"([^"]+)"'
    r'|"stream"\s*:\s*"([^"]+)".*?"type"\s*:\s*"RECORD"'
)


def selected_streams(catalog: dict) -> set[str]:
    """Stream names a Singer catalog selects for sync (public catalog
    spec, as the reference consumes it — singer.go:101-104 passes the
    catalog through to the tap; the engine applies the same selection
    defensively on the tap's output).

    A stream is selected when its top-level ``selected`` is true (legacy)
    or its metadata entry with breadcrumb ``[]`` carries
    ``metadata.selected: true``. If NO stream in the catalog carries any
    selection flag, the catalog acts as a plain whitelist: every listed
    stream is selected."""
    names: set[str] = set()
    any_flagged = False
    for s in catalog.get("streams", []):
        name = s.get("stream") or s.get("tap_stream_id")
        if name is None:
            continue
        flags = []
        if "selected" in s:
            flags.append(bool(s["selected"]))
        for m in s.get("metadata", []) or []:
            if m.get("breadcrumb") == [] and "selected" in (
                m.get("metadata") or {}
            ):
                flags.append(bool(m["metadata"]["selected"]))
        if flags:
            any_flagged = True
            if any(flags):
                names.add(name)
        else:
            names.add(name)
    if not any_flagged:
        return {
            s.get("stream") or s.get("tap_stream_id")
            for s in catalog.get("streams", [])
            if (s.get("stream") or s.get("tap_stream_id")) is not None
        }
    return names


def catalog_schemas(catalog: dict) -> dict[str, T.StructType]:
    """stream name -> Spark schema for every stream in a Singer catalog
    (``discover()`` output shape)."""
    out: dict[str, T.StructType] = {}
    for s in catalog.get("streams", []):
        name = s.get("stream") or s.get("tap_stream_id")
        if name is not None and isinstance(s.get("schema"), dict):
            out[name] = json_schema_to_spark(s["schema"])
    return out


def json_schema_to_spark(js: dict) -> T.StructType:
    """Minimal JSON-schema -> Spark schema for Singer SCHEMA messages
    (string/integer/number/boolean/object/array + date-time format)."""
    return T.StructType(
        [
            T.StructField(name, _js_type(spec))
            for name, spec in (js.get("properties") or {}).items()
        ]
    )


def _js_type(spec: dict) -> T.DataType:
    t = spec.get("type", "string")
    if isinstance(t, list):  # e.g. ["null", "integer"]
        non_null = [x for x in t if x != "null"]
        t = non_null[0] if non_null else "string"
    if t == "integer":
        return T.LongType()
    if t == "number":
        return T.DoubleType()
    if t == "boolean":
        return T.BooleanType()
    if t == "object":
        return json_schema_to_spark(spec)
    if t == "array":
        return T.ArrayType(_js_type(spec.get("items") or {"type": "string"}))
    if spec.get("format") == "date-time":
        return T.TimestampType()
    return T.StringType()


@dataclass
class StreamMeta:
    schema: T.StructType
    key_properties: list[str]


@dataclass
class SingerRunReport:
    portions: int = 0
    records: dict[str, int] = field(default_factory=dict)
    final_state: str | None = None
    tap_exit_code: int | None = None


@dataclass
class SingerTapJob:
    """Run a Singer tap subprocess and sync its streams into lake tables.

    ``tap_cmd`` is the argv of the tap (a real tap binary, or any script
    speaking the protocol); if a committed state bookmark exists it is
    appended as ``--state <file>`` (the standard Singer resume contract,
    singer.go:173-197). One LakeTable per stream is created lazily under
    ``tables_root/<stream>`` keyed by ``event_id``.

    ``catalog`` (optional) is a Singer catalog dict: it is written to
    ``work_dir/catalog.json`` and passed as ``--catalog`` (and, when
    ``catalog_as_properties`` is set, also as ``-p`` for legacy taps) —
    the reference's pass-through (singer.go:101-104,187-188). The engine
    ALSO applies the catalog's stream selection to the tap's output:
    records/activations for unselected streams are skipped, so a tap
    that ignores ``--catalog`` still syncs only the selected streams.
    """

    spark: SparkSession
    tap_cmd: list[str]
    work_dir: str
    tables_root: str
    n_buckets: int = 8
    job_id: str = "singer"
    max_portion_lines: int = 1_000_000  # safety cut if a tap never emits STATE
    dead_letter_dir: str | None = None
    catalog: dict | None = None
    catalog_as_properties: bool = False  # legacy taps take -p, not --catalog
    #: properties for lazily-created stream tables; {"write.mode": "mor"}
    #: turns every portion merge into an O(portion) delta write instead of
    #: a CoW bucket rewrite — the steady-state mode for long-lived taps
    #: (pair with compact_max_files_per_bucket to bound read amplification)
    table_properties: dict | None = None
    #: in-run maintenance (None = off): after every portion, each stream
    #: table runs lake.maintenance.maintain, folding the buckets above
    #: this file count back to base and the manifest once it has grown
    compact_max_files_per_bucket: int | None = None
    tables: dict[str, LakeTable] = field(default_factory=dict)
    streams: dict[str, StreamMeta] = field(default_factory=dict)

    def discover(self) -> dict:
        """Run the tap with ``--discover`` (singer.go:274) and return the
        catalog dict it prints; use :func:`catalog_schemas` for the
        stream -> StructType map and pass a (selection-annotated) copy
        back via ``catalog=`` to scope the sync."""
        out = subprocess.run(
            list(self.tap_cmd) + ["--discover"],
            stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL,
            text=True,
            check=True,
        ).stdout
        cat = json.loads(out)
        if not isinstance(cat, dict) or "streams" not in cat:
            raise ValueError("tap --discover did not print a Singer catalog")
        return cat

    # -- state bookkeeping ---------------------------------------------------

    def _state_path(self) -> str:
        return os.path.join(self.work_dir, "state.json")

    def committed_state(self) -> str | None:
        try:
            with open(self._state_path()) as f:
                return f.read()
        except OSError:
            return None

    def _save_state(self, state_json: str) -> None:
        tmp = self._state_path() + ".tmp"
        with open(tmp, "w") as f:
            f.write(state_json)
        os.replace(tmp, self._state_path())

    # -- portion processing --------------------------------------------------

    def _table_for(self, stream: str, meta: StreamMeta) -> LakeTable:
        if stream in self.tables:
            return self.tables[stream]
        root = os.path.join(self.tables_root, stream)
        schema = T.StructType(
            [T.StructField("event_id", T.StringType())]
            + list(meta.schema.fields)
            + [
                T.StructField("src", T.StringType()),
                # FULL_TABLE taps stamp a table version per record; the
                # ACTIVATE_VERSION purge keys off this column
                T.StructField("_record_version", T.LongType()),
            ]
        )
        if os.path.exists(os.path.join(root, "metadata")):
            t = LakeTable(self.spark, root)
        else:
            t = LakeTable.create(
                self.spark, root, schema, "event_id",
                n_buckets=self.n_buckets,
                properties=dict(self.table_properties or {}),
            )
        self.tables[stream] = t
        return t

    @staticmethod
    def _fresh_control() -> dict:
        """Per-portion control-plane accumulators (SCHEMA / ACTIVATE /
        RECORD stream presence) — filled line-by-line as the run loop
        consumes the tap, O(1) state per control line."""
        return {"schemas": [], "activates": [], "present": {}, "maybe": {}}

    @staticmethod
    def _classify_control(ctl: dict, i: int, ln: str, msg) -> None:
        """Classify one tap line into ``ctl``. ``msg`` is the
        json.loads result, or None when parsing failed (the tolerant
        RECORD sniff then applies — see the maybe/present merge in
        _apply_portion). Mirrors split_singer_messages: only JSON objects
        with a ``type`` field count; stream values are normalized to
        get_json_object's scalar rendering."""
        if msg is None:
            # strict-vs-streaming parser divergence guard (self-review
            # r7): a line Python's json rejects (e.g. trailing bytes)
            # can still be classified as a RECORD by the Spark side's
            # get_json_object, and a stream whose only record lines are
            # such would otherwise never enter `present` and silently
            # skip its merge. Tentative: merged only when the stream has
            # SCHEMA metadata, so record-ish chatter can never fabricate
            # a before-SCHEMA error.
            m = _RECORD_FALLBACK_RE.search(ln)
            if m:
                raw = m.group(1) or m.group(2)
                # the Spark-side parser returns the DECODED stream name
                # (e.g. café -> café), so decode JSON escapes from
                # the raw capture before matching self.streams keys
                try:
                    raw = json.loads(f'"{raw}"')
                except ValueError:
                    pass
                ctl["maybe"].setdefault(raw)
            return
        if not isinstance(msg, dict):
            return
        mtype = msg.get("type")
        s = msg.get("stream")
        if s is not None and not isinstance(s, str):
            s = json.dumps(s)  # get_json_object's scalar rendering
        if mtype == "RECORD":
            ctl["present"].setdefault(s)
        elif mtype == "SCHEMA":
            ctl["schemas"].append((i, s, msg))
        elif mtype == "ACTIVATE_VERSION":
            v = msg.get("version")
            if isinstance(v, bool):
                return
            try:
                ctl["activates"].append((i, s, int(v)))
            except (TypeError, ValueError):
                return

    def _apply_portion(
        self, lines: list[str], portion_no: int, data_sig: str,
        control: dict | None = None,
    ) -> dict[str, int]:
        """Parse one portion columnar-ly and MERGE each stream's records.

        Record order within the portion provides the LWW sequence (a later
        record for the same key wins — Singer's replication semantic).

        ``data_sig`` is the portion's identity: md5 over the starting
        bookmark plus every RECORD/STATE line (SCHEMA lines excluded —
        their placement varies across resumed runs). Two different
        portions that close on an identical STATE line (heartbeat
        bookmarks) get DIFFERENT ids and both apply, while a
        crash-redelivered portion (same bookmark, same data from a
        deterministic tap) gets the SAME id and is skipped by the commit
        manifest."""
        spool = os.path.join(self.work_dir, "spool", f"p{portion_no:06d}.jsonl")
        os.makedirs(os.path.dirname(spool), exist_ok=True)
        with open(spool + ".tmp", "w") as f:
            for i, ln in enumerate(lines):
                f.write(json.dumps({"_ln": i, "_raw": ln}) + "\n")
        os.replace(spool + ".tmp", spool)
        raw = self.spark.read.schema("_ln long, _raw string").json(spool)
        msgs = split_singer_messages(raw, line_col="_raw", order_col="_ln")

        counts: dict[str, int] = {}
        selected = (
            selected_streams(self.catalog) if self.catalog is not None else None
        )

        # r7: the portion's CONTROL messages (SCHEMA / ACTIVATE_VERSION /
        # which streams have RECORDs) are parsed DRIVER-side — the
        # previous shape ran three whole-spool Spark jobs per portion
        # just to collect a handful of control rows (schemas.collect,
        # records.distinct.collect, activates.collect), and per-portion
        # job count, not data volume, dominates tap wall time. The run
        # loop (which json.loads every line anyway) accumulates the
        # control plane as lines arrive and passes it in; a direct
        # caller without one gets the same classification from a local
        # pass. RECORD volume still flows through Spark (spool ->
        # columnar parse -> distributed MERGE).
        if control is None:
            control = self._fresh_control()
            for i, ln in enumerate(lines):
                try:
                    msg = json.loads(ln)
                except ValueError:
                    msg = None
                self._classify_control(control, i, ln, msg)
        schema_msgs = control["schemas"]
        activate_msgs = control["activates"]
        present_set = control["present"]
        maybe_present = control["maybe"]

        # SCHEMA messages update per-stream metadata. Applied in line
        # order: two SCHEMA messages for one stream in the same portion
        # (mid-portion evolution before a STATE boundary) must land
        # last-wins. Scoped to SELECTED streams: a deselected stream's
        # schema never merges, so its reserved-column clash must not
        # abort the sync (a tap that ignores --catalog still emits
        # SCHEMAs for every stream).
        for _ln, stream, msg in schema_msgs:
            if selected is not None and stream not in selected:
                continue
            schema = json_schema_to_spark(msg["schema"])
            clash = sorted(RESERVED_COLUMNS & {f.name for f in schema.fields})
            if clash:
                raise ValueError(
                    f"stream {stream!r} SCHEMA declares reserved "
                    f"engine column(s) {clash}; rename them in the tap"
                )
            kp = msg.get("key_properties")
            self.streams[stream] = StreamMeta(
                schema=schema,
                key_properties=list(kp) if isinstance(kp, list) else [],
            )
        for s in maybe_present:
            if s not in present_set and s in self.streams:
                present_set.setdefault(s)
        present = [
            s for s in present_set if selected is None or s in selected
        ]
        state_sig = data_sig
        # None sorts first (a RECORD with no stream field) instead of
        # raising TypeError against string names; it then hits the
        # before-SCHEMA guard below with a meaningful error
        for stream in sorted(present, key=lambda s: (s is not None, s or "")):
            meta = self.streams.get(stream)
            if meta is None:
                raise ValueError(
                    f"tap emitted RECORDs for stream {stream!r} before SCHEMA"
                )
            table = self._table_for(stream, meta)
            # typed extraction as in singer_records, but carrying the line
            # order through as the LWW seq
            ordered = msgs.records.filter(F.col("stream") == stream).select(
                F.col("_ln").alias("seq"), "record_json", "record_version"
            )
            typed = ordered.withColumn(
                "_p",
                F.from_json(
                    F.col("record_json"),
                    T.StructType(
                        list(meta.schema.fields)
                        + [T.StructField("_corrupt", T.StringType())]
                    ),
                    {"columnNameOfCorruptRecord": "_corrupt", "mode": "PERMISSIVE"},
                ),
            ).select("seq", "record_version", "_p.*")
            good = typed.filter(F.col("_corrupt").isNull()).drop("_corrupt")
            bad = typed.filter(F.col("_corrupt").isNotNull())
            if self.dead_letter_dir is not None:
                bad.select("seq", F.col("_corrupt").alias("raw")).write.mode(
                    "overwrite"
                ).parquet(
                    os.path.join(
                        self.dead_letter_dir, f"{stream}_p{portion_no:06d}"
                    )
                )
            # deterministic id: md5 over the key fields (or the whole
            # record when the stream declares none) — uuid.GetKeysHash
            # analog with sorted keys, but NULL-safe and delimiter-safe:
            # concat_ws silently skips NULLs, so ("1", NULL) and
            # (NULL, "1") would collide and LWW would destroy a row.
            # to_json with ignoreNullFields=false keeps nulls and escapes
            # delimiters.
            key_cols = sorted(meta.key_properties) or sorted(
                f.name for f in meta.schema.fields
            )
            evid = F.md5(
                F.to_json(
                    F.struct(
                        *[F.col(c).cast("string").alias(c) for c in key_cols]
                    ),
                    {"ignoreNullFields": "false"},
                )
            )
            batch = good.select(
                evid.alias("event_id"),
                *[f.name for f in meta.schema.fields],
                F.lit(SRC_VALUE).alias("src"),
                F.col("record_version").alias("_record_version"),
                F.col("seq"),
                F.lit("u").alias("op"),
            )
            # r7: parse the spool ONCE per portion — the merge kernel's
            # consumers (stats pre-pass, broadcast key build, write job)
            # would otherwise each re-read and re-from_json the JSON
            # spool; the lazy persist materializes on the first of them
            from pyspark import StorageLevel

            batch = batch.persist(StorageLevel.MEMORY_AND_DISK)
            try:
                res = merge_batch(
                    table,
                    batch,
                    batch_id=f"p{state_sig}",
                    job_id=f"{self.job_id}/{stream}",
                )
            finally:
                batch.unpersist()
            counts[stream] = 0 if res.skipped else res.n_keys

        # ACTIVATE_VERSION purge (public Singer FULL_TABLE contract): rows
        # of versions OLDER than the activated one are deleted. Runs after
        # the portion's records merged, so this-portion rows at the new
        # version survive; NULL-version rows (incremental streams never
        # see activations) are deliberately left alone. Idempotent via a
        # portion-scoped batch id.
        for _ln, stream, version in activate_msgs:
            if selected is not None and stream not in selected:
                continue
            meta = self.streams.get(stream)
            if meta is None:
                continue
            table = self._table_for(stream, meta)
            stale = table.read().filter(
                F.col("_record_version") < F.lit(version)
            )
            tombstones = stale.select(
                "event_id",
                *[f.name for f in meta.schema.fields],
                "src",
                "_record_version",
                F.lit(int(_ln)).alias("seq"),
                F.lit("d").alias("op"),
            )
            merge_batch(
                table,
                tombstones,
                batch_id=f"av{state_sig}x{_ln}",
                job_id=f"{self.job_id}/{stream}",
            )
        # the spool is only needed within this portion (every merge above
        # committed eagerly); leaving it would grow work_dir unboundedly
        # over a long-lived or frequently-resumed sync
        os.unlink(spool)
        return counts

    def _commit_portion(
        self, report: SingerRunReport, lines: list[str], digest, ctl: dict
    ) -> None:
        """Merge one portion, run each stream table's maintenance when it
        is on, and count the portion into ``report``."""
        counts = self._apply_portion(
            lines, report.portions, digest.hexdigest()[:16], control=ctl
        )
        if self.compact_max_files_per_bucket is not None:
            for t in self.tables.values():
                maintain(t, self.compact_max_files_per_bucket)
        for s, n in counts.items():
            report.records[s] = report.records.get(s, 0) + n
        report.portions += 1

    # -- the run loop --------------------------------------------------------

    def run_once(self) -> SingerRunReport:
        """Spawn the tap, consume stdout, commit portion-by-portion."""
        os.makedirs(self.work_dir, exist_ok=True)
        cmd = list(self.tap_cmd)
        if self.catalog is not None:
            cp = os.path.join(self.work_dir, "catalog.json")
            with open(cp + ".tmp", "w") as f:
                json.dump(self.catalog, f)
            os.replace(cp + ".tmp", cp)
            cmd += ["-p", cp] if self.catalog_as_properties else ["--catalog", cp]
        state = self.committed_state()
        if state:
            sp = os.path.join(self.work_dir, "resume_state.json")
            with open(sp, "w") as f:
                f.write(state)
            cmd += ["--state", sp]
        report = SingerRunReport()
        proc = subprocess.Popen(
            cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True
        )
        pending: list[str] = []
        pending_has_records = False
        ctl = self._fresh_control()

        # portion identity digest: starting bookmark + RECORD/STATE lines
        def fresh_digest(base: str | None):
            return hashlib.md5((base or "").encode())

        digest = fresh_digest(state)
        try:
            assert proc.stdout is not None
            for line in proc.stdout:
                line = line.rstrip("\n")
                if not line.strip():
                    continue
                pending.append(line)
                is_state = False
                try:
                    msg = json.loads(line)
                except ValueError:
                    msg = None  # non-JSON chatter: dead-letters in the parser
                self._classify_control(ctl, len(pending) - 1, line, msg)
                if isinstance(msg, dict):  # scalar JSON lines are chatter too
                    mtype = msg.get("type")
                    is_state = mtype == "STATE"
                    pending_has_records |= mtype == "RECORD"
                    if mtype in ("RECORD", "STATE"):
                        digest.update(b"\x00")
                        digest.update(line.encode())
                if is_state or len(pending) >= self.max_portion_lines:
                    self._commit_portion(report, pending, digest, ctl)
                    if is_state:
                        st = json.dumps(msg.get("value"))
                        self._save_state(st)
                        report.final_state = st
                        digest = fresh_digest(st)
                    # a max_portion_lines cut keeps ACCUMULATING into the
                    # same digest: successive cuts of one oversized window
                    # get distinct cumulative ids (identical-content cuts
                    # cannot collide), and a redelivered run reproduces
                    # the same prefix ids, so the manifest still skips
                    pending = []
                    pending_has_records = False
                    ctl = self._fresh_control()
        finally:
            proc.stdout.close()
            report.tap_exit_code = proc.wait()
        if report.tap_exit_code != 0:
            # committed portions (and their states) stay committed — the
            # next run resumes from the last bookmark
            raise RuntimeError(
                f"singer tap exited with {report.tap_exit_code}"
            )
        if pending and (pending_has_records or ctl["maybe"]):
            # trailing records after the last STATE (including
            # fallback-sniffed ones the strict parser rejected): store
            # them; their redelivery on the next run is absorbed by the
            # batch-id skip (deterministic tap) or the idempotent LWW
            # merge
            self._commit_portion(report, pending, digest, ctl)
        return report
