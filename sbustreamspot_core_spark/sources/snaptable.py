"""SnapTable: an Iceberg-style snapshot table format over plain parquet.

The north rule's input is an Iceberg table and its checkpoint/lineage sink
is Iceberg, but no Iceberg runtime jar ships in this environment — so this
module implements the METADATA half of the table-format idea (the concepts
of the public Apache Iceberg spec: snapshot log, manifest file lists,
atomic metadata commit, time travel, incremental scan) from scratch in
pure Python over immutable parquet data files.
``sources/iceberg.py`` routes to it automatically when a path holds a
SnapTable, so ``read_table(..., snapshot_id=...)`` works without any jar;
on a real cluster the Iceberg DataSource path is taken instead and this
layer is bypassed.

Layout::

    table_dir/
      data/snap-<version>/part-*.parquet       immutable; one dir per commit
      metadata/v<N>.metadata.json              snapshot log at version N
      metadata/manifest-<v>-<uuid>.json        files ADDED by one commit
      metadata/manifest-list-<v>-<uuid>.json   manifest paths = full content
      metadata/version-hint.text               current version pointer

Each metadata version holds the WHOLE snapshot history, but — as in the
real Iceberg spec — a snapshot entry is O(1): it POINTS at a manifest-list
file, which lists the manifest files whose concatenation is the snapshot's
content, and each manifest file (written exactly once, at the commit that
added its files) holds the per-file entries.  An append therefore writes
one new manifest (O(batch files)), one new manifest list (O(manifests
since the last compaction) path strings), and rewrites
metadata.json at O(snapshots) fixed-size entries — per-commit metadata
cost is FLAT in the table's total file count, instead of the
O(snapshots x files) full-log rewrite of the round-5 inlined format
(measured growing past 2 s/commit by 192 appends; see BENCH.md), which
``metadata()`` refuses as it does any format but ``snaptable/2``.  Compaction
collapses the manifest list back to one entry and ``vacuum`` bounds the
snapshot log, so both growth axes have a maintenance story.

Per data file the manifest records its path and its row count, read
from the parquet footer (no data scan).

Commit protocol (crash-safe at every step; Iceberg's
HadoopTableOperations semantics):

1. write data files under ``data/snap-<v>-<uuid>/`` (invisible to readers
   — nothing references them yet);
2. **commit point**: exclusively create ``v<N>.metadata.json`` (tmp file
   + ``os.link``, atomic create-or-EEXIST on POSIX) — of two writers
   racing from the same base exactly one wins; the loser raises
   ``CommitConflict`` without touching the winner's file.  A crash before
   this leaves only orphan data files (removed by ``vacuum()``);
3. best-effort: ``os.replace`` a tmp version-hint over
   ``version-hint.text``.  The hint is advisory — readers probe upward
   from it for committed-but-unhinted versions, so a crash between 2 and
   3 loses nothing and wedges nothing.

Optimistic concurrency: a commit refuses (``CommitConflict``) if another
writer advanced the table since the transaction's base version — the
caller retries on fresh state, as with Iceberg's compare-and-swap on the
catalog pointer.

Deviations from the real spec, documented not hidden: manifest and
manifest-list files are JSON (not avro); there are no partition specs,
no column stats and no schema evolution — the first append fixes the
table's columns and types, and an append whose columns or types differ
is refused.  The on-disk data is plain parquet throughout — any engine
(DuckDB, the driver's oracle, Spark without this module) can read a
snapshot by listing the manifest files' entries.
"""

from __future__ import annotations

import json
import os
import time
import uuid

import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..session import local_table


class SnapTableError(ValueError):
    """Structurally invalid table directory or bad arguments."""


class CommitConflict(RuntimeError):
    """Another writer advanced the table since this transaction's base."""


_HINT = "version-hint.text"
_FORMAT = "snaptable/2"
# summary keys a compaction's replace snapshot carries forward: the
# incremental-dedup consumption cursor (streaming/table_dedup.py)
_INHERITED_SUMMARY_KEYS = ("src_from", "src_to")
# compact() writes files of about this size
_TARGET_FILE_MB = 512
# vacuum() deletes a file no snapshot references only when it is older
# than this (Iceberg's remove-orphan-files default, 3 days, sized so even
# a very long concurrent write finishes inside it), and metadata versions
# only when they are this many versions behind current (Iceberg's
# previous-versions-max)
_ORPHAN_GRACE_S = 3 * 24 * 3600.0
_KEEP_METADATA_VERSIONS = 100


def _meta_dir(path: str) -> str:
    return os.path.join(path, "metadata")


def _meta_file(path: str, version: int) -> str:
    return os.path.join(_meta_dir(path), f"v{version}.metadata.json")


def _atomic_write(final_path: str, text: str) -> None:
    tmp = f"{final_path}.tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, final_path)


def _atomic_create(final_path: str, text: str) -> None:
    """Atomic write that FAILS if ``final_path`` already exists.

    ``os.replace`` clobbers, so two writers racing to commit the same
    metadata version would both succeed in writing the file and the loser
    would silently overwrite the winner's committed metadata before its
    hint check fails.  ``os.link`` is atomic create-or-EEXIST on POSIX —
    the version file itself becomes the compare-and-swap."""
    tmp = f"{final_path}.tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, final_path)
    except FileExistsError:
        raise CommitConflict(
            f"{os.path.basename(final_path)} was committed concurrently")
    finally:
        os.remove(tmp)


def is_snaptable(path: str) -> bool:
    return os.path.exists(os.path.join(_meta_dir(path), _HINT))


class SnapTable:
    """Handle on a snapshot table directory.  Cheap to construct; every
    operation re-reads the version hint so handles never go stale."""

    def __init__(self, path: str):
        self.path = path
        if not is_snaptable(path):
            raise SnapTableError(f"{path} is not a SnapTable "
                                 "(missing metadata/version-hint.text)")

    # ---- metadata plumbing -------------------------------------------

    @staticmethod
    def create(path: str) -> "SnapTable":
        """Initialise an empty table (version 0, no snapshots).

        Raises if the table already fully exists (hint present).  A crash
        between the v0 commit and the hint write leaves v0 without a hint
        — neither openable nor (naively) creatable; since v0 is always an
        empty snapshot-less table, completing the interrupted create is
        idempotent, so that state is repaired here instead of wedging."""
        if is_snaptable(path):
            raise SnapTableError(f"{path} is already a SnapTable")
        os.makedirs(_meta_dir(path), exist_ok=True)
        os.makedirs(os.path.join(path, "data"), exist_ok=True)
        meta = {"format": _FORMAT, "table_uuid": uuid.uuid4().hex,
                "schema": None, "current_snapshot_id": None,
                "snapshots": []}
        try:
            _atomic_create(_meta_file(path, 0), json.dumps(meta, indent=1))
        except CommitConflict:
            pass        # v0 committed by a crashed (or racing) create —
            # finish its job; the hint write below is the missing half
        _atomic_write(os.path.join(_meta_dir(path), _HINT), "0")
        return SnapTable(path)

    @staticmethod
    def open_or_create(path: str) -> "SnapTable":
        """The table at ``path``, created empty if there is none yet."""
        return (SnapTable(path) if is_snaptable(path)
                else SnapTable.create(path))

    def current_version(self) -> int:
        """The highest committed metadata version.

        The hint file is advisory (Iceberg's HadoopTableOperations
        semantics): the COMMIT POINT is the exclusive create of
        ``v<N>.metadata.json``, after which the hint update is best-effort
        — a writer can crash between the two.  Readers therefore probe
        upward from the hint, so a committed-but-unhinted version is still
        observed and the next commit builds on it instead of wedging on
        FileExistsError."""
        with open(os.path.join(_meta_dir(self.path), _HINT)) as f:
            v = int(f.read().strip())
        while os.path.exists(_meta_file(self.path, v + 1)):
            v += 1
        return v

    def metadata(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        fp = _meta_file(self.path, v)
        if not os.path.exists(fp):
            raise SnapTableError(f"no metadata version {v}")
        with open(fp) as f:
            meta = json.load(f)
        if meta.get("format") != _FORMAT:
            raise SnapTableError(
                f"{fp}: format {meta.get('format')!r}, expected {_FORMAT!r}")
        return meta

    def snapshots(self) -> list[dict]:
        return self.metadata()["snapshots"]

    def current_snapshot_id(self) -> int | None:
        return self.metadata()["current_snapshot_id"]

    def _snapshot(self, meta: dict, snapshot_id: int) -> dict:
        for s in meta["snapshots"]:
            if s["snapshot_id"] == snapshot_id:
                return s
        raise SnapTableError(f"no snapshot {snapshot_id}")

    # ---- manifest indirection ----------------------------------------
    # A snapshot entry in metadata.json is O(1): it points at a
    # manifest-list file (the manifest paths whose concatenation is the
    # snapshot's full content) and at the added-manifest file (the files
    # this commit added).  Manifest files are immutable once written —
    # append chains SHARE the earlier manifests by path, so a commit
    # never re-serializes previously committed file entries.

    def _write_meta_json(self, prefix: str, version: int, obj) -> str:
        rel = os.path.join(
            "metadata", f"{prefix}-{version}-{uuid.uuid4().hex[:8]}.json")
        _atomic_write(os.path.join(self.path, rel), json.dumps(obj))
        return rel

    def _read_meta_json(self, rel: str):
        with open(os.path.join(self.path, rel)) as f:
            return json.load(f)

    def _manifest_paths(self, snap: dict) -> list[str]:
        """Manifest-file relpaths making up the snapshot's content."""
        return self._read_meta_json(snap["manifest_list"])

    def _load_manifest(self, snap: dict) -> list[dict]:
        """The snapshot's full per-file entry list ({path, rows})."""
        out: list[dict] = []
        for rel in self._manifest_paths(snap):
            out.extend(self._read_meta_json(rel))
        return out

    def _added_paths(self, snap: dict) -> list[str]:
        """Data-file relpaths ADDED by the snapshot's own commit."""
        return [f["path"]
                for f in self._read_meta_json(snap["added_manifest"])]

    # ---- writes -------------------------------------------------------

    def _commit(self, base_version: int, meta: dict) -> int:
        if self.current_version() != base_version:
            raise CommitConflict(
                f"table advanced past base version {base_version}")
        new_v = base_version + 1
        # exclusive create IS the compare-and-swap (and the commit point):
        # of two writers racing from the same base, exactly one creates
        # v<N>.metadata.json; the loser raises without touching the
        # winner's committed file.  The hint update after it is advisory —
        # current_version() probes past a stale hint
        _atomic_create(_meta_file(self.path, new_v),
                       json.dumps(meta, indent=1))
        _atomic_write(os.path.join(_meta_dir(self.path), _HINT), str(new_v))
        return new_v

    def _write_data(self, df: DataFrame, version: int) -> list[dict]:
        # unique suffix: a retry after CommitConflict must not collide
        # with the loser attempt's orphan directory
        rel_dir = os.path.join(
            "data", f"snap-{version}-{uuid.uuid4().hex[:8]}")
        out = os.path.join(self.path, rel_dir)
        df.write.mode("error").parquet(out)
        return [{"path": os.path.join(rel_dir, name),
                 "rows": pq.ParquetFile(os.path.join(out, name))
                 .metadata.num_rows}
                for name in sorted(os.listdir(out))
                if name.endswith(".parquet")]

    def _apply(self, df: DataFrame, operation: str,
               summary: dict | None, base: int | None = None) -> int:
        # callers whose df was DERIVED from table state (compact) pin the
        # base they read from, so a concurrent commit in between conflicts
        # instead of being silently erased by the new snapshot
        if base is None:
            base = self.current_version()
        meta = self.metadata(base)
        schema = json.loads(df.schema.json())
        if meta["schema"] is not None:
            have = {f["name"]: f["type"] for f in meta["schema"]["fields"]}
            want = {f["name"]: f["type"] for f in schema["fields"]}
            if have != want:
                raise SnapTableError(
                    f"schema mismatch: table columns {have}, write columns "
                    f"{want} (an append must match the table's columns and "
                    "types)")
        new_files = self._write_data(df, base + 1)
        parent = meta["current_snapshot_id"]
        added_manifest = self._write_meta_json("manifest", base + 1,
                                               new_files)
        if operation == "append" and parent is not None:
            carried = self._manifest_paths(self._snapshot(meta, parent))
        else:
            carried = []
        manifest_list = self._write_meta_json(
            "manifest-list", base + 1, carried + [added_manifest])
        snap_id = (max((s["snapshot_id"] for s in meta["snapshots"]),
                       default=0) + 1)
        meta["snapshots"].append({
            "snapshot_id": snap_id, "parent_id": parent,
            "operation": operation, "ts": time.time(),
            "added_manifest": added_manifest,
            "manifest_list": manifest_list,
            "summary": summary or {}})
        meta["current_snapshot_id"] = snap_id
        meta["schema"] = meta["schema"] or schema
        return self._commit(base, meta)

    def append(self, df: DataFrame, summary: dict | None = None,
               base: int | None = None) -> int:
        """Add the DataFrame's rows; prior files are carried forward.
        Returns the new metadata version.

        ``base`` pins the commit to the metadata version the CALLER's
        decision was derived from: if another writer advanced the table in
        between, the commit raises ``CommitConflict`` instead of silently
        landing on top of state the caller never saw — e.g. two
        overlapping incremental-dedup runs that both read the same cursor
        must not both append the same batch.

        The DataFrame's columns and types must be the table's (the first
        append fixes them); otherwise it raises ``SnapTableError`` and
        commits nothing."""
        return self._apply(df, "append", summary, base=base)

    # ---- reads --------------------------------------------------------

    def _scan(self, spark: SparkSession, schema: dict,
              paths: list) -> DataFrame:
        """The one way any scan reads data files: the EXPLICIT table
        schema (no inference pass), and a driver-side empty table when
        there are no files to read.  Every scan site — read, incremental,
        compact — goes through here."""
        schema = StructType.fromJson(schema)
        if not paths:
            return local_table(spark, [], schema)
        return spark.read.schema(schema).parquet(*paths)

    def read(self, spark: SparkSession,
             snapshot_id: int | None = None) -> DataFrame:
        """Scan a snapshot (current by default) under the table schema."""
        meta = self.metadata()        # ONE metadata read: the manifest
        # resolution and the schema must come from the same version
        if meta["schema"] is None:
            raise SnapTableError("empty table has no schema yet")
        sid = meta["current_snapshot_id"] if snapshot_id is None \
            else snapshot_id
        return self._scan(
            spark, meta["schema"],
            [os.path.join(self.path, f["path"])
             for f in self._load_manifest(self._snapshot(meta, sid))])

    def incremental(self, spark: SparkSession, from_snapshot_id: int,
                    to_snapshot_id: int | None = None) -> DataFrame:
        """Rows ADDED strictly after ``from_snapshot_id`` up to and
        including ``to_snapshot_id`` (current by default) — the
        append-only changelog scan that lets a consumer (e.g. the
        incremental dedup index) process only new data.  Raises if the
        range crosses a snapshot that is neither an append nor a
        compaction's replace."""
        meta = self.metadata()
        to_sid = meta["current_snapshot_id"] if to_snapshot_id is None \
            else to_snapshot_id
        self._snapshot(meta, from_snapshot_id)     # must exist
        files: list[str] = []
        sid = to_sid
        while sid is not None and sid != from_snapshot_id:
            s = self._snapshot(meta, sid)
            if s["operation"] == "replace":
                # compaction rewrites files but adds no logical rows — the
                # changelog skips it; the skipped appends' original files
                # remain referenced by their own snapshots until vacuum
                # (after which the ancestor lookup below fails loudly)
                sid = s["parent_id"]
                continue
            if s["operation"] != "append":
                raise SnapTableError(
                    f"incremental range crosses {s['operation']} snapshot "
                    f"{sid}; read the full snapshot instead")
            files.extend(self._added_paths(s))
            sid = s["parent_id"]
        if sid != from_snapshot_id:
            raise SnapTableError(
                f"snapshot {from_snapshot_id} is not an ancestor of {to_sid}")
        return self._scan(spark, meta["schema"],
                          [os.path.join(self.path, f) for f in files])

    # ---- maintenance --------------------------------------------------

    def compact(self, spark: SparkSession, min_files: int = 8) -> int | None:
        """Rewrite the current snapshot's data files into files of about
        ``_TARGET_FILE_MB`` (Iceberg's rewrite-data-files / OPTIMIZE).

        The small-files problem is the dominant failure mode of append-only
        tables at warehouse scale: a table fed by 10^4 incremental commits
        accumulates 10^4+ tiny files, and every scan pays per-file open +
        footer-read + scheduling cost.  Compaction commits a ``replace``
        snapshot whose manifest lists only the rewritten files — logical
        content identical (the commit races cleanly with readers, whose
        pinned manifests keep the old files alive until ``vacuum``), and
        :meth:`incremental` SKIPS replace snapshots, so changelog consumers
        are unaffected mid-stream.

        No-op (returns None) when the snapshot already has fewer than
        ``min_files`` files.  Returns the new metadata version otherwise.

        The replace snapshot's logical content equals the replaced
        snapshot's, so content-describing summary keys
        (``_INHERITED_SUMMARY_KEYS``, the incremental-dedup consumption
        cursor) are carried forward from the nearest ancestor that has
        them — without this, ``vacuum(keep_snapshots=1)`` right
        after a compaction would erase the cursor and the next dedup step
        would reprocess the entire source (double-appending bands and
        pairs)."""
        base = self.current_version()
        meta = self.metadata(base)
        sid = meta["current_snapshot_id"]
        if sid is None:
            return None
        manifest = self._load_manifest(self._snapshot(meta, sid))
        if len(manifest) < min_files:
            return None
        inherited = {}
        walk = sid
        while walk is not None and not inherited:
            s = self._snapshot(meta, walk)
            inherited = {k: s["summary"][k] for k in _INHERITED_SUMMARY_KEYS
                         if k in s["summary"]}
            walk = s["parent_id"]
        paths = [os.path.join(self.path, f["path"]) for f in manifest]
        total_bytes = sum(os.path.getsize(p) for p in paths)
        n_out = max(1, -(-total_bytes // (_TARGET_FILE_MB << 20)))
        df = self._scan(spark, meta["schema"], paths).repartition(n_out)
        return self._apply(df, "replace", {
            **inherited,
            "files_before": len(manifest), "files_after": n_out,
            "bytes_before": total_bytes}, base=base)

    def vacuum(self, keep_snapshots: int = 1) -> list[str]:
        """Drop all but the last ``keep_snapshots`` snapshots from the log
        (current always kept) and delete data files, manifest files and
        old metadata versions no surviving snapshot references — including
        orphans from crashed commits.  Returns the deleted file paths.

        Ordering: the pruned metadata is COMMITTED FIRST, files are deleted
        only after it lands — a ``CommitConflict`` (concurrent writer)
        therefore deletes nothing, instead of leaving committed metadata
        that references already-deleted files.  Files referenced by NO
        snapshot at all are deleted only when older than
        ``_ORPHAN_GRACE_S``: a younger file may be a concurrent writer's
        not-yet-committed append, indistinguishable from a crash orphan by
        name alone.

        ``v<k>.metadata.json`` files more than ``_KEEP_METADATA_VERSIONS``
        versions behind current are deleted too, gated by the same grace
        period so a reader still probing from a very stale hint never
        loses its ladder."""
        if keep_snapshots < 1:
            raise SnapTableError("must keep at least the current snapshot")
        base = self.current_version()
        meta = self.metadata(base)
        snaps = meta["snapshots"]
        keep_ids = {s["snapshot_id"] for s in snaps[-keep_snapshots:]}
        if meta["current_snapshot_id"] is not None:
            keep_ids.add(meta["current_snapshot_id"])
        kept = [s for s in snaps if s["snapshot_id"] in keep_ids]
        # parent pointers may now dangle; null them where the parent is gone
        for s in kept:
            if s["parent_id"] is not None and s["parent_id"] not in keep_ids:
                s["parent_id"] = None
        meta["snapshots"] = kept
        # load manifests BEFORE committing the pruned log (they must be
        # resolvable while we compute liveness)
        live: set = set()
        live_meta: set = set()
        for s in kept:
            live.update(f["path"] for f in self._load_manifest(s))
            live_meta.update((s["manifest_list"], s["added_manifest"]))
            live_meta.update(self._manifest_paths(s))
        # referenced by a dropped snapshot = provably committed garbage
        # once the pruned log lands; everything else unreferenced is an
        # orphan candidate gated by the grace period
        dropped_refs: set = set()
        dropped_meta: set = set()
        for s in snaps:
            if s["snapshot_id"] in keep_ids:
                continue
            dropped_refs.update(f["path"] for f in self._load_manifest(s))
            dropped_meta.update((s["manifest_list"], s["added_manifest"]))
            dropped_meta.update(self._manifest_paths(s))
        dropped_refs -= live
        dropped_meta -= live_meta
        self._commit(base, meta)        # raises CommitConflict -> no deletes
        new_version = base + 1
        now = time.time()
        deleted = []

        def _aged(full: str) -> bool:
            try:
                return now - os.path.getmtime(full) > _ORPHAN_GRACE_S
            except FileNotFoundError:
                return False        # a concurrent writer moved/removed it

        data_root = os.path.join(self.path, "data")
        for dirpath, _, names in os.walk(data_root):
            for name in names:
                full = os.path.join(dirpath, name)
                rel = os.path.relpath(full, self.path)
                if rel in live:
                    continue
                if rel in dropped_refs or _aged(full):
                    os.remove(full)
                    deleted.append(rel)
        meta_root = _meta_dir(self.path)
        for name in sorted(os.listdir(meta_root)):
            full = os.path.join(meta_root, name)
            rel = os.path.join("metadata", name)
            if name.startswith("manifest-") and name.endswith(".json"):
                # covers both manifest-* and manifest-list-*
                if rel in live_meta:
                    continue
                if rel in dropped_meta or _aged(full):
                    os.remove(full)
                    deleted.append(rel)
            elif name.startswith("v") and name.endswith(".metadata.json"):
                try:
                    k = int(name[1:-len(".metadata.json")])
                except ValueError:
                    continue
                if k <= new_version - _KEEP_METADATA_VERSIONS \
                        and _aged(full):
                    os.remove(full)
                    deleted.append(rel)
        return sorted(deleted)
