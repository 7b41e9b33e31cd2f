"""SnapTable: an Iceberg-style snapshot table format over plain parquet.

The north rule's input is an Iceberg table and its checkpoint/lineage sink
is Iceberg, but no Iceberg runtime jar ships in this environment — so this
module implements the METADATA half of the table-format idea (the concepts
of the public Apache Iceberg spec: snapshot log, manifest file lists,
atomic metadata commit, time travel, incremental scan, file-level column
stats) from scratch in pure Python over immutable parquet data files.
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

Per data file the manifest records row count plus min/max column
stats pulled from the parquet footer — metadata-only reads, no data scan —
which lets ``read(..., where=...)`` prune whole files before Spark ever
sees them (Iceberg's scan-planning trick; at 100 TB this is the difference
between listing 10^6 files and opening the 40 that can match).

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

Schema and layout evolution (round 6): appends may ADD columns — the
table schema widens with the commit and every scan passes the current
schema explicitly, so pre-evolution files read the new columns as null
(Iceberg add-column semantics; type change and column drop refuse) —
and ``append(partition_by=[...])`` lays a batch out one file set per
partition value (identity transform) with tight footer stats, making
``where=`` pruning an exact partition prune.

Deviations from the real spec, documented not hidden: manifest and
manifest-list files are JSON (not avro), partition specs support only
the identity transform and do not evolve, and schema evolution is
add-column only.  The on-disk data is plain parquet throughout — any
engine (DuckDB, the driver's oracle, Spark without this module) can
read a snapshot by listing the manifest files' entries.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from urllib.parse import unquote

import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession

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


def _file_stats(fpath: str) -> dict:
    """Row count + per-column min/max from the parquet FOOTER only."""
    md = pq.ParquetFile(fpath).metadata
    mins: dict = {}
    maxs: dict = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            name = col.path_in_schema
            lo, hi = st.min, st.max
            # only JSON-representable orderable scalars (timestamps /
            # binary stats are skipped; affected files just never prune)
            if not (isinstance(lo, (int, float, str))
                    and isinstance(hi, (int, float, str))
                    and not isinstance(lo, bool)):
                continue
            mins[name] = lo if name not in mins else min(mins[name], lo)
            maxs[name] = hi if name not in maxs else max(maxs[name], hi)
    return {"rows": md.num_rows,
            "min": {k: v for k, v in mins.items()},
            "max": {k: v for k, v in maxs.items()}}


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
        """The snapshot's full per-file entry list ({path, rows, min, max})."""
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

    def _write_data(self, df: DataFrame, version: int,
                    partition_by: list | None = None) -> list[dict]:
        # unique suffix: a retry after CommitConflict must not collide
        # with the loser attempt's orphan directory
        rel_dir = os.path.join(
            "data", f"snap-{version}-{uuid.uuid4().hex[:8]}")
        out = os.path.join(self.path, rel_dir)
        if partition_by:
            # identity partition transform (the Iceberg partition-spec
            # concept).  The partition column is DUPLICATED into a `_p_`
            # directory column rather than moved: partitionBy drops its
            # column from the data files, and a multi-snapshot read can't
            # recover it via basePath inference (each snapshot has its own
            # snap dir, Spark accepts only one basePath).  Keeping the
            # real column in the files costs one duplicated value per row
            # and buys (a) schema-stable reads from a bare file list and
            # (b) tight footer stats (min == max per file), which make the
            # existing `where=` pruning an EXACT partition prune with no
            # extra machinery.
            from pyspark.sql import functions as F
            dup = df
            pcols = []
            for c in partition_by:
                dup = dup.withColumn(f"_p_{c}", F.col(c))
                pcols.append(f"_p_{c}")
            dup.write.mode("error").partitionBy(*pcols).parquet(out)
        else:
            df.write.mode("error").parquet(out)
        files = []
        for dirpath, _, names in os.walk(out):
            for name in sorted(names):
                if not name.endswith(".parquet"):
                    continue
                full = os.path.join(dirpath, name)
                st = _file_stats(full)
                entry = {"path": os.path.relpath(full, self.path), **st}
                parts = {}
                for comp in os.path.relpath(dirpath, out).split(os.sep):
                    if comp.startswith("_p_") and "=" in comp:
                        k, _, v = comp.partition("=")
                        v = unquote(v)
                        # Spark writes null/empty partition values under
                        # the Hive sentinel dir; record a real null, not
                        # a string that collides with user data
                        parts[k[3:]] = (None if v ==
                                        "__HIVE_DEFAULT_PARTITION__" else v)
                if parts:
                    entry["partition"] = parts
                files.append(entry)
        return sorted(files, key=lambda f: f["path"])

    def _apply(self, df: DataFrame, operation: str,
               summary: dict | None, base: int | None = None,
               partition_by: list | None = None) -> int:
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
            mismatched = sorted(n for n in have.keys() & want.keys()
                                if have[n] != want[n])
            if mismatched:
                raise SnapTableError(
                    f"schema mismatch: columns {mismatched} change type "
                    "(type evolution is not supported)")
            dropped = sorted(set(have) - set(want))
            if dropped:
                raise SnapTableError(
                    f"schema mismatch: write is missing table columns "
                    f"{dropped} (writes must cover the full schema; "
                    "column drop is not supported)")
            # added columns are forced nullable (Iceberg: new columns are
            # optional) — pre-evolution files read them as null, so a
            # writer-reported non-null flag would let the planner fold
            # IsNull on the column to false and return wrong results
            added = [{**f, "nullable": True}
                     for f in schema["fields"] if f["name"] not in have]
            if added:
                # additive schema evolution (Iceberg add-column): the
                # table schema widens as part of this commit; files
                # written before the evolution simply lack the new
                # columns, and reads fill them with null because every
                # scan passes the CURRENT table schema explicitly
                meta["schema"] = {**meta["schema"],
                                  "fields": meta["schema"]["fields"] + added}
                schema = meta["schema"]
        if partition_by:
            cols = {f["name"] for f in schema["fields"]}
            missing = [c for c in partition_by if c not in cols]
            if missing:
                raise SnapTableError(
                    f"partition columns {missing} not in the DataFrame")
            # the directory key duplicates the column under _p_<name>;
            # an existing column of that name would be silently
            # clobbered by the rename and dropped from the data files
            clash = sorted(c for c in partition_by if f"_p_{c}" in cols)
            if clash:
                raise SnapTableError(
                    f"partition columns {clash} collide with existing "
                    f"_p_-prefixed columns; rename those columns first")
        new_files = self._write_data(df, base + 1, partition_by=partition_by)
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
               base: int | None = None,
               partition_by: list | None = None) -> int:
        """Add the DataFrame's rows; prior files are carried forward.
        Returns the new metadata version.

        ``base`` pins the commit to the metadata version the CALLER's
        decision was derived from: if another writer advanced the table in
        between, the commit raises ``CommitConflict`` instead of silently
        landing on top of state the caller never saw — e.g. two
        overlapping incremental-dedup runs that both read the same cursor
        must not both append the same batch.

        ``partition_by`` lays the batch out one file set per distinct
        value of the named columns (identity partition transform): the
        partition column is kept in the data files (see ``_write_data``),
        so per-file footer stats are tight (min == max) and a
        ``read(where=(col, '=', v))`` prunes to exactly that partition's
        files — at warehouse scale this is how a per-language or per-day
        scan avoids touching the rest of the table.  Each file's
        partition values are also recorded in its manifest entry."""
        return self._apply(df, "append", summary, base=base,
                           partition_by=partition_by)

    def rollback_to(self, snapshot_id: int) -> int:
        """New commit whose current snapshot is an OLD one (history kept)."""
        base = self.current_version()
        meta = self.metadata(base)
        self._snapshot(meta, snapshot_id)          # must exist
        meta["current_snapshot_id"] = snapshot_id
        return self._commit(base, meta)

    # ---- reads --------------------------------------------------------

    def _manifest(self, snapshot_id: int | None = None,
                  meta: dict | None = None) -> list[dict]:
        if meta is None:
            meta = self.metadata()
        sid = meta["current_snapshot_id"] if snapshot_id is None \
            else snapshot_id
        if sid is None:
            return []
        return self._load_manifest(self._snapshot(meta, sid))

    def _scan(self, spark: SparkSession, schema: dict,
              paths: list) -> DataFrame:
        """The one way any scan reads data files: EXPLICIT current table
        schema (no inference pass; pre-evolution files fill newer columns
        with null).  Every scan site — read, incremental, compact — must
        go through here so none can regress to inference."""
        from pyspark.sql.types import StructType
        return spark.read.schema(StructType.fromJson(schema)).parquet(*paths)

    @staticmethod
    def _prune(manifest: list[dict], where) -> list[dict]:
        if where is None:
            return manifest
        col, op, val = where
        keep = []
        for f in manifest:
            lo, hi = f["min"].get(col), f["max"].get(col)
            if lo is None or hi is None:       # no stats: cannot prune
                keep.append(f)
                continue
            alive = {"=": lambda: lo <= val <= hi,
                     ">=": lambda: hi >= val,
                     ">": lambda: hi > val,
                     "<=": lambda: lo <= val,
                     "<": lambda: lo < val}.get(op)
            if alive is None:
                raise SnapTableError(f"unsupported prune op {op!r}")
            try:
                hit = alive()
            except TypeError:
                # e.g. a string predicate against int column stats — a
                # typo'd predicate should fail loudly, not silently scan
                # the whole table with a filter that matches nothing
                raise SnapTableError(
                    f"predicate value {val!r} is not comparable with "
                    f"column {col!r} stats ({lo!r} .. {hi!r})") from None
            if hit:
                keep.append(f)
        return keep

    def read(self, spark: SparkSession, snapshot_id: int | None = None,
             where: tuple | None = None) -> DataFrame:
        """Scan a snapshot (current by default).  ``where=(col, op, val)``
        prunes files on footer min/max BEFORE Spark plans the scan; the
        predicate still applies row-level via the returned plan's filter
        (pruning is an optimization, never a semantic).

        Every scan passes the CURRENT table schema explicitly (Iceberg
        semantics — old snapshots read under the current schema): no
        inference pass over the files, and files written before an
        additive schema evolution fill the newer columns with null."""
        meta = self.metadata()        # ONE metadata read: the manifest
        # resolution and the schema must come from the same version
        manifest = self._prune(self._manifest(snapshot_id, meta=meta), where)
        schema = meta["schema"]
        if schema is None:
            raise SnapTableError("empty table has no schema yet")
        if not manifest:
            from pyspark.sql.types import StructType
            return local_table(spark, [], StructType.fromJson(schema))
        df = self._scan(
            spark, schema,
            [os.path.join(self.path, f["path"]) for f in manifest])
        if where is not None:
            col, op, val = where
            # Column expressions, not interpolated SQL strings: a string
            # value holding quotes/backslashes, or a non-SQL literal
            # (bool, inf), must reach the plan as a literal, never as
            # parser input
            from pyspark.sql import functions as F
            c = F.col(col)
            cond = {"=": c == F.lit(val), ">=": c >= F.lit(val),
                    ">": c > F.lit(val), "<=": c <= F.lit(val),
                    "<": c < F.lit(val)}.get(op)
            if cond is None:
                raise SnapTableError(f"unsupported filter op {op!r}")
            df = df.filter(cond)
        return df

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
        if not files:
            return self.read(spark, snapshot_id=from_snapshot_id).limit(0)
        return self._scan(spark, meta["schema"],
                          [os.path.join(self.path, f) for f in files])

    # ---- maintenance --------------------------------------------------

    def compact(self, spark: SparkSession, target_file_mb: int = 512,
                min_files: int = 8) -> int | None:
        """Rewrite the current snapshot's data files into ~``target_file_mb``
        files (Iceberg's rewrite-data-files / OPTIMIZE).

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
        n_out = max(1, -(-total_bytes // (target_file_mb << 20)))
        # explicit schema like every scan: an inference read here picks
        # whichever file it samples first — on a schema-evolved table
        # that's a pre-evolution file, the rewritten df would lack the
        # added columns, and the replace commit would refuse as a
        # column drop (compaction permanently broken for the table)
        df = self._scan(spark, meta["schema"], paths).repartition(n_out)
        return self._apply(df, "replace", {
            **inherited,
            "files_before": len(manifest), "files_after": n_out,
            "bytes_before": total_bytes}, base=base)

    def vacuum(self, keep_snapshots: int = 1,
               orphan_grace_s: float = 3 * 24 * 3600.0,
               keep_metadata_versions: int | None = 100) -> list[str]:
        """Drop all but the last ``keep_snapshots`` snapshots from the log
        (current always kept) and delete data files, manifest files and
        old metadata versions no surviving snapshot references — including
        orphans from crashed commits.  Returns the deleted file paths.

        Ordering: the pruned metadata is COMMITTED FIRST, files are deleted
        only after it lands — a ``CommitConflict`` (concurrent writer)
        therefore deletes nothing, instead of leaving committed metadata
        that references already-deleted files.  Files referenced by NO
        snapshot at all are deleted only when older than
        ``orphan_grace_s`` (default 3 days, Iceberg's remove-orphan-files
        default, sized so even a very long concurrent write finishes
        inside it): a file
        that young may be a concurrent writer's not-yet-committed append,
        indistinguishable from a crash orphan by name alone.

        ``keep_metadata_versions`` (Iceberg's previous-versions-max)
        additionally deletes ``v<k>.metadata.json`` files more than that
        many versions behind current, gated by the same grace period so a
        reader still probing from a very stale hint never loses its
        ladder; ``None`` keeps all."""
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
                return now - os.path.getmtime(full) > orphan_grace_s
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
            elif (keep_metadata_versions is not None
                    and name.startswith("v")
                    and name.endswith(".metadata.json")):
                try:
                    k = int(name[1:-len(".metadata.json")])
                except ValueError:
                    continue
                if k <= new_version - keep_metadata_versions and _aged(full):
                    os.remove(full)
                    deleted.append(rel)
        return sorted(deleted)
