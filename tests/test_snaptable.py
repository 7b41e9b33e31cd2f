"""SnapTable: snapshot log, atomic commit, time travel, incremental scan,
schema refusal, conflict detection, crash orphans, vacuum."""

import json
import os
import time

import pytest

from sbustreamspot_core_spark.sources import snaptable
from sbustreamspot_core_spark.sources.iceberg import read_table
from sbustreamspot_core_spark.sources.snaptable import (
    CommitConflict,
    SnapTable,
    SnapTableError,
    is_snaptable,
)


def _df(spark, lo, hi, tag):
    return spark.range(lo, hi).selectExpr(
        "id", f"'{tag}' AS tag", "CAST(id * 2 AS DOUBLE) AS score")


def _rows(df):
    return {(r.id, r.tag) for r in df.select("id", "tag").collect()}


def _age(root):
    """Set every file under ``root`` past vacuum's orphan grace period."""
    old = time.time() - 2 * snaptable._ORPHAN_GRACE_S
    for dirpath, _, names in os.walk(root):
        for name in names:
            os.utime(os.path.join(dirpath, name), (old, old))


def _fake_snapshot(t, snapshot_id, parent_id, summary):
    """A metadata-only snapshot entry in the table's format: its added
    manifest and its manifest list are empty."""
    added = t._write_meta_json("manifest", 0, [])
    return {"snapshot_id": snapshot_id, "parent_id": parent_id,
            "operation": "append", "ts": 0.0, "added_manifest": added,
            "manifest_list": t._write_meta_json("manifest-list", 0, []),
            "summary": summary}


def test_create_append_read_and_time_travel(spark, tmp_ckpt):
    path = os.path.join(tmp_ckpt, "t1")
    t = SnapTable.create(path)
    assert is_snaptable(path) and t.current_snapshot_id() is None
    with pytest.raises(SnapTableError):
        t.read(spark)                        # empty table has no schema
    t.append(_df(spark, 0, 5, "a"), summary={"batch": "a"})
    t.append(_df(spark, 5, 8, "b"))
    assert _rows(t.read(spark)) == {(i, "a") for i in range(5)} \
        | {(i, "b") for i in range(5, 8)}
    # snapshot 1 still readable after snapshot 2 exists
    assert _rows(t.read(spark, snapshot_id=1)) == \
        {(i, "a") for i in range(5)}
    snaps = t.snapshots()
    assert [s["snapshot_id"] for s in snaps] == [1, 2]
    assert snaps[0]["summary"] == {"batch": "a"}
    assert snaps[1]["parent_id"] == 1
    # manifests carry row counts from the parquet footers, via the
    # manifest-list indirection (snapshot entries hold pointers only)
    assert "manifest" not in snaps[1]          # v2: no inlined entries
    entries = t._load_manifest(snaps[1])
    assert sum(f["rows"] for f in entries) == 8
    assert all(set(f) == {"path", "rows"} for f in entries)
    # the parent's manifest files are SHARED by path, not re-serialized
    assert set(t._manifest_paths(snaps[0])) < set(t._manifest_paths(snaps[1]))


def test_incremental_scan(spark, tmp_ckpt):
    path = os.path.join(tmp_ckpt, "t3")
    t = SnapTable.create(path)
    t.append(_df(spark, 0, 5, "s1"))
    t.append(_df(spark, 5, 9, "s2"))
    t.append(_df(spark, 9, 12, "s3"))
    inc = t.incremental(spark, from_snapshot_id=1)
    assert _rows(inc) == {(i, "s2") for i in range(5, 9)} \
        | {(i, "s3") for i in range(9, 12)}
    bounded = t.incremental(spark, from_snapshot_id=1, to_snapshot_id=2)
    assert _rows(bounded) == {(i, "s2") for i in range(5, 9)}
    assert t.incremental(spark, from_snapshot_id=3).count() == 0
    with pytest.raises(SnapTableError):      # not an ancestor
        t.incremental(spark, from_snapshot_id=2, to_snapshot_id=1)


def test_schema_mismatch_and_conflict(spark, tmp_ckpt):
    path = os.path.join(tmp_ckpt, "t5")
    t = SnapTable.create(path)
    t.append(_df(spark, 0, 3, "a"))
    v = t.current_version()
    for bad in (spark.range(3).selectExpr("id", "id AS other"),     # dropped
                _df(spark, 3, 4, "x").selectExpr(                   # retyped
                    "id", "tag", "CAST(score AS BIGINT) AS score"),
                _df(spark, 3, 4, "x").selectExpr("*", "1 AS extra")):  # added
        with pytest.raises(SnapTableError, match="schema mismatch"):
            t.append(bad)
        assert t.current_version() == v      # a refused append commits nothing
    # optimistic concurrency: a commit whose base version is stale refuses
    base = t.current_version()
    meta = t.metadata(base)
    t.append(_df(spark, 3, 4, "winner"))     # another writer advances
    with pytest.raises(CommitConflict):
        t._commit(base, meta)
    # the loser retries on fresh state and succeeds
    t.append(_df(spark, 4, 5, "retry"))
    assert _rows(t.read(spark)) >= {(3, "winner"), (4, "retry")}


def test_crash_orphans_invisible_and_vacuumed(spark, tmp_ckpt):
    path = os.path.join(tmp_ckpt, "t6")
    t = SnapTable.create(path)
    t.append(_df(spark, 0, 4, "a"))
    # crash between data write and metadata commit: orphan data dir
    orphan_dir = os.path.join(path, "data", "snap-99-deadbeef")
    os.makedirs(orphan_dir)
    _df(spark, 900, 903, "orphan").write.mode("overwrite").parquet(orphan_dir)
    # crash between metadata write and hint update: unreferenced version
    with open(os.path.join(path, "metadata", "v9.metadata.json"), "w") as f:
        json.dump({"bogus": True}, f)
    # readers see none of it
    assert _rows(t.read(spark)) == {(i, "a") for i in range(4)}
    assert t.current_version() < 9
    # default grace period protects young unreferenced files — they may be
    # a concurrent writer's not-yet-committed append, not a crash orphan
    assert not any("snap-99-deadbeef" in d for d in t.vacuum())
    _age(orphan_dir)
    deleted = t.vacuum()
    assert any("snap-99-deadbeef" in d for d in deleted)
    assert _rows(t.read(spark)) == {(i, "a") for i in range(4)}


def test_commit_race_loser_cannot_clobber(spark, tmp_ckpt):
    """Two writers racing from the same base: exactly one creates the new
    metadata version; the loser raises CommitConflict WITHOUT touching the
    winner's committed file (os.replace-based commits would clobber it)."""
    path = os.path.join(tmp_ckpt, "t_race")
    t = SnapTable.create(path)
    t.append(_df(spark, 0, 3, "a"))
    base = t.current_version()
    meta_w = t.metadata(base)
    meta_w["snapshots"].append(
        _fake_snapshot(t, 99, None, {"who": "winner"}))
    meta_l = t.metadata(base)
    meta_l["snapshots"].append(
        _fake_snapshot(t, 77, None, {"who": "loser"}))
    t._commit(base, meta_w)
    # the loser passed its base check before the winner's commit landed;
    # the exclusive create of the version file must still reject it
    with pytest.raises(CommitConflict):
        t._commit(base, meta_l)
    assert t.metadata()["snapshots"][-1]["summary"] == {"who": "winner"}
    # no stray tmp files left behind by the losing attempt
    assert not [f for f in os.listdir(os.path.join(path, "metadata"))
                if ".tmp-" in f]


def test_stale_hint_recovery(spark, tmp_ckpt):
    """Crash between the metadata commit point and the hint update: the
    committed version must still be observed (readers probe upward) and
    the next commit must build on it instead of wedging."""
    path = os.path.join(tmp_ckpt, "t_hint")
    t = SnapTable.create(path)
    t.append(_df(spark, 0, 3, "a"))
    t.append(_df(spark, 3, 5, "b"))
    v = t.current_version()
    # simulate the crash: roll the hint back one version
    with open(os.path.join(path, "metadata", "version-hint.text"), "w") as f:
        f.write(str(v - 1))
    assert t.current_version() == v
    assert _rows(t.read(spark)) == {(i, "a") for i in range(3)} \
        | {(i, "b") for i in range(3, 5)}
    t.append(_df(spark, 5, 6, "c"))          # does not wedge
    assert t.current_version() == v + 1
    assert (5, "c") in _rows(t.read(spark))


def test_compact_rewrites_files_and_changelog_skips_replace(spark, tmp_ckpt):
    """compact() merges small files into a ``replace`` snapshot: identical
    content, fewer files, time travel intact, and incremental consumers
    skip the replace — appends on either side of it are still delivered
    exactly once from their ORIGINAL files."""
    path = os.path.join(tmp_ckpt, "t_compact")
    t = SnapTable.create(path)
    t.append(_df(spark, 0, 4, "a").repartition(4))     # 4 files
    t.append(_df(spark, 4, 8, "b").repartition(4))     # 8 total
    cursor = t.current_snapshot_id()                   # consumer is here
    t.append(_df(spark, 8, 10, "c").repartition(2))    # pre-compact append
    files_before = len(t._load_manifest(t.snapshots()[-1]))
    assert files_before >= 8                           # many small files
    v = t.compact(spark, min_files=2)
    assert v is not None
    snaps = t.snapshots()
    assert snaps[-1]["operation"] == "replace"
    assert snaps[-1]["summary"]["files_before"] == files_before
    assert len(t._load_manifest(snaps[-1])) < files_before
    all_rows = {(i, "a") for i in range(4)} | {(i, "b") for i in range(4, 8)} \
        | {(i, "c") for i in range(8, 10)}
    assert _rows(t.read(spark)) == all_rows            # content identical
    assert _rows(t.read(spark, snapshot_id=cursor)) == \
        {(i, t_) for (i, t_) in all_rows if i < 8}     # time travel intact
    t.append(_df(spark, 10, 12, "d"))                  # post-compact append
    # changelog across the replace: appends c and d, each exactly once
    inc = t.incremental(spark, from_snapshot_id=cursor)
    assert _rows(inc) == {(8, "c"), (9, "c"), (10, "d"), (11, "d")}
    assert inc.count() == 4
    # below min_files: no-op
    t2 = SnapTable(path)
    assert t2.compact(spark, min_files=1000) is None
    # vacuum drops the pre-compact small files once snapshots expire
    deleted = t.vacuum(keep_snapshots=1)
    assert len(deleted) >= files_before
    assert _rows(t.read(spark)) == all_rows | {(10, "d"), (11, "d")}


def test_vacuum_expires_time_travel(spark, tmp_ckpt):
    path = os.path.join(tmp_ckpt, "t7")
    t = SnapTable.create(path)
    t.append(_df(spark, 0, 3, "a"))
    t.append(_df(spark, 10, 13, "b"))
    # the replace snapshot rewrites both appends' files into new ones
    assert t.compact(spark, min_files=1) is not None
    deleted = t.vacuum(keep_snapshots=1)
    assert deleted                           # the appends' files are gone
    assert _rows(t.read(spark)) == {(i, "a") for i in range(3)} \
        | {(i, "b") for i in range(10, 13)}
    with pytest.raises(SnapTableError):
        t.read(spark, snapshot_id=1)


def test_iceberg_source_routes_to_snaptable(spark, tmp_ckpt):
    path = os.path.join(tmp_ckpt, "t8")
    t = SnapTable.create(path)
    t.append(_df(spark, 0, 4, "x"))
    t.append(_df(spark, 4, 6, "y"))
    assert _rows(read_table(spark, path)) == {(i, "x") for i in range(4)} \
        | {(i, "y") for i in range(4, 6)}
    assert _rows(read_table(spark, path, snapshot_id=1)) == \
        {(i, "x") for i in range(4)}
    # plain parquet dirs keep the old fallback behavior
    plain = os.path.join(tmp_ckpt, "plain")
    _df(spark, 0, 2, "p").write.parquet(plain)
    assert read_table(spark, plain).count() == 2


def test_pagerank_lineage_committed_to_snaptable(spark, tmp_ckpt):
    """One SnapTable snapshot per checkpointed superstep, delta metrics in
    the snapshot summary, per-partition row counts queryable + time-travel."""
    from sbustreamspot_core_spark.config import GraphParams
    from sbustreamspot_core_spark.graph.pagerank import pagerank

    e = [(i, (i * 3 + 1) % 20) for i in range(20)] + [(i, 0) for i in range(1, 20, 4)]
    df = spark.createDataFrame(sorted(set(e)), "src long, dst long")
    ck = os.path.join(tmp_ckpt, "pr_ck")
    lt = os.path.join(tmp_ckpt, "pr_lineage")
    params = GraphParams(num_partitions=4, checkpoint_interval=2,
                         max_iters=6, tol=0.0)
    pagerank(spark, df, params, checkpoint_dir=ck, resume=False,
             lineage_table=lt)

    t = SnapTable(lt)
    snaps = t.snapshots()
    # 0-indexed supersteps checkpoint at k = 1, 3, 5 with interval=2
    steps = [s["summary"]["superstep"] for s in snaps]
    assert steps == sorted(steps) and steps[-1] == 5 and len(steps) >= 3
    for s in snaps:
        assert "delta" in s["summary"] and "total_rank" in s["summary"]
    # the full lineage log is one queryable table...
    log = t.read(spark)
    assert log.groupBy("superstep").count().count() == len(steps)
    # ...and time travel to the first commit shows only the first superstep
    first = t.read(spark, snapshot_id=snaps[0]["snapshot_id"])
    assert {r.superstep for r in first.select("superstep").collect()} == {steps[0]}


def _stress_writer(path: str, worker: int, n_commits: int, out_q):
    """Retry-loop committer: metadata-only snapshots tagged (worker, i)."""
    t = SnapTable(path)
    committed = []
    for i in range(n_commits):
        sid = worker * 1_000_000 + i
        snap = _fake_snapshot(t, sid, None, {"worker": worker, "i": i})
        while True:
            base = t.current_version()
            meta = t.metadata(base)
            meta["snapshots"].append(
                {**snap, "parent_id": meta["current_snapshot_id"]})
            meta["current_snapshot_id"] = sid
            try:
                committed.append(t._commit(base, meta))
                break
            except CommitConflict:
                continue
    out_q.put((worker, committed))


def test_commit_stress_many_processes(tmp_ckpt):
    """8 real processes x 12 commits each hammering the optimistic-commit
    CAS: every commit must land EXACTLY once (no lost updates, no
    duplicate versions), the snapshot log must be a single parent-linked
    chain, and the final version must equal the total commit count.

    This is the concurrency claim of the exclusive-create protocol under
    actual parallelism, not the single-interleaving unit test above —
    os.replace-based commits pass that one but lose updates here."""
    import multiprocessing as mp

    path = os.path.join(tmp_ckpt, "t_stress")
    SnapTable.create(path)
    n_workers, n_commits = 8, 12
    ctx = mp.get_context("fork")
    q = ctx.Queue()
    procs = [ctx.Process(target=_stress_writer,
                         args=(path, w, n_commits, q))
             for w in range(n_workers)]
    for p in procs:
        p.start()
    results = [q.get(timeout=120) for _ in procs]
    for p in procs:
        p.join(timeout=120)
        assert p.exitcode == 0

    versions = [v for _, vs in results for v in vs]
    assert len(versions) == n_workers * n_commits
    assert sorted(versions) == list(range(1, n_workers * n_commits + 1))

    t = SnapTable(path)
    assert t.current_version() == n_workers * n_commits
    snaps = t.snapshots()
    # every (worker, i) landed exactly once
    seen = [(s["summary"]["worker"], s["summary"]["i"]) for s in snaps]
    assert sorted(seen) == sorted(
        (w, i) for w in range(n_workers) for i in range(n_commits))
    # single parent-linked chain from the current snapshot to the root
    by_id = {s["snapshot_id"]: s for s in snaps}
    sid, hops = t.current_snapshot_id(), 0
    while sid is not None:
        sid = by_id[sid]["parent_id"]
        hops += 1
    assert hops == len(snaps)
    # no tmp litter from losing attempts
    assert not [f for f in os.listdir(os.path.join(path, "metadata"))
                if ".tmp-" in f]


def test_cc_and_lpa_lineage_committed_to_snaptable(spark, tmp_ckpt):
    """connected_components and label_propagation expose the same
    per-superstep lineage commits as pagerank; a set small_graph_threshold
    must NOT short-circuit past the superstep machinery when lineage was
    asked for (the fast path has no supersteps to record)."""
    from sbustreamspot_core_spark.config import GraphParams
    from sbustreamspot_core_spark.graph.components import connected_components
    from sbustreamspot_core_spark.graph.labelprop import label_propagation

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)] + [(20, 21)], "src long, dst long")
    params = GraphParams(num_partitions=4, checkpoint_interval=2,
                         max_iters=20, lpa_max_iters=3,
                         small_graph_threshold=1000)

    lt_cc = os.path.join(tmp_ckpt, "cc_lineage")
    res = connected_components(
        spark, edges, params=params,
        checkpoint_dir=os.path.join(tmp_ckpt, "cc_ck"), lineage_table=lt_cc)
    assert res.supersteps > 0          # fast path skipped: lineage wanted
    snaps = SnapTable(lt_cc).snapshots()
    assert len(snaps) >= 2
    assert all("changed" in s["summary"] for s in snaps)

    lt_lpa = os.path.join(tmp_ckpt, "lpa_lineage")
    label_propagation(
        spark, edges, params=params,
        checkpoint_dir=os.path.join(tmp_ckpt, "lpa_ck"), lineage_table=lt_lpa)
    snaps = SnapTable(lt_lpa).snapshots()
    assert len(snaps) >= 1
    assert all("changed" in s["summary"] for s in snaps)


def test_create_recovers_from_crash_before_hint(tmp_ckpt):
    """Crash between the v0 metadata commit and the hint write must not
    wedge the path: a later create() completes the interrupted create
    (v0 is always an empty snapshot-less table, so finishing it is
    idempotent); a fully-created table still refuses create()."""
    path = os.path.join(tmp_ckpt, "t_crashed_create")
    os.makedirs(os.path.join(path, "metadata"))
    with open(os.path.join(path, "metadata", "v0.metadata.json"), "w") as f:
        json.dump({"format": "snaptable/2", "table_uuid": "dead",
                   "schema": None, "current_snapshot_id": None,
                   "snapshots": []}, f)
    assert not is_snaptable(path)            # the crashed state
    t = SnapTable.create(path)               # repairs instead of wedging
    assert is_snaptable(path) and t.current_version() == 0
    with pytest.raises(SnapTableError):
        SnapTable.create(path)               # fully exists now


def test_lineage_commit_idempotent_under_replay(spark, tmp_ckpt):
    """The lineage SnapTable append lands before the _COMPLETE marker; a
    crash between them replays the superstep, and the replayed
    _commit_lineage must not add a second snapshot for the same k."""
    from sbustreamspot_core_spark.config import GraphParams
    from sbustreamspot_core_spark.graph.pagerank import pagerank

    edges = spark.createDataFrame(
        [(i, (i * 3 + 1) % 8) for i in range(8)], "src long, dst long")
    ck = os.path.join(tmp_ckpt, "replay_ck")
    lt = os.path.join(tmp_ckpt, "replay_lineage")
    params = GraphParams(num_partitions=2, checkpoint_interval=2,
                         max_iters=4, tol=0.0)
    pagerank(spark, edges, params, checkpoint_dir=ck, resume=False,
             lineage_table=lt)
    steps_before = [s["summary"]["superstep"]
                    for s in SnapTable(lt).snapshots()]
    # simulate the crash window: the last checkpointed superstep committed
    # lineage but never wrote _COMPLETE -> resume replays it
    last = max(steps_before)
    os.remove(os.path.join(ck, f"superstep={last}", "_COMPLETE"))
    pagerank(spark, edges, params, checkpoint_dir=ck, resume=True,
             lineage_table=lt)
    steps_after = [s["summary"]["superstep"]
                   for s in SnapTable(lt).snapshots()]
    assert sorted(steps_after) == sorted(set(steps_after))  # no duplicates
    assert set(steps_after) == set(steps_before)


def test_flat_commit_metadata_and_vacuum_cleans_manifests(spark, tmp_ckpt,
                                                          monkeypatch):
    """The v2 format's core property: metadata.json holds O(snapshots)
    fixed-size pointer entries — NO per-file entries — so per-commit
    metadata growth is constant in the table's total file count; vacuum
    removes the manifest/manifest-list files of expired snapshots and old
    metadata versions."""
    path = os.path.join(tmp_ckpt, "t_flat")
    t = SnapTable.create(path)
    for k in range(6):
        t.append(_df(spark, k * 10, k * 10 + 10, f"b{k}").coalesce(1))
    md = os.path.join(path, "metadata")
    with open(os.path.join(md, f"v{t.current_version()}.metadata.json")) as f:
        raw = f.read()
    # pointers only: no data-file paths, no per-file stats in the log
    assert "part-" not in raw and '"rows"' not in raw
    # per-commit growth of the snapshot log is a near-constant entry size,
    # not the cumulative file count (v1 grew by O(files) per commit)
    sizes = [os.path.getsize(os.path.join(md, f"v{v}.metadata.json"))
             for v in range(1, 7)]
    deltas = [b - a for a, b in zip(sizes, sizes[1:])]
    assert max(deltas) <= min(deltas) + 64
    assert t.read(spark).count() == 60

    # a compaction's replace snapshot orphans every earlier manifest;
    # vacuum must delete them (and old metadata versions) while keeping
    # reads exact
    assert t.compact(spark, min_files=1) is not None
    _age(path)
    monkeypatch.setattr(snaptable, "_KEEP_METADATA_VERSIONS", 1)
    deleted = t.vacuum(keep_snapshots=1)
    assert any("manifest-list-" in d for d in deleted)
    assert any(d.startswith("metadata/manifest-") for d in deleted)
    assert any(d.endswith(".metadata.json") for d in deleted)
    names = os.listdir(md)
    # exactly the current snapshot's manifest + list survive
    assert len([n for n in names if n.startswith("manifest-list-")]) == 1
    assert len([n for n in names
                if n.startswith("manifest-")
                and not n.startswith("manifest-list-")]) == 1
    assert len([n for n in names if n.endswith(".metadata.json")]) == 1
    assert _rows(t.read(spark)) == {(i, f"b{i // 10}") for i in range(60)}


def test_fixture_table_matches_generation_rule(spark):
    """Non-circular anchor for the q_snaptable_timetravel driver row: the
    committed fixture table's content equals its documented generation
    rule (batch k = ids [10k, 10k+10), val = id*3+7), at the pinned
    snapshot, in the changelog, and through the trailing compact."""
    t = SnapTable("/root/repo/fixtures/snaptable_demo")
    rule = {(i, i * 3 + 7) for i in range(30)}
    assert {(r.id, r.val) for r in t.read(spark).collect()} == rule
    assert {(r.id, r.val)
            for r in t.read(spark, snapshot_id=2).collect()} == \
        {(i, i * 3 + 7) for i in range(20)}
    assert {(r.id, r.val)
            for r in t.incremental(spark, from_snapshot_id=1).collect()} == \
        {(i, i * 3 + 7) for i in range(10, 30)}
    assert t.snapshots()[-1]["operation"] == "replace"


def test_v1_inline_manifest_table_is_refused(spark, tmp_ckpt):
    """A table in the round-5 v1 format (snapshots inline their manifests)
    is refused with SnapTableError on every read and write, never half
    read: only ``snaptable/2`` is a SnapTable format."""
    path = os.path.join(tmp_ckpt, "t_v1")
    t = SnapTable.create(path)
    t.append(_df(spark, 0, 4, "a").coalesce(1))
    # rewrite the current version into the v1 inlined shape
    v = t.current_version()
    meta = t.metadata(v)
    snap = meta["snapshots"][-1]
    snap["manifest"] = t._load_manifest(snap)
    snap["added_files"] = t._added_paths(snap)
    del snap["manifest_list"], snap["added_manifest"]
    meta["format"] = "snaptable/1"
    with open(os.path.join(path, "metadata",
                           f"v{v}.metadata.json"), "w") as f:
        json.dump(meta, f)
    for op in (t.metadata, t.snapshots, lambda: t.read(spark),
               lambda: t.append(_df(spark, 4, 6, "b"))):
        with pytest.raises(SnapTableError, match="snaptable/1"):
            op()
    assert t.current_version() == v           # the refused append wrote no version
