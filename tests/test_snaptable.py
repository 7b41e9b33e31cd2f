"""SnapTable: snapshot log, atomic commit, time travel, incremental scan,
file pruning, conflict detection, crash orphans, vacuum, rollback."""

import json
import os

import pytest

from sbustreamspot_core_spark.sources.iceberg import read_table, write_table
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
    assert sum(f["rows"] for f in t._load_manifest(snaps[1])) == 8
    # the parent's manifest files are SHARED by path, not re-serialized
    assert set(t._manifest_paths(snaps[0])) < set(t._manifest_paths(snaps[1]))


def test_overwrite_and_rollback(spark, tmp_ckpt):
    path = os.path.join(tmp_ckpt, "t2")
    t = SnapTable.create(path)
    t.append(_df(spark, 0, 4, "old"))
    t.overwrite(_df(spark, 100, 103, "new"))
    assert _rows(t.read(spark)) == {(i, "new") for i in range(100, 103)}
    assert _rows(t.read(spark, snapshot_id=1)) == \
        {(i, "old") for i in range(4)}       # time travel across overwrite
    t.rollback_to(1)
    assert _rows(t.read(spark)) == {(i, "old") for i in range(4)}
    # appends after rollback build on the rolled-back state
    t.append(_df(spark, 4, 6, "post"))
    assert _rows(t.read(spark)) == {(i, "old") for i in range(4)} \
        | {(i, "post") for i in range(4, 6)}


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
    t.overwrite(_df(spark, 0, 2, "ow"))
    with pytest.raises(SnapTableError):      # range crosses an overwrite
        t.incremental(spark, from_snapshot_id=1)
    with pytest.raises(SnapTableError):      # not an ancestor
        t.incremental(spark, from_snapshot_id=2, to_snapshot_id=1)


def test_file_pruning_on_footer_stats(spark, tmp_ckpt):
    path = os.path.join(tmp_ckpt, "t4")
    t = SnapTable.create(path)
    for lo in (0, 1000, 2000, 3000):         # disjoint id ranges per commit
        t.append(_df(spark, lo, lo + 100, f"b{lo}").coalesce(1))
    manifest = t._manifest()
    assert len(manifest) == 4
    pruned = SnapTable._prune(manifest, ("id", ">=", 2500))
    assert len(pruned) == 1                  # only the 3000-range file
    # pruning is an optimization, not a semantic: results still exact
    assert _rows(t.read(spark, where=("id", ">=", 2500))) == \
        {(i, "b3000") for i in range(3000, 3100)}
    assert t.read(spark, where=("id", "<", 50)).count() == 50
    eq = SnapTable._prune(manifest, ("id", "=", 1050))
    assert len(eq) == 1


def test_schema_mismatch_and_conflict(spark, tmp_ckpt):
    path = os.path.join(tmp_ckpt, "t5")
    t = SnapTable.create(path)
    t.append(_df(spark, 0, 3, "a"))
    with pytest.raises(SnapTableError, match="schema mismatch"):
        t.append(spark.range(3).selectExpr("id", "id AS other"))
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
    deleted = t.vacuum(orphan_grace_s=0.0)
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
    meta_w["snapshots"].append({"snapshot_id": 99, "parent_id": None,
                                "operation": "append", "ts": 0.0,
                                "added_files": [], "manifest": [],
                                "summary": {"who": "winner"}})
    meta_l = t.metadata(base)
    meta_l["snapshots"].append({"snapshot_id": 77, "parent_id": None,
                                "operation": "append", "ts": 0.0,
                                "added_files": [], "manifest": [],
                                "summary": {"who": "loser"}})
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
    v = t.compact(spark, target_file_mb=512, min_files=2)
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
    t.overwrite(_df(spark, 10, 13, "b"))
    deleted = t.vacuum(keep_snapshots=1)
    assert deleted                           # snapshot 1's files are gone
    assert _rows(t.read(spark)) == {(i, "b") for i in range(10, 13)}
    with pytest.raises(SnapTableError):
        t.read(spark, snapshot_id=1)


def test_iceberg_source_routes_to_snaptable(spark, tmp_ckpt):
    path = os.path.join(tmp_ckpt, "t8")
    SnapTable.create(path)
    write_table(_df(spark, 0, 4, "x"), path, mode="append")
    write_table(_df(spark, 4, 6, "y"), path, mode="append")
    assert _rows(read_table(spark, path)) == {(i, "x") for i in range(4)} \
        | {(i, "y") for i in range(4, 6)}
    assert _rows(read_table(spark, path, snapshot_id=1)) == \
        {(i, "x") for i in range(4)}
    # plain parquet dirs keep the old fallback behavior
    plain = os.path.join(tmp_ckpt, "plain")
    write_table(_df(spark, 0, 2, "p"), plain, mode="overwrite")
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
        while True:
            base = t.current_version()
            meta = t.metadata(base)
            sid = worker * 1_000_000 + i
            meta["snapshots"].append(
                {"snapshot_id": sid,
                 "parent_id": meta["current_snapshot_id"],
                 "operation": "append", "ts": 0.0, "added_files": [],
                 "manifest": [], "summary": {"worker": worker, "i": i}})
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
        json.dump({"format": "snaptable/1", "table_uuid": "dead",
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


def test_where_filter_handles_awkward_literals(spark, tmp_ckpt):
    """The row-level ``where`` filter is built from Column expressions, not
    interpolated SQL: string values with quotes/backslashes and non-SQL
    literals (inf) must filter correctly, and an incomparable predicate
    must fail loudly in pruning instead of raising a bare TypeError."""
    path = os.path.join(tmp_ckpt, "t_where")
    t = SnapTable.create(path)
    tricky = 'it\'s "fine" \\ok'
    t.append(spark.createDataFrame([(1, tricky), (2, "plain")],
                                   "id long, s string"))
    assert t.read(spark, where=("s", "=", tricky)).count() == 1
    assert t.read(spark, where=("id", "<", float("inf"))).count() == 2
    with pytest.raises(SnapTableError, match="not comparable"):
        t.read(spark, where=("id", ">=", "zebra"))
    with pytest.raises(SnapTableError, match="unsupported"):
        SnapTable._prune(t._manifest(), ("id", "!=", 1))


def test_flat_commit_metadata_and_vacuum_cleans_manifests(spark, tmp_ckpt):
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

    # overwrite orphans every earlier manifest; vacuum must delete them
    # (and old metadata versions) while keeping reads exact
    t.overwrite(_df(spark, 0, 3, "ow"))
    deleted = t.vacuum(keep_snapshots=1, orphan_grace_s=-1.0,
                       keep_metadata_versions=1)
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
    assert _rows(t.read(spark)) == {(i, "ow") for i in range(3)}


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


def test_v1_inline_manifest_table_upgrades_in_place(spark, tmp_ckpt):
    """A table whose snapshots inline their manifests (the round-5 v1
    format) must keep reading, and the first v2 append must materialize
    the parent's inlined entries into a shared manifest file and carry
    them by path — old rows intact, changelog correct."""
    path = os.path.join(tmp_ckpt, "t_v1")
    t = SnapTable.create(path)
    t.append(_df(spark, 0, 4, "a").coalesce(1))
    # rewrite the snapshot entry into the v1 inlined shape
    v = t.current_version()
    meta = t.metadata(v)
    snap = meta["snapshots"][-1]
    manifest = t._load_manifest(snap)
    added = t._added_paths(snap)
    snap.pop("manifest_list")
    snap.pop("added_manifest")
    snap["manifest"] = manifest
    snap["added_files"] = added
    with open(os.path.join(path, "metadata",
                           f"v{v}.metadata.json"), "w") as f:
        json.dump(meta, f)
    # v1 state reads fine
    assert _rows(t.read(spark)) == {(i, "a") for i in range(4)}
    # first v2 append on top: carried entries come from the materialized
    # legacy manifest, not a re-serialization into the log
    t.append(_df(spark, 4, 6, "b").coalesce(1))
    assert _rows(t.read(spark)) == {(i, "a") for i in range(4)} \
        | {(i, "b") for i in range(4, 6)}
    new_snap = t.snapshots()[-1]
    assert "manifest" not in new_snap
    assert len(t._manifest_paths(new_snap)) == 2   # legacy + new batch
    inc = t.incremental(spark, from_snapshot_id=1)
    assert _rows(inc) == {(4, "b"), (5, "b")}


def test_partitioned_append_prunes_exactly(spark, tmp_ckpt):
    """append(partition_by=[...]): one file set per partition value, the
    partition column preserved in the data files (schema-stable reads),
    footer stats tight (min == max) so where= pruning keeps exactly the
    matching partition's files, and manifest entries record the values."""
    path = os.path.join(tmp_ckpt, "t_part")
    t = SnapTable.create(path)
    df = spark.createDataFrame(
        [(i, ["en", "de", "fr"][i % 3], i * 1.0) for i in range(30)],
        "id long, lang string, score double")
    t.append(df, partition_by=["lang"])
    # schema intact, content intact
    got = t.read(spark)
    assert set(got.columns) == {"id", "lang", "score"}
    assert got.count() == 30
    manifest = t._manifest()
    assert {f["partition"]["lang"] for f in manifest} == {"en", "de", "fr"}
    # every file's lang stats are tight -> equality prune is exact
    pruned = SnapTable._prune(manifest, ("lang", "=", "de"))
    assert pruned and all(f["partition"]["lang"] == "de" for f in pruned)
    assert len(pruned) < len(manifest)
    sub = t.read(spark, where=("lang", "=", "de"))
    assert {r.id for r in sub.collect()} == {i for i in range(30)
                                             if i % 3 == 1}
    # a second partitioned append coexists; changelog sees only it
    t.append(df.filter("id < 3").selectExpr("id + 100 AS id", "lang",
                                            "score"),
             partition_by=["lang"])
    inc = t.incremental(spark, from_snapshot_id=1)
    assert {r.id for r in inc.collect()} == {100, 101, 102}
    assert t.read(spark).count() == 33


def test_additive_schema_evolution(spark, tmp_ckpt):
    """An append may ADD columns (Iceberg add-column): the table schema
    widens with the commit, pre-evolution files read the new columns as
    null, changelog scans work across the evolution, and type changes or
    dropped columns still refuse loudly."""
    path = os.path.join(tmp_ckpt, "t_evolve")
    t = SnapTable.create(path)
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string"))
    t.append(spark.createDataFrame([(3, "c", 9.5)],
                                   "id long, s string, score double"))
    got = {(r.id, r.s, r.score) for r in t.read(spark).collect()}
    assert got == {(1, "a", None), (2, "b", None), (3, "c", 9.5)}
    assert [f["name"] for f in t.metadata()["schema"]["fields"]] == \
        ["id", "s", "score"]
    # time travel reads under the CURRENT schema (Iceberg semantics)
    old = t.read(spark, snapshot_id=1)
    assert set(old.columns) == {"id", "s", "score"}
    assert {r.score for r in old.collect()} == {None}
    # changelog across the evolution
    inc = t.incremental(spark, from_snapshot_id=1)
    assert [(r.id, r.score) for r in inc.collect()] == [(3, 9.5)]
    # widened schema is now the write contract: old-shape writes refuse
    with pytest.raises(SnapTableError, match="missing table columns"):
        t.append(spark.createDataFrame([(4, "d")], "id long, s string"))
    with pytest.raises(SnapTableError, match="change type"):
        t.append(spark.createDataFrame([(5, "e", 1)],
                                       "id long, s string, score long"))
    # pruning still works on the evolved column (nulls never prune away
    # pre-evolution files for other predicates)
    assert {r.id for r in t.read(spark,
                                 where=("score", ">=", 1.0)).collect()} \
        == {3}


def test_compact_after_schema_evolution(spark, tmp_ckpt):
    """compact() must scan under the CURRENT table schema: with an
    inference read, a schema-evolved table's pre-evolution files would
    drive the inferred schema and the replace commit would refuse as a
    column drop — compaction permanently broken for the table."""
    path = os.path.join(tmp_ckpt, "t_evolve_compact")
    t = SnapTable.create(path)
    t.append(spark.createDataFrame([(1, "a"), (2, "b")],
                                   "id long, s string").repartition(2))
    t.append(spark.createDataFrame([(3, "c", 9.5)],
                                   "id long, s string, score double"))
    v = t.compact(spark, min_files=2)
    assert v is not None
    got = {(r.id, r.s, r.score) for r in t.read(spark).collect()}
    assert got == {(1, "a", None), (2, "b", None), (3, "c", 9.5)}
    # evolution still appendable post-compaction
    t.append(spark.createDataFrame([(4, "d", 1.5)],
                                   "id long, s string, score double"))
    assert t.read(spark).count() == 4


def test_partition_collision_and_null_values(spark, tmp_ckpt):
    """partition_by refuses when a _p_<col> column already exists (the
    rename would silently clobber and drop it), and null partition
    values are recorded as real nulls, not the Hive sentinel string."""
    path = os.path.join(tmp_ckpt, "t_part_edges")
    t = SnapTable.create(path)
    clash = spark.createDataFrame([(1, "en", "x")],
                                  "id long, lang string, _p_lang string")
    with pytest.raises(SnapTableError, match="collide"):
        t.append(clash, partition_by=["lang"])
    df = spark.createDataFrame([(1, "en"), (2, None), (3, "de")],
                               "id long, lang string")
    t.append(df, partition_by=["lang"])
    vals = {f["partition"]["lang"] for f in t._manifest()}
    assert vals == {"en", "de", None}
    got = {(r.id, r.lang) for r in t.read(spark).collect()}
    assert got == {(1, "en"), (2, None), (3, "de")}


def test_evolved_column_is_nullable_in_schema(spark, tmp_ckpt):
    """Added columns are stored nullable even when the writer reports
    non-null (pre-evolution files fill them with null; a non-null flag
    would license wrong-result planner folds)."""
    path = os.path.join(tmp_ckpt, "t_evolve_null")
    t = SnapTable.create(path)
    t.append(spark.createDataFrame([(1,)], "id long"))
    nn = spark.range(5, 6).selectExpr("id", "id * 2 AS extra")  # non-null
    assert not nn.schema["extra"].nullable
    t.append(nn)
    field = [f for f in t.metadata()["schema"]["fields"]
             if f["name"] == "extra"][0]
    assert field["nullable"] is True
    assert {r.extra for r in t.read(spark).collect()} == {None, 10}
