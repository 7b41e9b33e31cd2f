"""SnapTable-to-SnapTable incremental dedup: cumulative equivalence with
the full-corpus pass, up-to-date no-op, and exactly-once crash recovery
(kill on the index commit or on the candidates commit)."""

import os

import pytest

from sbustreamspot_core_spark.operators.dedup import (
    build_dedup_index,
    minhash_lsh_candidates,
    minhash_signatures,
)
from sbustreamspot_core_spark.sources.snaptable import SnapTable
from sbustreamspot_core_spark.streaming.table_dedup import table_dedup_step

PARAMS = dict(num_hashes=32, n=3, bands=8)


def _docs(spark, lo, hi, dup_of=None):
    """Docs [lo, hi); each doc i with i % 3 == 2 duplicates doc i-1's text,
    and ``dup_of`` plants cross-batch duplicates of earlier ids."""
    rows = []
    for i in range(lo, hi):
        base = i - 1 if i % 3 == 2 else i
        rows.append((i, f"the quick brown fox jumps over lazy dog {base} "
                        f"pack my box with five dozen jugs {base}"))
    for i, src in (dup_of or []):
        rows.append((i, f"the quick brown fox jumps over lazy dog {src} "
                        f"pack my box with five dozen jugs {src}"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _pairs(df):
    return {(r.id_a, r.id_b) for r in df.select("id_a", "id_b").collect()}


def _paths(tmp, tag):
    return (os.path.join(tmp, f"{tag}_src"), os.path.join(tmp, f"{tag}_idx"),
            os.path.join(tmp, f"{tag}_cand"))


def test_cumulative_equals_full_corpus(spark, tmp_ckpt):
    src, idx, cand = _paths(tmp_ckpt, "t1")
    t = SnapTable.create(src)
    batches = [_docs(spark, 0, 20),
               _docs(spark, 20, 40, dup_of=[(100, 1), (101, 21)]),
               _docs(spark, 50, 60, dup_of=[(102, 1)])]
    all_docs = batches[0]
    for b in batches[1:]:
        all_docs = all_docs.unionByName(b)

    statuses = []
    for b in batches:
        t.append(b)
        res = table_dedup_step(spark, src, idx, cand, **PARAMS)
        statuses.append(res["status"])
    assert statuses == ["ok", "ok", "ok"]

    got = _pairs(SnapTable(cand).read(spark))
    sigs = minhash_signatures(all_docs, num_hashes=PARAMS["num_hashes"],
                              n=PARAMS["n"])
    want = _pairs(minhash_lsh_candidates(sigs, bands=PARAMS["bands"]))
    assert got == want and len(want) > 0
    # the index equals the full-corpus band table
    full_bands = build_dedup_index(all_docs, **PARAMS)
    assert SnapTable(idx).read(spark).count() == full_bands.count()


def test_up_to_date_noop(spark, tmp_ckpt):
    src, idx, cand = _paths(tmp_ckpt, "t2")
    SnapTable.create(src).append(_docs(spark, 0, 10))
    assert table_dedup_step(spark, src, idx, cand, **PARAMS)["status"] == "ok"
    before = (SnapTable(idx).current_snapshot_id(),
              SnapTable(cand).current_snapshot_id())
    res = table_dedup_step(spark, src, idx, cand, **PARAMS)
    assert res["status"] == "up_to_date"
    assert before == (SnapTable(idx).current_snapshot_id(),
                      SnapTable(cand).current_snapshot_id())


def test_index_compaction_between_steps_keeps_cursor(spark, tmp_ckpt):
    """compact() on the index (a replace snapshot with no src_to summary)
    must not reset the consumption cursor: the next step consumes only the
    NEW source appends, and the cumulative candidate log still equals the
    full-corpus pass."""
    src, idx, cand = _paths(tmp_ckpt, "t4")
    t = SnapTable.create(src)
    b1 = _docs(spark, 0, 20)
    b2 = _docs(spark, 20, 40, dup_of=[(100, 1), (101, 21)])

    t.append(b1)
    assert table_dedup_step(spark, src, idx, cand, **PARAMS)["status"] == "ok"
    v = SnapTable(idx).compact(spark, min_files=1)
    assert v is not None
    assert SnapTable(idx).snapshots()[-1]["operation"] == "replace"
    # cursor survives the maintenance commit
    assert table_dedup_step(spark, src, idx, cand,
                            **PARAMS)["status"] == "up_to_date"
    # ...and survives compaction FOLLOWED BY vacuum(keep_snapshots=1):
    # compact() inherits the cursor keys into the replace snapshot, so
    # expiring every pre-compact snapshot must not trigger a full source
    # reprocess (which would double-append bands and candidate pairs)
    SnapTable(idx).vacuum(keep_snapshots=1)
    assert table_dedup_step(spark, src, idx, cand,
                            **PARAMS)["status"] == "up_to_date"

    t.append(b2)
    res = table_dedup_step(spark, src, idx, cand, **PARAMS)
    assert res["status"] == "ok"
    assert res["new_docs"] == 22                 # batch 2 only, not 42

    all_docs = b1.unionByName(b2)
    sigs = minhash_signatures(all_docs, num_hashes=PARAMS["num_hashes"],
                              n=PARAMS["n"])
    want = _pairs(minhash_lsh_candidates(sigs, bands=PARAMS["bands"]))
    got = _pairs(SnapTable(cand).read(spark))
    assert got == want and len(want) > 0
    log = SnapTable(cand).read(spark)
    assert log.count() == log.distinct().count()


@pytest.mark.parametrize("crash_on", ["index", "candidates"])
def test_crash_between_commits_recovers_exactly_once(spark, tmp_ckpt,
                                                     monkeypatch, crash_on):
    """Kill the second batch's step on commit [1] (the index append) or
    on commit [2] (the candidates append).  A crash on [1] leaves both
    cursors where they were, so the next step replays the batch as a
    fresh one; a crash on [2] leaves the index ahead, so the next step
    recovers the missing pairs only.  Either way the candidate log and
    the index end exactly-once."""
    src, idx, cand = _paths(tmp_ckpt, f"t3_{crash_on}")
    ref_src, ref_idx, ref_cand = _paths(tmp_ckpt, f"ref_{crash_on}")

    b1 = _docs(spark, 0, 20)
    b2 = _docs(spark, 20, 40, dup_of=[(100, 1), (101, 21)])
    ref = SnapTable.create(ref_src)
    ref.append(b1)
    ref.append(b2)

    # uncrashed reference: one step consumes both batches in one
    # increment; the crash run below consumes them one snapshot at a time,
    # which must yield the SAME candidate set
    table_dedup_step(spark, ref_src, ref_idx, ref_cand, **PARAMS)

    # crash run, batch 1 clean, then batch 2 appended
    t = SnapTable.create(src)
    t.append(b1)
    table_dedup_step(spark, src, idx, cand, **PARAMS)
    t.append(b2)

    # batch 2: die on the chosen commit
    dying = {"index": idx, "candidates": cand}[crash_on]
    orig_append = SnapTable.append

    def dying_append(self, df, summary=None, base=None):
        if os.path.abspath(self.path) == os.path.abspath(dying):
            raise RuntimeError(f"injected crash on the {crash_on} commit")
        return orig_append(self, df, summary=summary, base=base)

    monkeypatch.setattr(SnapTable, "append", dying_append)
    with pytest.raises(RuntimeError, match="injected crash"):
        table_dedup_step(spark, src, idx, cand, **PARAMS)
    monkeypatch.setattr(SnapTable, "append", orig_append)

    res = table_dedup_step(spark, src, idx, cand, **PARAMS)
    if crash_on == "index":
        # neither commit landed: the batch replays fresh
        assert res["status"] == "ok" and "recovered" not in res
        assert res["new_docs"] == 22
    else:
        # index is ahead of candidates -> recover, not reconsume
        assert res["status"] == "recovered" and res["recovered"]
    # and then report up to date (nothing double-processed)
    assert table_dedup_step(spark, src, idx, cand, **PARAMS)["status"] == \
        "up_to_date"

    got = _pairs(SnapTable(cand).read(spark))
    want = _pairs(SnapTable(ref_cand).read(spark))
    assert got == want and len(want) > 0
    # exactly-once: no duplicate pair rows in the candidate log
    log = SnapTable(cand).read(spark)
    assert log.count() == log.distinct().count()
    # ...and no duplicate bands in the index
    bands = SnapTable(idx).read(spark)
    assert bands.count() == (20 + 22) * PARAMS["bands"]
    assert bands.groupBy("id", "band_idx").count() \
        .filter("count > 1").count() == 0


@pytest.mark.parametrize("maintenance", ["compact", "compact_vacuum"])
def test_crash_then_maintenance_then_recovery(spark, tmp_ckpt, monkeypatch,
                                              maintenance):
    """Maintenance interleaving with the crash window must not corrupt
    recovery: compact() between a crashed commit [1] and the recovering
    step makes the cursor-bearing index snapshot a REPLACE (whole-corpus
    manifest), and vacuum(keep_snapshots=1) additionally nulls the parent
    chain.  A chain-based recovery would commit ZERO pairs (increment
    past the replace is empty) or EVERY historical pair (parentless
    snapshot treated as a first batch); the source-range recovery must
    commit exactly the crashed batch's pairs."""
    src, idx, cand = _paths(tmp_ckpt, f"tm_{maintenance}")
    ref_src, ref_idx, ref_cand = _paths(tmp_ckpt, f"tmref_{maintenance}")

    b1 = _docs(spark, 0, 20)
    b2 = _docs(spark, 20, 40, dup_of=[(100, 1), (101, 21)])
    ref = SnapTable.create(ref_src)
    ref.append(b1)
    ref.append(b2)

    table_dedup_step(spark, ref_src, ref_idx, ref_cand, **PARAMS)

    t = SnapTable.create(src)
    t.append(b1)
    table_dedup_step(spark, src, idx, cand, **PARAMS)
    t.append(b2)

    orig_append = SnapTable.append

    def dying_append(self, df, summary=None, base=None):
        if os.path.abspath(self.path) == os.path.abspath(cand):
            raise RuntimeError("injected crash before candidates commit")
        return orig_append(self, df, summary=summary, base=base)

    monkeypatch.setattr(SnapTable, "append", dying_append)
    with pytest.raises(RuntimeError, match="injected crash"):
        table_dedup_step(spark, src, idx, cand, **PARAMS)
    monkeypatch.setattr(SnapTable, "append", orig_append)

    # external maintenance runs before the recovering step
    assert SnapTable(idx).compact(spark, min_files=1) is not None
    if maintenance == "compact_vacuum":
        SnapTable(idx).vacuum(keep_snapshots=1)

    res = table_dedup_step(spark, src, idx, cand, **PARAMS)
    assert res["status"] == "recovered"
    assert res["pairs"] > 0                    # not the empty-frame failure
    assert table_dedup_step(spark, src, idx, cand, **PARAMS)["status"] == \
        "up_to_date"

    got = _pairs(SnapTable(cand).read(spark))
    want = _pairs(SnapTable(ref_cand).read(spark))
    assert got == want and len(want) > 0      # not the re-emit-all failure
    log = SnapTable(cand).read(spark)
    assert log.count() == log.distinct().count()


def test_concurrent_steps_one_wins_one_conflicts(spark, tmp_ckpt,
                                                 monkeypatch):
    """Two OVERLAPPING step invocations that both read the same cursor:
    exactly one lands; the other must raise CommitConflict instead of
    silently double-appending the batch's bands and pairs (appends are
    pinned to the metadata version the cursor was read from — an unpinned
    append would rebase to current_version() and commit cleanly)."""
    from sbustreamspot_core_spark.sources.snaptable import CommitConflict

    src, idx, cand = _paths(tmp_ckpt, "t_race")
    t = SnapTable.create(src)
    t.append(_docs(spark, 0, 15))
    assert table_dedup_step(spark, src, idx, cand, **PARAMS)["status"] == "ok"
    t.append(_docs(spark, 15, 30, dup_of=[(200, 1)]))

    orig_append = SnapTable.append
    state = {"inner_done": False}

    def racing_append(self, df, summary=None, base=None):
        # runner A is about to commit its index append; runner B sneaks in
        # and completes the WHOLE step first (same cursor, same batch)
        if (not state["inner_done"]
                and os.path.abspath(self.path) == os.path.abspath(idx)):
            state["inner_done"] = True
            monkeypatch.setattr(SnapTable, "append", orig_append)
            inner = table_dedup_step(spark, src, idx, cand, **PARAMS)
            assert inner["status"] == "ok"
            monkeypatch.setattr(SnapTable, "append", racing_append)
        return orig_append(self, df, summary=summary, base=base)

    monkeypatch.setattr(SnapTable, "append", racing_append)
    with pytest.raises(CommitConflict):
        table_dedup_step(spark, src, idx, cand, **PARAMS)
    monkeypatch.setattr(SnapTable, "append", orig_append)

    # the winner's commits are intact and exactly-once: bands appear once
    # per doc per band, and a fresh step sees a clean, current cursor
    n_docs = 15 + 15 + 1           # two batches + one planted dup
    bands = SnapTable(idx).read(spark)
    assert bands.count() == n_docs * PARAMS["bands"]
    assert bands.groupBy("id", "band_idx").count() \
        .filter("count > 1").count() == 0
    assert table_dedup_step(spark, src, idx, cand,
                            **PARAMS)["status"] == "up_to_date"
