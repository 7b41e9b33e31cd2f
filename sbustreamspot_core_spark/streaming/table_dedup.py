"""Exactly-once incremental dedup between SnapTables (Iceberg pattern).

One incremental near-duplicate step, :func:`table_dedup_step` (reference
parallel: the train-then-stream split of io.cpp:100-110 / main.cpp:322-431,
lifted to table scale): a scheduled job that consumes a *table* of
documents incrementally — each call processes exactly the rows appended to
the source SnapTable since the last call, joins them against the persisted
signature index and appends candidates, with the consumption cursor
(``src_from``/``src_to``) stored transactionally in the sinks' own
snapshot summaries.  This is the standard Apache-Iceberg incremental
consumption pattern (store the last-consumed source snapshot id in the
sink table's snapshot properties; recover by comparing them), built on
``sources/snaptable.py`` so it runs with no Iceberg jar.  The batch body
(bands, candidate join, index commit) is ``operators/dedup.py:
dedup_batch``, which ``incremental_dedup_batch`` runs over DataFrame
batches; this module adds the source cursor, crash recovery and the
candidates commit.

Exactly-once protocol (every arrow is one atomic SnapTable commit)::

    source ──incremental(cursor)──> new docs
                │ build bands (new docs only — the corpus is never touched)
                │ candidates = new-new self-join  ∪  new × index bucket join
                ▼
    [1] index.append(bands,      summary={src_from, src_to})
    [2] candidates.append(pairs, summary={src_from, src_to})

The cursor is ``summary["src_to"]`` of each sink's current snapshot.  A
crash between [1] and [2] leaves the index cursor ahead of the
candidates cursor; the next step detects the gap and recomputes the
missing pairs: the batch is re-read from the SOURCE range recorded in
the cursor (signatures are deterministic given the seed), the pre-batch
index is the current index minus the batch's own ids, and [2] is
re-committed.  Recovery deliberately does NOT depend on the index table's
parent chain — maintenance (``compact()``'s replace snapshot,
``vacuum()`` expiring old snapshots) may run between the crash and the
recovery and rewrite that chain; the source range + anti-join derivation
is invariant to it.  The SnapTable read pins a concrete file manifest (a
lazy plan can never observe a concurrent append), and every commit is an
atomic metadata swap, so each source row contributes to the candidate log
exactly once regardless of where a crash lands.  Concurrent runs are safe too: each
step pins its commits to the metadata versions its cursors were read
from, so of two overlapping invocations exactly one lands and the other
raises ``CommitConflict`` (retry = a fresh step that sees the winner's
cursor).  The source must retain consumed snapshots until their step
completes (don't vacuum the source below the last consumed range; a
violated retention fails loudly in time travel, never silently).

Scale notes: the incremental scan lists only the new files (no source
re-scan); the index side of the bucket join is a columnar scan of
``bands`` small rows/doc — at warehouse scale write the index bucketed by
(band_idx, band_key) so that join is co-located; hot buckets on either leg
take the star-reduction cap (``operators/dedup.py:banded_self_join_pairs``
contract).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import dedup_batch
from ..sources.snaptable import SnapTable


def _cursor(table: SnapTable, version: int | None = None):
    """(snapshot_entry, summary["src_to"]) of the table's most recent
    snapshot that CARRIES a consumption cursor; (None, None) for an empty
    table.

    Reads ONE metadata version (``version``, default current) so the
    snapshot pointer and the snapshot log can't straddle a concurrent
    commit.  Walks parent pointers past snapshots without ``src_to`` in
    their summary — maintenance commits (e.g. ``compact()``'s replace
    snapshot) interleave freely with dedup steps without resetting the
    cursor."""
    meta = table.metadata(version)
    sid = meta["current_snapshot_id"]
    snaps = {s["snapshot_id"]: s for s in meta["snapshots"]}
    while sid is not None:
        snap = snaps[sid]
        if "src_to" in snap["summary"]:
            return snap, snap["summary"]["src_to"]
        sid = snap["parent_id"]
    return None, None


def table_dedup_step(spark: SparkSession, source_path: str, index_path: str,
                     candidates_path: str, *, num_hashes: int = 64,
                     n: int = 5, bands: int = 16,
                     id_col: str = "doc_id", text_col: str = "text",
                     max_bucket_size: int | None = None) -> dict:
    """Process every source append since the last call; see module doc.

    Returns a summary dict: ``status`` is ``up_to_date`` (nothing new),
    ``recovered`` (a crashed step's candidates were re-committed — call
    again to consume any new source rows), or ``ok`` with the consumed
    snapshot range and counts.  Doc ids must be globally unique across the
    source's lifetime (the incremental-candidates contract).
    """
    source = SnapTable(source_path)
    index = SnapTable.open_or_create(index_path)
    candidates = SnapTable.open_or_create(candidates_path)

    # pin every commit below to the metadata versions the cursors were
    # READ from: two overlapping step invocations both observe the same
    # cursor, but only the first's append lands — the second raises
    # CommitConflict instead of silently double-appending the batch's
    # bands and pairs (SnapTable rebases to current_version() otherwise)
    idx_base = index.current_version()
    cand_base = candidates.current_version()
    idx_snap, idx_to = _cursor(index, idx_base)
    _, cand_to = _cursor(candidates, cand_base)
    recovering = idx_snap is not None and idx_to != cand_to
    if recovering:
        # commit [1] landed, [2] did not: rebuild the batch from the
        # SOURCE range in the index cursor, never from the index's parent
        # chain — maintenance in the crash window rewrites that chain
        src_from = idx_snap["summary"].get("src_from")
        src_to = idx_to
    else:
        src_from, src_to = idx_to, source.current_snapshot_id()
        if src_to == idx_to or src_to is None:
            return {"status": "up_to_date", "src_to": src_to}

    if src_from is None:
        new_docs = source.read(spark, snapshot_id=src_to)
    else:
        new_docs = source.incremental(spark, from_snapshot_id=src_from,
                                      to_snapshot_id=src_to)
    cursor = {"src_from": src_from, "src_to": src_to}
    prior = None
    if src_from is not None:
        prior = index.read(spark)
        if recovering:
            # the index already holds this batch's bands: the prior index
            # is the current one minus the batch's own ids
            prior = prior.join(new_docs.select(F.col(id_col).alias("id")),
                               "id", "left_anti")
    # commit [1], skipped when recovering: it already landed
    pairs, counts = dedup_batch(
        prior, new_docs, None if recovering else index, cursor, idx_base,
        num_hashes=num_hashes, n=n, bands=bands, id_col=id_col,
        text_col=text_col, max_bucket_size=max_bucket_size)
    summary = {**cursor, "pairs": counts["pairs"]}
    if recovering:
        summary["recovered"] = True
    try:
        candidates.append(pairs, summary=summary, base=cand_base)
    finally:
        pairs.unpersist()
    if recovering:
        return {"status": "recovered", **summary}
    return {"status": "ok", **summary, "band_rows": counts["band_rows"],
            "new_docs": counts["band_rows"] // bands}
