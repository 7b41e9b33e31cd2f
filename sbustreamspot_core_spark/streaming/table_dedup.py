"""Exactly-once incremental dedup between SnapTables (Iceberg pattern).

One incremental near-duplicate step, :func:`_commit_batch`, with two
drivers (reference parallel: the train-then-stream split of
io.cpp:100-110 / main.cpp:322-431, lifted to table scale):

- :func:`table_dedup_step` — a scheduled job that consumes a *table* of
  documents incrementally: each call processes exactly the rows appended
  to the source SnapTable since the last call;
- :class:`SnapTableDedupStream` — a Structured Streaming ``foreachBatch``
  shell: each micro-batch is one step, keyed by its epoch id.

Both join the new batch against the persisted signature index and append
candidates, with the consumption cursor stored transactionally in the
sinks' own snapshot summaries (``src_from``/``src_to`` for the table
driver, ``epoch`` for the stream).  This is the standard Apache-Iceberg
incremental consumption pattern (store the last-consumed source snapshot
id in the sink table's snapshot properties; recover by comparing them),
built on ``sources/snaptable.py`` so it runs with no Iceberg jar.  The
one-shot full-corpus pass and the parquet-index batch step live in
``operators/dedup.py``.

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
re-committed.  The stream recovers the same way, except that Structured
Streaming redelivers the batch of an epoch that never reached its
checkpoint, and an epoch both sinks already carry is skipped.  Recovery
deliberately does NOT depend on the index table's parent chain —
maintenance (``compact()``'s replace snapshot, ``vacuum()`` expiring old
snapshots) may run between the crash and the recovery and rewrite that
chain; the source range + anti-join derivation is invariant to it.  The
SnapTable read pins a concrete file manifest (a lazy plan can never
observe a concurrent append), and every commit is an atomic metadata
swap, so each source row contributes to the candidate log exactly once
regardless of where a crash lands.  Concurrent runs are safe too: each
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

from pyspark.sql import DataFrame, SparkSession

from ..operators.dedup import build_dedup_index, incremental_lsh_candidates
from ..sources.snaptable import SnapTable, is_snaptable


def _open_or_create(path: str) -> SnapTable:
    return SnapTable(path) if is_snaptable(path) else SnapTable.create(path)


def _cursor(table: SnapTable, version: int | None = None,
            key: str = "src_to"):
    """(snapshot_entry, summary[key]) of the table's most recent snapshot
    that CARRIES a consumption cursor (a ``key`` entry in its summary);
    (None, None) for an empty table.  ``key`` is the cursor field:
    ``src_to`` for :func:`table_dedup_step`, ``epoch`` for
    :class:`SnapTableDedupStream`.

    Reads ONE metadata version (``version``, default current) so the
    snapshot pointer and the snapshot log can't straddle a concurrent
    commit.  Walks parent pointers past snapshots without the key in
    their summary — maintenance commits (e.g. ``compact()``'s replace
    snapshot) interleave freely with dedup steps without resetting the
    cursor."""
    meta = table.metadata(version)
    sid = meta["current_snapshot_id"]
    snaps = {s["snapshot_id"]: s for s in meta["snapshots"]}
    while sid is not None:
        snap = snaps[sid]
        if key in snap["summary"]:
            return snap, snap["summary"][key]
        sid = snap["parent_id"]
    return None, None


def _commit_batch(spark: SparkSession, docs: DataFrame, index: SnapTable,
                  candidates: SnapTable, cursor: dict, *, idx_base: int,
                  cand_base: int, has_prior: bool, recovering: bool,
                  max_bucket_size: int | None, **index_params) -> dict:
    """The one incremental dedup step: candidates of ``docs`` against the
    prior index, then commit [1] (skipped when ``recovering``) and [2],
    each pinned to the metadata version its cursor was read from.

    ``has_prior`` is False when no earlier batch was consumed (empty
    index).  When ``recovering``, the index already holds this batch's
    bands, so the prior index is the current one minus the batch's own ids.
    ``cursor`` goes into both commits' summaries; the return value is the
    candidates summary (plus ``band_rows`` when the index was appended)."""
    new_bands = build_dedup_index(docs, **index_params).cache()
    pairs = None
    try:
        prior = index.read(spark) if has_prior else None
        if has_prior and recovering:
            prior = prior.join(new_bands.select("id").distinct(), "id",
                               "left_anti")
        pairs = incremental_lsh_candidates(
            prior, new_bands, max_bucket_size=max_bucket_size).cache()
        summary = {**cursor, "pairs": pairs.count()}  # materialize before [1]
        if recovering:
            summary["recovered"] = True
            out = summary
        else:
            out = {**summary, "band_rows": new_bands.count()}
            index.append(new_bands,
                         summary={**cursor, "band_rows": out["band_rows"]},
                         base=idx_base)
        candidates.append(pairs, summary=summary, base=cand_base)
    finally:
        # expected exits include CommitConflict from an overlapping run —
        # the caches must not outlive the step either way
        new_bands.unpersist()
        if pairs is not None:
            pairs.unpersist()
    return out


def table_dedup_step(spark: SparkSession, source_path: str, index_path: str,
                     candidates_path: str, *, num_hashes: int = 64,
                     n: int = 5, bands: int = 16, seed: int = 23,
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
    index = _open_or_create(index_path)
    candidates = _open_or_create(candidates_path)

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
    res = _commit_batch(
        spark, new_docs, index, candidates,
        {"src_from": src_from, "src_to": src_to},
        idx_base=idx_base, cand_base=cand_base,
        has_prior=src_from is not None, recovering=recovering,
        max_bucket_size=max_bucket_size, num_hashes=num_hashes, n=n,
        bands=bands, seed=seed, id_col=id_col, text_col=text_col)
    if recovering:
        return {"status": "recovered", **res}
    return {"status": "ok", **res, "new_docs": res["band_rows"] // bands}


class SnapTableDedupStream:
    """foreachBatch driver of the same step: docs stream (doc_id, text)
    -> candidate pairs in the ``out_table`` SnapTable and a growing band
    index in ``index_table``, with the epoch id as the cursor.

    Structured Streaming REDELIVERS a batch whose epoch never reached the
    streaming checkpoint; the epoch cursors make that idempotent.  A fully
    committed epoch (both sinks carry it) is skipped; a half-committed one
    (index landed, candidates did not) recommits only the missing pairs.
    The sinks are queryable tables, so time travel, ``compact()`` (which
    inherits the epoch cursor) and ``vacuum()`` all work mid-stream."""

    def __init__(self, spark: SparkSession, out_table: str, index_table: str,
                 num_hashes: int = 64, n: int = 5, bands: int = 16,
                 max_bucket_size: int | None = None):
        self.spark = spark
        self.out_table = out_table
        self.index_table = index_table
        self.num_hashes = num_hashes
        self.n = n
        self.bands = bands
        self.max_bucket_size = max_bucket_size
        self.epochs_processed: list[int] = []
        self.epochs_skipped: list[int] = []
        self.epochs_recovered: list[int] = []

    def _process(self, batch_df: DataFrame, epoch_id: int) -> None:
        index = _open_or_create(self.index_table)
        cands = _open_or_create(self.out_table)
        idx_base = index.current_version()
        cand_base = cands.current_version()
        _, idx_epoch = _cursor(index, idx_base, key="epoch")
        _, cand_epoch = _cursor(cands, cand_base, key="epoch")
        if (idx_epoch is not None and idx_epoch >= epoch_id
                and cand_epoch is not None and cand_epoch >= epoch_id):
            # crash landed after both commits but before the streaming
            # checkpoint: the whole epoch is already in the tables
            self.epochs_skipped.append(epoch_id)
            return
        recovering = idx_epoch is not None and idx_epoch >= epoch_id
        _commit_batch(
            self.spark, batch_df.select("doc_id", "text"), index, cands,
            {"epoch": epoch_id}, idx_base=idx_base, cand_base=cand_base,
            has_prior=idx_epoch is not None, recovering=recovering,
            max_bucket_size=self.max_bucket_size,
            num_hashes=self.num_hashes, n=self.n, bands=self.bands)
        (self.epochs_recovered if recovering
         else self.epochs_processed).append(epoch_id)

    def start(self, docs_stream: DataFrame, checkpoint_dir: str):
        """docs_stream: streaming (doc_id long, text string) rows."""
        return (docs_stream.writeStream.foreachBatch(self._process)
                .option("checkpointLocation", checkpoint_dir)
                .trigger(availableNow=True)
                .start())

    def candidate_pairs(self) -> DataFrame:
        return _open_or_create(self.out_table).read(self.spark)
