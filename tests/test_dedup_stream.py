"""Streaming incremental dedup (``SnapTableDedupStream``, the foreachBatch
driver in streaming/table_dedup.py): per-epoch candidates against the
persisted band index, exactly-once across injected crashes on either
SnapTable commit, and the same result as the scheduled driver."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryException

from sbustreamspot_core_spark.operators.dedup import (
    minhash_lsh_candidates,
    minhash_signatures,
)
from sbustreamspot_core_spark.sources.docs import generate_variant_docs
from sbustreamspot_core_spark.sources.snaptable import SnapTable
from sbustreamspot_core_spark.streaming.table_dedup import (
    SnapTableDedupStream,
    table_dedup_step,
)


@pytest.fixture()
def dirs():
    out = {n: tempfile.mkdtemp(prefix=f"ssc_ds_{n}_")
           for n in ("src", "ckpt", "sink", "index")}
    yield out
    for d in out.values():
        shutil.rmtree(d, ignore_errors=True)


def _corpus(spark):
    return generate_variant_docs(spark, n_bases=30, variants=10,
                                 tokens_per_doc=40, mutate_tokens=4,
                                 num_partitions=4).cache()


def _batch(docs, k, n_batches=3):
    return docs.filter(f"doc_id % {n_batches} = {k}").select("doc_id", "text")


def _write_batches(docs, src, n_batches=3):
    for k in range(n_batches):
        (_batch(docs, k, n_batches).coalesce(1)
         .write.parquet(f"{src}/b{k}"))


def _full_recompute(docs):
    return {(r.id_a, r.id_b) for r in minhash_lsh_candidates(
        minhash_signatures(docs, num_hashes=32), bands=8,
        max_bucket_size=None).collect()}


def _drain(q):
    try:
        q.awaitTermination()
    finally:
        q.stop()


def _tables(dirs):
    return (os.path.join(dirs["sink"], "cand"),
            os.path.join(dirs["index"], "idx"))


def _stream(spark, dirs):
    return (spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1).parquet(f'{dirs["src"]}/*'))


def _crash_on(monkeypatch, table, epoch):
    """Make the first ``table`` append of ``epoch`` raise."""
    orig_append = SnapTable.append
    state = {"fired": False}

    def dying_append(self, df, summary=None, base=None):
        if (not state["fired"] and (summary or {}).get("epoch") == epoch
                and os.path.abspath(self.path) == os.path.abspath(table)):
            state["fired"] = True
            raise RuntimeError(f"injected fault, epoch {epoch}")
        return orig_append(self, df, summary=summary, base=base)

    monkeypatch.setattr(SnapTable, "append", dying_append)


def test_streaming_dedup_equals_full_recompute(spark, dirs):
    docs = _corpus(spark)
    _write_batches(docs, dirs["src"])
    cand_t, idx_t = _tables(dirs)
    pipe = SnapTableDedupStream(spark, cand_t, idx_t, num_hashes=32, bands=8)
    _drain(pipe.start(_stream(spark, dirs), dirs["ckpt"]))
    assert len(pipe.epochs_processed) == 3
    got = [(r.id_a, r.id_b) for r in pipe.candidate_pairs().collect()]
    # batch boundaries invisible AND each pair emitted exactly once (found
    # when its later side's epoch runs)
    assert set(got) == _full_recompute(docs)
    assert len(got) == len(set(got))
    # the index holds every doc's bands
    n_docs = docs.count()
    assert SnapTable(idx_t).read(spark).count() == n_docs * 8
    docs.unpersist()


def test_streaming_dedup_crash_in_commit_gap(spark, dirs, monkeypatch):
    """Kill on the index append, before either commit of the epoch lands;
    the restarted query must replay the epoch as a fresh one and converge
    to exactly the batch oracle with no duplicate pairs or bands."""
    docs = _corpus(spark)
    _write_batches(docs, dirs["src"])
    cand_t, idx_t = _tables(dirs)
    pipe = SnapTableDedupStream(spark, cand_t, idx_t, num_hashes=32, bands=8)
    _crash_on(monkeypatch, idx_t, epoch=1)
    with pytest.raises(StreamingQueryException, match="injected fault"):
        q = pipe.start(_stream(spark, dirs), dirs["ckpt"])
        q.awaitTermination()
    # restart from the same checkpoint: epoch 1 replays fresh, 2 runs
    _drain(pipe.start(_stream(spark, dirs), dirs["ckpt"]))
    assert pipe.epochs_processed == [0, 1, 2]
    assert pipe.epochs_recovered == [] and pipe.epochs_skipped == []
    got = [(r.id_a, r.id_b) for r in pipe.candidate_pairs().collect()]
    assert set(got) == _full_recompute(docs)
    assert len(got) == len(set(got))
    n_docs = docs.count()
    assert SnapTable(idx_t).read(spark).count() == n_docs * 8
    docs.unpersist()


def test_stream_and_scheduled_step_agree(spark, dirs, tmp_ckpt):
    """The same three batches through the foreachBatch stream and through
    ``table_dedup_step`` give the same candidate set and index size."""
    docs = _corpus(spark)
    _write_batches(docs, dirs["src"])
    cand_t, idx_t = _tables(dirs)
    pipe = SnapTableDedupStream(spark, cand_t, idx_t, num_hashes=32, bands=8)
    _drain(pipe.start(_stream(spark, dirs), dirs["ckpt"]))

    src, idx, cand = (os.path.join(tmp_ckpt, t)
                      for t in ("src", "idx", "cand"))
    source = SnapTable.create(src)
    for k in range(3):
        source.append(_batch(docs, k))
        res = table_dedup_step(spark, src, idx, cand, num_hashes=32, bands=8)
        assert res["status"] == "ok"

    def pairs(df):
        return {(r.id_a, r.id_b) for r in df.collect()}

    streamed = pairs(pipe.candidate_pairs())
    assert streamed == pairs(SnapTable(cand).read(spark)) and streamed
    assert (SnapTable(idx_t).read(spark).count()
            == SnapTable(idx).read(spark).count())
    docs.unpersist()


def test_snaptable_stream_crash_recovery_and_maintenance(spark, dirs,
                                                         monkeypatch):
    """SnapTable-backed streaming dedup (SnapTableDedupStream): kill in
    the commit gap between the index append and the candidates append;
    the restarted query must RECOVER the half-committed epoch through the
    snapshot cursor (recompute only the missing pairs — no duplicate
    bands, no duplicate or lost pairs), then compact+vacuum mid-stream
    must not reset the epoch cursor for a later epoch."""
    docs = _corpus(spark)
    _write_batches(docs, dirs["src"])
    cand_t, idx_t = _tables(dirs)
    pipe = SnapTableDedupStream(spark, cand_t, idx_t, num_hashes=32, bands=8)
    _crash_on(monkeypatch, cand_t, epoch=1)
    with pytest.raises(StreamingQueryException, match="injected fault"):
        q = pipe.start(_stream(spark, dirs), dirs["ckpt"])
        q.awaitTermination()
    # the crash window: index carries epoch 1, candidates do not
    # restart: epoch 1 recovers via the cursor, epoch 2 runs fresh
    _drain(pipe.start(_stream(spark, dirs), dirs["ckpt"]))
    assert pipe.epochs_recovered == [1]
    got = [(r.id_a, r.id_b) for r in pipe.candidate_pairs().collect()]
    assert set(got) == _full_recompute(docs)
    assert len(got) == len(set(got))
    # no duplicate bands either (recovery must not re-append the batch)
    n_docs = docs.count()
    idx = SnapTable(idx_t).read(spark)
    assert idx.count() == n_docs * 8
    assert idx.groupBy("id", "band_idx").count() \
        .filter("count > 1").count() == 0

    # maintenance mid-stream: the epoch cursor survives compact+vacuum
    t = SnapTable(idx_t)
    assert t.compact(spark, min_files=2) is not None
    t.vacuum(keep_snapshots=1, orphan_grace_s=-1.0)
    # epoch 3: copies of batch-0 docs under new ids -> all its pairs
    # (new-new + new-vs-corpus) must surface post-maintenance
    extra = (docs.filter("doc_id % 3 = 0").limit(20)
             .select((F.col("doc_id") + 100_000).alias("doc_id"), "text"))
    extra.coalesce(1).write.parquet(f'{dirs["src"]}/b3')
    _drain(pipe.start(_stream(spark, dirs), dirs["ckpt"]))
    all_docs = docs.select("doc_id", "text").unionByName(extra)
    got2 = [(r.id_a, r.id_b) for r in pipe.candidate_pairs().collect()]
    assert set(got2) == _full_recompute(all_docs)
    assert len(got2) == len(set(got2))
    docs.unpersist()
