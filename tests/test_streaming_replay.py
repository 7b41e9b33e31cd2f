"""Micro-batch replay vs the sequential pure-Python simulator.

At interval=1 the batch engine must reproduce the per-edge reference
semantics exactly (assignments + anomaly scores); at the snapshot cadence it
must stay self-consistent and resume from checkpoints bit-identically.
"""

import importlib.util
import json
import os
import shutil
import sys

import pytest

from sbustreamspot_core_spark.config import ANOMALY, StreamSpotParams
from sbustreamspot_core_spark.oracles.streamspot_oracle import SequentialStreamSpot
from sbustreamspot_core_spark.sources.bootstrap import read_bootstrap_clusters
from sbustreamspot_core_spark.sources.edges import read_streamspot_edges
from sbustreamspot_core_spark.streaming.replay import (
    MicroBatchReplay,
    assign_replay_seq,
)

from .conftest import (
    REFERENCE_BOOTSTRAP,
    REFERENCE_EDGES,
    load_reference_edge_tuples,
    needs_reference,
)

PARAMS_SEQ = StreamSpotParams(chunk_length=10, L=100, B=5, R=20,
                              cluster_update_interval=1, max_num_edges=5)


def _interleaved_test_stream(train_gids, edges_path=REFERENCE_EDGES):
    """Replicate assign_replay_seq's round-robin on the oracle side:
    order test edges by (per-gid offset, gid)."""
    by_gid = load_reference_edge_tuples(edges_path)
    test = {g: e for g, e in by_gid.items() if g not in train_gids}
    stream = []
    max_len = max((len(e) for e in test.values()), default=0)
    for off in range(max_len):
        for g in sorted(test):
            if off < len(test[g]):
                stream.append((g, test[g][off]))
    return stream


def _run_oracle(params, stream, edges_path=REFERENCE_EDGES,
                bootstrap_path=REFERENCE_BOOTSTRAP):
    boot = read_bootstrap_clusters(bootstrap_path)
    by_gid = load_reference_edge_tuples(edges_path)
    train = {g: by_gid[g] for g in boot.train_gids}
    sim = SequentialStreamSpot(params, boot.clusters, boot.thresholds,
                               boot.global_threshold, train)
    for gid, edge in stream:
        sim.process_edge(edge, gid)
    return sim


def _replay_inputs(spark, edges_path, bootstrap_path):
    boot = read_bootstrap_clusters(bootstrap_path)
    edges = read_streamspot_edges(spark, edges_path)
    train = edges.filter(edges.gid.isin(list(boot.train_gids)))
    test = edges.filter(~edges.gid.isin(list(boot.train_gids)))
    test_seq = assign_replay_seq(test).cache()
    return boot, train.cache(), test_seq


@pytest.fixture(scope="module")
def replay_inputs(spark):
    return _replay_inputs(spark, REFERENCE_EDGES, REFERENCE_BOOTSTRAP)


@pytest.fixture(scope="module")
def synthetic_inputs(spark, synthetic_sample):
    return _replay_inputs(spark, *synthetic_sample)


@needs_reference
def test_replay_seq_is_round_robin(spark, replay_inputs):
    boot, _, test_seq = replay_inputs
    got = [(r.gid, r.src_id, r.dst_id) for r in
           test_seq.orderBy("replay_seq").collect()]
    stream = _interleaved_test_stream(boot.train_gids)
    expect = [(g, e[0], e[2]) for g, e in stream]
    assert got == expect


@needs_reference
def test_per_edge_replay_matches_sequential_oracle(spark, replay_inputs):
    boot, train, test_seq = replay_inputs
    engine = MicroBatchReplay(spark, PARAMS_SEQ, boot, train)
    out = engine.run(test_seq, resume=False)

    stream = _interleaved_test_stream(boot.train_gids)
    sim = _run_oracle(PARAMS_SEQ, stream)

    assert out["cluster_map"] == sim.cluster_map
    for gid, score in sim.anomaly_scores.items():
        assert out["anomaly_scores"][gid] == pytest.approx(score), gid


@needs_reference
def test_batched_replay_self_consistent(spark, replay_inputs):
    """interval=4 (multi-edge batches) runs end-to-end and produces sane
    state; exact equality with interval=1 is not implied (documented batch
    semantics), but train graphs must keep their bootstrap assignment."""
    boot, train, test_seq = replay_inputs
    params = StreamSpotParams(chunk_length=10, L=100, B=5, R=20,
                              cluster_update_interval=4)
    engine = MicroBatchReplay(spark, params, boot, train)
    out = engine.run(test_seq, resume=False)
    assert out["batches"] == 2  # 7 test edges / 4
    for gid in boot.train_gids:
        assert out["cluster_map"][gid] == boot.cluster_map[gid]
    assert set(out["anomaly_scores"]) >= {0, 1, 2, 3}


@needs_reference
def test_replay_checkpoint_resume(spark, replay_inputs, tmp_ckpt):
    boot, train, test_seq = replay_inputs
    params = StreamSpotParams(chunk_length=10, L=100, B=5, R=20,
                              cluster_update_interval=2)
    full = MicroBatchReplay(spark, params, boot, train, checkpoint_dir=None)
    expect = full.run(test_seq, resume=False)

    import os
    import shutil
    e1 = MicroBatchReplay(spark, params, boot, train, checkpoint_dir=tmp_ckpt)
    e1.run(test_seq, resume=False)
    # crash simulation: drop everything after batch 0, resume
    for name in os.listdir(tmp_ckpt):
        if name.startswith("batch=") and name != "batch=0":
            shutil.rmtree(os.path.join(tmp_ckpt, name))
    e2 = MicroBatchReplay(spark, params, boot, train, checkpoint_dir=tmp_ckpt)
    got = e2.run(test_seq, resume=True)
    assert got["cluster_map"] == expect["cluster_map"]
    for gid, s in expect["anomaly_scores"].items():
        assert got["anomaly_scores"][gid] == pytest.approx(s), gid


def _assert_kill_then_resume(spark, inputs, params, ckpt):
    """Fault injection in the commit gap: the process dies AFTER batch 1's
    snapshot/state/lineage are written but BEFORE the _COMPLETE marker.
    Resume must treat batch 1 as unfinished, reprocess it, and end in the
    same state as a straight-through run."""
    boot, train, test_seq = inputs
    expect = MicroBatchReplay(spark, params, boot, train,
                              checkpoint_dir=None).run(test_seq, resume=False)

    e1 = MicroBatchReplay(spark, params, boot, train, checkpoint_dir=ckpt)
    orig = e1._save_state

    def dying_save(k, snapshot, n_edges):
        orig(k, snapshot, n_edges)
        if k == 1:
            os.remove(os.path.join(e1._batch_dir(1), "_COMPLETE"))
            raise RuntimeError("injected kill between snapshot and _COMPLETE")

    e1._save_state = dying_save
    with pytest.raises(RuntimeError, match="injected kill"):
        e1.run(test_seq, resume=False)
    # batch=1 dir exists with its snapshot but no _COMPLETE marker
    assert os.path.isdir(os.path.join(ckpt, "batch=1", "snapshot"))
    assert not os.path.exists(os.path.join(ckpt, "batch=1", "_COMPLETE"))

    e2 = MicroBatchReplay(spark, params, boot, train, checkpoint_dir=ckpt)
    assert e2.last_complete_batch() == 0
    got = e2.run(test_seq, resume=True)
    assert got["cluster_map"] == expect["cluster_map"]
    for gid, s in expect["anomaly_scores"].items():
        assert got["anomaly_scores"][gid] == pytest.approx(s), gid
    # the rewritten batch=1 is now complete
    assert os.path.exists(os.path.join(ckpt, "batch=1", "_COMPLETE"))


@needs_reference
def test_replay_kill_between_snapshot_and_complete(spark, replay_inputs,
                                                   tmp_ckpt):
    _assert_kill_then_resume(
        spark, replay_inputs,
        StreamSpotParams(chunk_length=10, L=100, B=5, R=20,
                         cluster_update_interval=2), tmp_ckpt)


# --------------------------------------------------------------------------
# Host-runnable cases on the synthetic sample (tests/conftest.py)

SYN_PARAMS_SEQ = StreamSpotParams(chunk_length=4, L=100, B=5, R=20,
                                  cluster_update_interval=1, max_num_edges=5)


def test_synthetic_per_edge_replay_matches_sequential_oracle(
        spark, synthetic_sample, synthetic_inputs):
    boot, train, test_seq = synthetic_inputs
    stream = _interleaved_test_stream(boot.train_gids, synthetic_sample[0])
    # the window both evicts from graphs this batch does not touch and from
    # the graph it appends to (the refreshed-baseline branch)
    n = SYN_PARAMS_SEQ.max_num_edges
    evictions = [(stream[k - n][0], stream[k][0]) for k in range(n, len(stream))]
    assert any(old != new for old, new in evictions)
    assert any(old == new for old, new in evictions)

    out = MicroBatchReplay(spark, SYN_PARAMS_SEQ, boot, train).run(
        test_seq, resume=False)
    sim = _run_oracle(SYN_PARAMS_SEQ, stream, *synthetic_sample)

    assert sim.cluster_map[6] == ANOMALY and sim.cluster_map[7] == 1
    assert out["cluster_map"] == sim.cluster_map
    for gid, score in sim.anomaly_scores.items():
        assert out["anomaly_scores"][gid] == pytest.approx(score), gid


def test_synthetic_replay_checkpoint_resume(spark, synthetic_inputs, tmp_ckpt):
    boot, train, test_seq = synthetic_inputs
    params = StreamSpotParams(chunk_length=4, L=100, B=5, R=20,
                              cluster_update_interval=3, max_num_edges=5)
    expect = MicroBatchReplay(spark, params, boot, train).run(
        test_seq, resume=False)

    MicroBatchReplay(spark, params, boot, train, checkpoint_dir=tmp_ckpt).run(
        test_seq, resume=False)
    for name in os.listdir(tmp_ckpt):
        if int(name.split("=", 1)[1]) > 2:
            shutil.rmtree(os.path.join(tmp_ckpt, name))
    e2 = MicroBatchReplay(spark, params, boot, train, checkpoint_dir=tmp_ckpt)
    assert e2.last_complete_batch() == 2
    got = e2.run(test_seq, resume=True)
    assert got["batches"] == 7        # 20 test edges / 3
    assert got["cluster_map"] == expect["cluster_map"]
    for gid, s in expect["anomaly_scores"].items():
        assert got["anomaly_scores"][gid] == pytest.approx(s), gid


def test_synthetic_replay_kill_between_snapshot_and_complete(
        spark, synthetic_inputs, tmp_ckpt):
    _assert_kill_then_resume(
        spark, synthetic_inputs,
        StreamSpotParams(chunk_length=4, L=100, B=5, R=20,
                         cluster_update_interval=3, max_num_edges=5),
        tmp_ckpt)


def test_run_streamspot_cli_writes_engine_state(
        spark, synthetic_sample, synthetic_inputs, tmp_path, monkeypatch,
        capsys):
    path = os.path.join(os.path.dirname(__file__), "..", "jobs",
                        "run_streamspot.py")
    spec = importlib.util.spec_from_file_location("run_streamspot", path)
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    # the test session stands in for the job's own get_spark, which would
    # re-configure the shared session for the rest of the suite
    monkeypatch.setattr(job, "get_spark", lambda *a, **k: spark)
    edges_path, bootstrap_path = synthetic_sample
    out_dir = str(tmp_path / "out")
    monkeypatch.setattr(sys, "argv", [
        "run_streamspot.py", "--edges", edges_path,
        "--bootstrap", bootstrap_path, "--chunk-length", "4",
        "--sketch-bits", "100", "--interval", "1", "--max-num-edges", "5",
        "--num-parallel-graphs", "2", "--output", out_dir])
    job.main()
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    boot, train, test_seq = synthetic_inputs
    engine = MicroBatchReplay(spark, SYN_PARAMS_SEQ, boot, train)
    engine.run(test_seq, resume=False)
    expect = engine.state_table().collect()
    got = spark.read.parquet(out_dir).orderBy("gid").collect()
    assert got == expect
    assert summary == {"batches": 20, "graphs": len(expect),
                       "anomalies": sum(r.cluster_id == ANOMALY for r in got),
                       "output": out_dir}
    assert summary["anomalies"] == 1
