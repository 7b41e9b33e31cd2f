"""The four benchmark workloads.

Each workload is a closed loop with one client: ``run`` calls the engine's
public entry points one after another, each starting when the previous one
has committed, and returns a ``Rep`` holding its wall time, its per-job or
per-batch times and its outputs.  ``check`` compares a rep's outputs with
the oracle computed once per seed by ``oracle``.  ``run_traced`` repeats
the chain with a ``Tracer`` span around every call into a layer (caching
and counting lazy outputs at each boundary) and returns per-layer metrics.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import statistics
import time
from collections import Counter
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from sbustreamspot_core_spark.config import ANOMALY, GraphParams, StreamSpotParams
from sbustreamspot_core_spark.functions.sketches import sketch_bytes_to_bits
from sbustreamspot_core_spark.functions.text import extract_text_bytes
from sbustreamspot_core_spark.graph.components import connected_components
from sbustreamspot_core_spark.graph.labelprop import label_propagation
from sbustreamspot_core_spark.graph.pagerank import pagerank
from sbustreamspot_core_spark.graph.triangles import triangle_count
from sbustreamspot_core_spark.operators.dedup import (
    banded_self_join_pairs,
    build_dedup_index,
    exact_jaccard_for_pairs,
    incremental_dedup_batch,
    incremental_lsh_candidates,
)
from sbustreamspot_core_spark.operators.lsh import (
    candidate_pairs,
    isolated_vs_others,
    lsh_clusters,
)
from sbustreamspot_core_spark.operators.shingles import (
    build_adjacency,
    build_chunk_counts,
    build_shingles,
)
from sbustreamspot_core_spark.operators.similarity import all_pairs_sketch_similarity
from sbustreamspot_core_spark.operators.sketch import build_sketches, sketch_bands
from sbustreamspot_core_spark.oracles import graph_oracle
from sbustreamspot_core_spark.oracles import streamspot_oracle as sso
from sbustreamspot_core_spark.pipeline import (
    extract_link_edges,
    host_anomaly_pipeline,
    host_subgraph_edges,
    with_extracted_text,
)
from sbustreamspot_core_spark.sources.bootstrap import BootstrapClusters
from sbustreamspot_core_spark.streaming.replay import (
    MicroBatchReplay,
    assign_replay_seq,
)

from generators import (
    FAMILIES,
    char_jaccard,
    docs_input,
    graph_input,
    pages_input,
    stream_input,
)
from tracing import NullTracer, SpanStats

# per-layer metrics a traced run reports: name -> unit.  A layer a workload
# does not run reports 0.
LAYER_METRICS = {
    "session.get_spark.wall_s": "s",
    "graph.pagerank.wall_s": "s",
    "graph.pagerank.init_s": "s",
    "graph.pagerank.superstep_s": "s",
    "graph.pagerank.supersteps": "count",
    "graph.pagerank.edges_per_s": "1/s",
    "graph.pagerank.shuffle_write_bytes": "bytes",
    "graph.pagerank.task_skew": "ratio",
    "graph.superstep.ckpt_s": "s",
    "graph.superstep.ckpt_bytes": "bytes",
    "graph.superstep.resume_s": "s",
    "graph.superstep.resume_read_bytes": "bytes",
    "graph.components.wall_s": "s",
    "graph.components.supersteps": "count",
    "graph.components.superstep_s": "s",
    "graph.components.shuffle_write_bytes": "bytes",
    "graph.components.task_skew": "ratio",
    "graph.labelprop.wall_s": "s",
    "graph.labelprop.supersteps": "count",
    "graph.labelprop.superstep_s": "s",
    "graph.labelprop.shuffle_write_bytes": "bytes",
    "graph.triangles.wall_s": "s",
    "graph.triangles.shuffle_write_bytes": "bytes",
    "graph.triangles.spill_bytes": "bytes",
    "graph.triangles.task_skew": "ratio",
    "graph.triangles.peak_exec_mem_bytes": "bytes",
    "functions.text.extract_text.wall_s": "s",
    "functions.text.extract_text.python_s": "s",
    "functions.text.extract_hrefs.python_s": "s",
    "functions.text.python_bytes_sent": "bytes",
    "pipeline.extract_link_edges.rows_out": "count",
    "pipeline.host_subgraph_edges.wall_s": "s",
    "pipeline.host_subgraph_edges.shuffle_write_bytes": "bytes",
    "operators.shingles.wall_s": "s",
    "operators.shingles.rows_out": "count",
    "operators.shingles.shuffle_write_bytes": "bytes",
    "operators.shingles.spill_bytes": "bytes",
    "operators.sketch.build_sketches.wall_s": "s",
    "operators.sketch.build_sketches.python_s": "s",
    "operators.sketch.sketch_bands.wall_s": "s",
    "operators.lsh.lsh_clusters.wall_s": "s",
    "operators.lsh.candidate_pairs": "count",
    "operators.lsh.max_bucket_size": "count",
    "operators.lsh.clusters": "count",
    "operators.lsh.isolated_vs_others.wall_s": "s",
    "operators.similarity.wall_s": "s",
    "operators.similarity.pairs": "count",
    "operators.dedup.minhash_signatures.wall_s": "s",
    "operators.dedup.minhash_signatures.python_s": "s",
    "operators.dedup.minhash_signatures.python_bytes_sent": "bytes",
    "operators.dedup.candidates.wall_s": "s",
    "operators.dedup.candidates": "count",
    "operators.dedup.useful_ratio": "ratio",
    "operators.dedup.index_read_bytes.first": "bytes",
    "operators.dedup.index_read_bytes.last": "bytes",
    "operators.dedup.index_write_s": "s",
    "operators.dedup.exact_jaccard.wall_s": "s",
    "operators.dedup.exact_jaccard.python_s": "s",
    "streaming.replay.bootstrap_s": "s",
    "streaming.replay.spark_s": "s",
    "streaming.replay.driver_s": "s",
    "streaming.replay.jobs_per_batch": "count",
    "streaming.replay.touched_graphs": "count",
    "streaming.replay.ckpt_s": "s",
    # the traced chain's wall and CPU time; compare with an untraced run
    # of the same workload and seed for the tracing overhead
    "trace.run_s": "s",
    "trace.cpu_s": "s",
}


@dataclass
class Rep:
    run_s: float
    batches: list[float]              # per job / per batch seconds
    outputs: dict = field(default_factory=dict)
    cpu_s: float = 0.0                # CPU seconds, set by the caller


@dataclass
class Check:
    failed: int                       # jobs/batches whose check failed
    problems: list[str]
    precision: float
    recall: float


def _timed(fn):
    t = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t


def _fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def _pr(flagged: set, truth: set) -> tuple[float, float]:
    hit = len(flagged & truth)
    return (hit / len(flagged) if flagged else 0.0,
            hit / len(truth) if truth else 1.0)


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


class Workload:
    name = ""

    def __init__(self, seed: int, nproc: int, work: str):
        self.seed, self.nproc, self.work = seed, nproc, work

    def generate(self):
        raise NotImplementedError

    def materialize(self, spark, inp) -> dict:
        raise NotImplementedError

    def oracle(self, spark, inp) -> dict:
        raise NotImplementedError

    def run(self, spark, frames: dict) -> Rep:
        raise NotImplementedError

    def check(self, rep: Rep, expected: dict) -> Check:
        raise NotImplementedError

    def jobs_per_rep(self, frames: dict) -> int:
        raise NotImplementedError

    def verify_once(self, spark, frames: dict, inp) -> list[str]:
        """Checks that need extra engine work: run once, untimed."""
        return []

    def run_traced(self, spark, frames: dict, tracer) -> tuple[Rep, dict]:
        raise NotImplementedError

    def layer_metrics(self, rep: Rep, aux: dict, frames: dict,
                      st: SpanStats) -> dict:
        raise NotImplementedError


# ====================================================== graph_suite
class GraphSuite(Workload):
    name = "graph_suite"
    N_NODES, N_EDGES = 2000, 8000
    # PageRank needs ~18 supersteps to reach tol 1e-7 on this graph and
    # LPA does not converge in 20; both are capped to fit the run budget.
    # PageRank checkpoints every 2nd superstep, so it leaves two to resume
    # from; components and LPA every 4th.
    PR_ITERS, LPA_ITERS = 4, 2

    def params(self, max_iters: int = 100, ckpt: int = 4) -> GraphParams:
        return GraphParams(num_partitions=self.nproc, tol=1e-7,
                           max_iters=max_iters, checkpoint_interval=ckpt,
                           lpa_max_iters=self.LPA_ITERS)

    def generate(self):
        return graph_input(self.seed, self.N_NODES, self.N_EDGES)

    def materialize(self, spark, g) -> dict:
        edges = spark.createDataFrame(
            pd.DataFrame({"src": g.src, "dst": g.dst})).cache()
        edges.count()
        return {"edges": edges,
                "n_distinct": len(set(zip(g.src.tolist(), g.dst.tolist())))}

    def oracle(self, spark, g) -> dict:
        el = g.edge_list()
        ranks, _ = graph_oracle.pagerank_oracle(el, tol=1e-7,
                                                max_iters=self.PR_ITERS)
        lpa, _ = graph_oracle.label_propagation_oracle(el, self.LPA_ITERS)
        return {"ranks": ranks,
                "components": graph_oracle.connected_components_oracle(el),
                "labels": lpa,
                "triangles": graph_oracle.triangle_count_oracle(el)}

    def jobs_per_rep(self, frames) -> int:
        return 5

    def run(self, spark, frames, tracer=NullTracer()) -> Rep:
        # max_iters caps PageRank only; components run to convergence
        edges, gp = frames["edges"], self.params()
        pr_gp = self.params(self.PR_ITERS, ckpt=2)
        ck = _fresh_dir(os.path.join(self.work, "graph_ckpt"))
        out, times = {}, []
        t0 = time.perf_counter()
        with tracer.span("graph.pagerank"):
            (pr, ranks), dt = _timed(lambda: self._pagerank(spark, edges, pr_gp, ck))
        times.append(dt)
        out.update(pr=pr, ranks=ranks)
        with tracer.span("graph.components"):
            (cc, comps), dt = _timed(lambda: self._collect(
                connected_components(spark, edges, params=gp,
                                     checkpoint_dir=os.path.join(ck, "cc")),
                "components"))
        times.append(dt)
        out.update(cc=cc, components=comps)
        with tracer.span("graph.labelprop"):
            (lp, labels), dt = _timed(lambda: self._collect(
                label_propagation(spark, edges, gp,
                                  checkpoint_dir=os.path.join(ck, "lp")),
                "labels"))
        times.append(dt)
        out.update(lp=lp, labels=labels)
        with tracer.span("graph.triangles"):
            tri, dt = _timed(lambda: triangle_count(spark, edges, gp))
        times.append(dt)
        out["triangles"] = tri
        out["ckpt_bytes"] = _dir_bytes(ck)
        # drop the final PageRank checkpoint, resume from the one before it
        pr_dir = os.path.join(ck, "pr")
        steps = sorted(int(n.split("=")[1]) for n in os.listdir(pr_dir)
                       if n.startswith("superstep="))
        shutil.rmtree(os.path.join(pr_dir, f"superstep={steps[-1]}"))
        out["resumed_from"] = steps[-2] if len(steps) > 1 else None
        with tracer.span("graph.superstep.resume"):
            (pr2, ranks2), dt = _timed(lambda: self._pagerank(spark, edges, pr_gp, ck))
        times.append(dt)
        out.update(pr2=pr2, ranks2=ranks2)
        return Rep(time.perf_counter() - t0, times, out)

    @staticmethod
    def _pagerank(spark, edges, gp, ck):
        pr = pagerank(spark, edges, gp, checkpoint_dir=os.path.join(ck, "pr"))
        return pr, {r.id: r.rank for r in pr.ranks.collect()}

    @staticmethod
    def _collect(res, col):
        df = getattr(res, col)
        return res, {r[0]: r[1] for r in df.collect()}

    def check(self, rep, exp) -> Check:
        o = rep.outputs
        problems, failed = [], 0
        matched_out = matched_exp = n_out = n_exp = 0

        for what, got, want in (
                ("pagerank", o["ranks"], exp["ranks"]),
                ("components", o["components"], exp["components"]),
                ("labelprop", o["labels"], exp["labels"]),
                ("resume", o["ranks2"], exp["ranks"])):
            if what in ("pagerank", "resume"):
                # allclose(1e-6)
                good = {v for v, r in got.items() if v in want
                        and math.isclose(r, want[v], rel_tol=1e-6,
                                         abs_tol=1e-12)}
            else:
                good = {v for v, x in got.items() if want.get(v) == x}
            n_out += len(got)
            n_exp += len(want)
            matched_out += len(good)
            matched_exp += len(good & set(want))
            if len(good) != len(got) or len(got) != len(want):
                failed += 1
                problems.append(f"{what}: {len(good)}/{len(want)} vertices match")
        n_out += 1
        n_exp += 1
        if o["triangles"] == exp["triangles"]:
            matched_out += 1
            matched_exp += 1
        else:
            failed += 1
            problems.append(f"triangles {o['triangles']} != {exp['triangles']}")
        if o["resumed_from"] is None:
            problems.append("pagerank wrote fewer than two checkpoints")
            failed += 1
        worst = max((abs(o["ranks2"].get(v, -1.0) - r)
                     for v, r in o["ranks"].items()), default=0.0)
        if worst > 1e-12 or o["pr2"].supersteps != o["pr"].supersteps:
            problems.append(f"resumed ranks differ by {worst:g} or supersteps "
                            f"{o['pr2'].supersteps} != {o['pr'].supersteps}")
            failed += 1
        return Check(min(failed, 5), problems,
                     matched_out / n_out, matched_exp / n_exp)

    def run_traced(self, spark, frames, tracer) -> tuple[Rep, dict]:
        return self.run(spark, frames, tracer), {}

    def layer_metrics(self, rep: Rep, aux, frames, st: SpanStats) -> dict:
        o = rep.outputs
        pr_span = st.tracer.named("graph.pagerank")[0]
        pr = o["pr"]
        steps = [m["step_sec"] for m in pr.metrics]
        ckpts = [m["ckpt_sec"] for m in pr.metrics]
        pr_g = st.of(pr_span)
        cc_g = st.named("graph.components")
        lp_g = st.named("graph.labelprop")
        tr_g = st.named("graph.triangles")

        def step_median(res):
            return _median([m["step_sec"] for m in res.metrics
                            if "step_sec" in m])

        all_ckpt = sum(m.get("ckpt_sec", 0.0)
                       for res in (pr, o["cc"], o["lp"]) for m in res.metrics)
        return {
            "graph.pagerank.wall_s": pr_span.seconds,
            "graph.pagerank.init_s": pr_span.seconds - sum(steps) - sum(ckpts),
            "graph.pagerank.superstep_s": _median(steps),
            "graph.pagerank.supersteps": pr.supersteps,
            "graph.pagerank.edges_per_s":
                frames["n_distinct"] * pr.supersteps / sum(steps),
            "graph.pagerank.shuffle_write_bytes": pr_g.shuffle_write_bytes,
            "graph.pagerank.task_skew": pr_g.task_skew,
            "graph.superstep.ckpt_s": all_ckpt,
            "graph.superstep.ckpt_bytes": o["ckpt_bytes"],
            "graph.superstep.resume_s":
                st.tracer.named("graph.superstep.resume")[0].seconds,
            "graph.superstep.resume_read_bytes":
                st.named("graph.superstep.resume").input_bytes,
            "graph.components.wall_s":
                st.tracer.named("graph.components")[0].seconds,
            "graph.components.supersteps": o["cc"].supersteps,
            "graph.components.superstep_s": step_median(o["cc"]),
            "graph.components.shuffle_write_bytes": cc_g.shuffle_write_bytes,
            "graph.components.task_skew": cc_g.task_skew,
            "graph.labelprop.wall_s":
                st.tracer.named("graph.labelprop")[0].seconds,
            "graph.labelprop.supersteps": o["lp"].supersteps,
            "graph.labelprop.superstep_s": step_median(o["lp"]),
            "graph.labelprop.shuffle_write_bytes": lp_g.shuffle_write_bytes,
            "graph.triangles.wall_s":
                st.tracer.named("graph.triangles")[0].seconds,
            "graph.triangles.shuffle_write_bytes": tr_g.shuffle_write_bytes,
            "graph.triangles.spill_bytes": tr_g.disk_spill_bytes,
            "graph.triangles.task_skew": tr_g.task_skew,
            "graph.triangles.peak_exec_mem_bytes": tr_g.peak_exec_mem_bytes,
        }


# ====================================================== web_hosts
class WebHosts(Workload):
    name = "web_hosts"
    HOSTS_PER_FAMILY, ANOMALIES, PAGES_PER_HOST = 10, 6, 16
    SS = StreamSpotParams(chunk_length=8, L=1000, B=50, R=20)

    def gparams(self) -> GraphParams:
        return GraphParams(num_partitions=self.nproc, max_iters=30,
                           checkpoint_interval=3, small_graph_threshold=65536)

    def generate(self):
        return pages_input(self.seed, self.HOSTS_PER_FAMILY, self.ANOMALIES,
                           self.PAGES_PER_HOST, self.SS.chunk_length)

    def materialize(self, spark, p) -> dict:
        pages = spark.createDataFrame(
            p.rows, "url string, warc_ts timestamp, html binary, lang string")
        pages = pages.cache()
        pages.count()
        return {"pages": pages}

    def oracle(self, spark, p) -> dict:
        hosts = sorted(p.host_family)
        # gid = xxhash64(host), the pipeline's hash id (computed by Spark's
        # own hash function, outside the timers)
        gid_rows = spark.createDataFrame(
            [(h, f"{h}.example.com") for h in hosts], "host string, name string") \
            .select("host", F.xxhash64("name").alias("gid")).collect()
        gid_host = {r.gid: r.host for r in gid_rows}
        return {
            "text_md5": {r[0]: hashlib.md5(
                extract_text_bytes(r[2]).encode("utf-8")).hexdigest()
                for r in p.rows},
            "gid_host": gid_host,
            "family": p.host_family,
            "anomalies": {g for g, h in gid_host.items()
                          if p.host_family[h] == "anomaly"},
        }

    def jobs_per_rep(self, frames) -> int:
        return 2

    def run(self, spark, frames) -> Rep:
        pages = frames["pages"]
        t0 = time.perf_counter()
        text, t_text = _timed(lambda: self._texts(pages))
        out, t_pipe = _timed(lambda: self._pipeline(spark, pages))
        out["text_md5"] = text
        return Rep(time.perf_counter() - t0, [t_text, t_pipe], out)

    @staticmethod
    def _texts(pages) -> dict:
        rows = with_extracted_text(pages).select(
            "url", F.md5(F.col("text")).alias("h")).collect()
        return {r.url: r.h for r in rows}

    def _pipeline(self, spark, pages) -> dict:
        res = host_anomaly_pipeline(spark, pages, self.SS, self.gparams())
        out = {
            "sketches": [(r.gid, r.sketch) for r in
                         res["sketches"].select("gid", "sketch").collect()],
            "clusters": {r.gid: r.lsh_cluster
                         for r in res["lsh_clusters"].collect()},
            "anomalies": {r.gid for r in res["anomalies"].collect()},
            "pairs": res["similarities"].count(),
        }
        for k in ("edges", "sketches", "bands"):
            res[k].unpersist()
        return out

    def check(self, rep, exp) -> Check:
        o = rep.outputs
        text_bad = sum(o["text_md5"].get(u) != h
                       for u, h in exp["text_md5"].items())
        text_problems = ([f"extracted text differs on {text_bad} urls"]
                         if text_bad or len(o["text_md5"]) != len(exp["text_md5"])
                         else [])
        problems = []           # the pipeline's
        L, B, R = self.SS.L, self.SS.B, self.SS.R
        gids = [g for g, _ in o["sketches"]]
        bits = sketch_bytes_to_bits([s for _, s in o["sketches"]], L)
        sk = {g: [int(x) for x in bits[i]] for i, g in enumerate(gids)}
        if set(sk) != set(exp["gid_host"]):
            problems.append(f"{len(sk)} host sketches for "
                            f"{len(exp['gid_host'])} hosts")
        want = {frozenset(c) for c in sso.lsh_clusters(sk, B, R)}
        groups: dict = {}
        for g, c in o["clusters"].items():
            groups.setdefault(c, set()).add(g)
        got = {frozenset(c) for c in groups.values()}
        if got != want:
            problems.append("lsh_clusters differ from the oracle partition")
        iso = {g for g in sk if sso.is_isolated(
            sk[g], {h: b for h, b in sk.items() if h != g}, B, R)}
        if iso != o["anomalies"]:
            problems.append(f"isolated hosts {len(o['anomalies'])} != "
                            f"oracle {len(iso)}")
        # planted truth: one cluster per family, anomalies flagged
        fam_clusters = {}
        for g, h in exp["gid_host"].items():
            fam = exp["family"][h]
            if fam != "anomaly":
                fam_clusters.setdefault(fam, set()).add(o["clusters"].get(g))
        if (any(len(c) != 1 for c in fam_clusters.values())
                or len(set().union(*fam_clusters.values())) != len(FAMILIES)):
            problems.append(f"family clusters {fam_clusters}")
        if not o["anomalies"]:
            problems.append("no anomalous hosts flagged")
        precision, recall = _pr(o["anomalies"], exp["anomalies"])
        return Check(bool(text_problems) + bool(problems),
                     text_problems + problems, precision, recall)

    def verify_once(self, spark, frames, p) -> list[str]:
        rows = extract_link_edges(frames["pages"]).select(
            "src_url", "dst_url").collect()
        if Counter((r.src_url, r.dst_url) for r in rows) != Counter(p.edges):
            return [f"href edges: {len(rows)} extracted, {len(p.edges)} expected"]
        return []

    def run_traced(self, spark, frames, tracer) -> tuple[Rep, dict]:
        """The pipeline's composition, one span per public call."""
        pages, ss, gp = frames["pages"], self.SS, self.gparams()
        aux = {}

        def components(edges, nodes):
            with tracer.span("graph.components"):
                res = connected_components(spark, edges, nodes, gp)
                aux["cc"], aux["comps"] = res, res.components.cache()
                aux["comps"].count()
                return aux["comps"]

        t0 = time.perf_counter()
        with tracer.span("functions.text.extract_text"):
            text = self._texts(pages)
        t1 = time.perf_counter()
        with tracer.span("pipeline.extract_link_edges"):
            link_edges = extract_link_edges(pages).cache()
            aux["link_rows"] = link_edges.count()
        with tracer.span("pipeline.host_subgraph_edges"):
            ss_edges = host_subgraph_edges(link_edges).cache()
            ss_edges.count()
        with tracer.span("operators.shingles"):
            chunks = build_chunk_counts(build_shingles(build_adjacency(ss_edges)),
                                        ss.chunk_length).cache()
            aux["chunk_rows"] = chunks.count()
        with tracer.span("operators.sketch.build_sketches"):
            sketches = build_sketches(chunks, ss).cache()
            sketches.count()
        with tracer.span("operators.sketch.sketch_bands"):
            bands = sketch_bands(sketches, ss).cache()
            bands.count()
        with tracer.span("operators.lsh.lsh_clusters"):
            clusters = {r.gid: r.lsh_cluster
                        for r in lsh_clusters(bands, components).collect()}
        with tracer.span("operators.lsh.isolated_vs_others"):
            anomalies = {r.gid for r in isolated_vs_others(bands).collect()}
        with tracer.span("operators.lsh.candidate_pairs"):
            cands = candidate_pairs(bands, max_bucket_size=10_000).cache()
            aux["cands"] = cands.count()
        with tracer.span("operators.similarity"):
            pairs = all_pairs_sketch_similarity(sketches, ss,
                                                lsh_prune=cands).count()
        t2 = time.perf_counter()
        sk_rows = [(r.gid, r.sketch) for r in
                   sketches.select("gid", "sketch").collect()]
        aux["max_bucket"] = bands.groupBy("band_idx", "band_val").count() \
            .agg(F.max("count")).collect()[0][0]
        for df in (link_edges, ss_edges, chunks, sketches, bands, cands,
                   aux["comps"]):
            df.unpersist()
        out = {"text_md5": text, "sketches": sk_rows, "clusters": clusters,
               "anomalies": anomalies, "pairs": pairs}
        return Rep(t2 - t0, [t1 - t0, t2 - t1], out), aux

    def layer_metrics(self, rep, aux, frames, st: SpanStats) -> dict:
        def wall(name):
            return sum(s.seconds for s in st.tracer.named(name))

        text_g = st.named("functions.text.extract_text")
        href_g = st.named("pipeline.extract_link_edges")
        cc_g = st.named("graph.components")
        cc = aux["cc"]
        return {
            "functions.text.extract_text.wall_s": wall("functions.text.extract_text"),
            "functions.text.extract_text.python_s": text_g.python_run_ms / 1e3,
            "functions.text.extract_hrefs.python_s": href_g.python_run_ms / 1e3,
            "functions.text.python_bytes_sent":
                text_g.python_bytes_sent + href_g.python_bytes_sent,
            "pipeline.extract_link_edges.rows_out": aux["link_rows"],
            "pipeline.host_subgraph_edges.wall_s":
                wall("pipeline.host_subgraph_edges"),
            "pipeline.host_subgraph_edges.shuffle_write_bytes":
                st.named("pipeline.host_subgraph_edges").shuffle_write_bytes,
            "operators.shingles.wall_s": wall("operators.shingles"),
            "operators.shingles.rows_out": aux["chunk_rows"],
            "operators.shingles.shuffle_write_bytes":
                st.named("operators.shingles").shuffle_write_bytes,
            "operators.shingles.spill_bytes":
                st.named("operators.shingles").disk_spill_bytes,
            "operators.sketch.build_sketches.wall_s":
                wall("operators.sketch.build_sketches"),
            "operators.sketch.build_sketches.python_s":
                st.named("operators.sketch.build_sketches").python_run_ms / 1e3,
            "operators.sketch.sketch_bands.wall_s":
                wall("operators.sketch.sketch_bands"),
            "operators.lsh.lsh_clusters.wall_s": wall("operators.lsh.lsh_clusters"),
            "operators.lsh.candidate_pairs": aux["cands"],
            "operators.lsh.max_bucket_size": aux["max_bucket"],
            "operators.lsh.clusters": len(set(rep.outputs["clusters"].values())),
            "operators.lsh.isolated_vs_others.wall_s":
                wall("operators.lsh.isolated_vs_others"),
            "operators.similarity.wall_s": wall("operators.similarity"),
            "operators.similarity.pairs": rep.outputs["pairs"],
            "graph.components.wall_s": wall("graph.components"),
            "graph.components.supersteps": cc.supersteps,
            "graph.components.superstep_s": _median(
                [m["step_sec"] for m in cc.metrics if "step_sec" in m]),
            "graph.components.shuffle_write_bytes": cc_g.shuffle_write_bytes,
            "graph.components.task_skew": cc_g.task_skew,
        }


# ====================================================== neardup_incremental
class NeardupIncremental(Workload):
    name = "neardup_incremental"
    N_BASES, BATCHES = 80, 3
    THRESHOLD = 0.5

    def generate(self):
        return docs_input(self.seed, self.N_BASES, mutate_tokens=2,
                          threshold=self.THRESHOLD)

    def materialize(self, spark, d) -> dict:
        docs = spark.createDataFrame(
            [(r[0], r[3]) for r in d.rows], "doc_id long, text string")
        docs = docs.cache()
        docs.count()
        # doc_id % K spreads each base's variants over different batches,
        # so planted pairs cross batch boundaries and hit the index join
        return {"docs": docs,
                "batches": [docs.filter(F.col("doc_id") % self.BATCHES == k)
                            for k in range(self.BATCHES)]}

    def oracle(self, spark, d) -> dict:
        return {"text": {r[0]: r[3] for r in d.rows}, "truth": d.truth}

    def jobs_per_rep(self, frames) -> int:
        return self.BATCHES

    def run(self, spark, frames) -> Rep:
        index = os.path.join(_fresh_dir(os.path.join(self.work, "dedup")), "index")
        docs, times, pairs = frames["docs"], [], {}
        t0 = time.perf_counter()
        for batch in frames["batches"]:
            t = time.perf_counter()
            cands = incremental_dedup_batch(spark, index, batch)
            rows = exact_jaccard_for_pairs(docs, cands).collect()
            cands.unpersist()
            times.append(time.perf_counter() - t)
            pairs.update(((r.id_a, r.id_b), r.jaccard) for r in rows)
        return Rep(time.perf_counter() - t0, times, {"pairs": pairs})

    def check(self, rep, exp) -> Check:
        pairs, text = rep.outputs["pairs"], exp["text"]
        wrong = [p for p, j in pairs.items()
                 if j != char_jaccard(text[p[0]], text[p[1]])]
        problems = [f"{len(wrong)} pair Jaccards differ from the oracle"] \
            if wrong else []
        flagged = {p for p, j in pairs.items() if j >= self.THRESHOLD}
        precision, recall = _pr(flagged, exp["truth"])
        if recall < 0.95 or precision < 1.0:
            problems.append(f"precision {precision:.4f} recall {recall:.4f}")
        return Check(min(len(problems), self.BATCHES), problems,
                     precision, recall)

    def run_traced(self, spark, frames, tracer) -> tuple[Rep, dict]:
        """``incremental_dedup_batch``'s composition, one span per call."""
        index = os.path.join(_fresh_dir(os.path.join(self.work, "dedup")), "index")
        docs, times, pairs = frames["docs"], [], {}
        aux = {"cands": 0}
        cols = ["band_idx", "band_key"]
        t0 = time.perf_counter()
        for k, batch in enumerate(frames["batches"]):
            t = time.perf_counter()
            with tracer.span("operators.dedup.minhash_signatures"):
                new_bands = build_dedup_index(batch).cache()
                new_bands.count()
            with tracer.span(f"operators.dedup.candidates.{k}"):
                if k == 0:
                    cands = banded_self_join_pairs(new_bands, cols)
                else:
                    cands = incremental_lsh_candidates(
                        spark.read.parquet(index), new_bands)
                cands = cands.cache()
                aux["cands"] += cands.count()
            with tracer.span("operators.dedup.index_write"):
                new_bands.write.mode("append").parquet(index)
            new_bands.unpersist()
            with tracer.span("operators.dedup.exact_jaccard"):
                rows = exact_jaccard_for_pairs(docs, cands).collect()
            cands.unpersist()
            times.append(time.perf_counter() - t)
            pairs.update(((r.id_a, r.id_b), r.jaccard) for r in rows)
        return Rep(time.perf_counter() - t0, times, {"pairs": pairs}), aux

    def layer_metrics(self, rep, aux, frames, st: SpanStats) -> dict:
        def wall(name):
            return sum(s.seconds for s in st.tracer.named(name))

        sig = st.named("operators.dedup.minhash_signatures")
        jac = st.named("operators.dedup.exact_jaccard")
        cand_names = [f"operators.dedup.candidates.{k}"
                      for k in range(self.BATCHES)]
        pairs = rep.outputs["pairs"]
        verified = sum(j >= self.THRESHOLD for j in pairs.values())
        return {
            "operators.dedup.minhash_signatures.wall_s":
                wall("operators.dedup.minhash_signatures"),
            "operators.dedup.minhash_signatures.python_s": sig.python_run_ms / 1e3,
            "operators.dedup.minhash_signatures.python_bytes_sent":
                sig.python_bytes_sent,
            "operators.dedup.candidates.wall_s": sum(wall(n) for n in cand_names),
            "operators.dedup.candidates": aux["cands"],
            "operators.dedup.useful_ratio": verified / max(aux["cands"], 1),
            "operators.dedup.index_read_bytes.first":
                st.named(cand_names[1]).input_bytes,
            "operators.dedup.index_read_bytes.last":
                st.named(cand_names[-1]).input_bytes,
            "operators.dedup.index_write_s": wall("operators.dedup.index_write"),
            "operators.dedup.exact_jaccard.wall_s":
                wall("operators.dedup.exact_jaccard"),
            "operators.dedup.exact_jaccard.python_s": jac.python_run_ms / 1e3,
        }


# ====================================================== streamspot_replay
class StreamspotReplay(Workload):
    name = "streamspot_replay"
    TRAIN, TEST, ATTACKS, NODES_PER_GRAPH = 5, 3, 3, 30
    BATCHES = 2

    @staticmethod
    def ss(interval: int) -> StreamSpotParams:
        return StreamSpotParams(chunk_length=10, L=1000, B=50, R=20,
                                cluster_update_interval=interval)

    def generate(self):
        return stream_input(self.seed, self.TRAIN, self.TEST, self.ATTACKS,
                            self.NODES_PER_GRAPH)

    @staticmethod
    def _bootstrap(s) -> BootstrapClusters:
        """Bootstrap clusters = the training scenarios.  Over seeds 1-100,
        complete benign graphs sit within 0.53 of their scenario centroid
        and attacks beyond 0.88 (angular distance, 0..2), so every
        threshold is 0.7."""
        return BootstrapClusters(s.clusters, [0.7] * len(s.clusters), 0.7)

    def materialize(self, spark, s) -> dict:
        schema = ("src_id long, src_type string, dst_id long, dst_type string, "
                  "e_type string, gid long, seq long")
        train = spark.createDataFrame(s.train, schema).cache()
        train.count()
        test = assign_replay_seq(spark.createDataFrame(s.test, schema)).cache()
        test.count()
        interval = -(-len(s.test) // self.BATCHES)
        # replay order = assign_replay_seq's round-robin: (offset in gid, gid)
        order = [e[5] for e in sorted(s.test, key=lambda e: (e[6], e[5]))]
        touched = [len(set(order[lo:lo + interval]))
                   for lo in range(0, len(order), interval)]
        return {"train": train, "test": test, "boot": self._bootstrap(s),
                "ss": self.ss(interval), "n_batches": len(touched),
                "touched": touched}

    def oracle(self, spark, s) -> dict:
        scenario = {g: i for i, members in enumerate(s.clusters) for g in members}
        benign = {g: g // 100 for g in s.test_gids if g not in s.attacks}
        return {"attacks": s.attacks, "benign": benign, "scenario": scenario,
                "test_gids": s.test_gids}

    def jobs_per_rep(self, frames) -> int:
        return frames["n_batches"]

    def _replay(self, spark, frames, tracer):
        ck = _fresh_dir(os.path.join(self.work, "replay"))
        t0 = time.time()
        with tracer.span("streaming.replay.bootstrap"):
            replay = MicroBatchReplay(spark, frames["ss"], frames["boot"],
                                      frames["train"], checkpoint_dir=ck)
        t1 = time.time()
        with tracer.span("streaming.replay.run"):
            res = replay.run(frames["test"], resume=False)
        t2 = time.time()
        commits = sorted(
            os.stat(os.path.join(ck, f"batch={k}", "_COMPLETE")).st_mtime_ns / 1e9
            for k in range(frames["n_batches"]))
        batches = np.diff([t1] + commits).tolist()
        out = {"cluster_map": res["cluster_map"], "commits": commits,
               "run_start": t1}
        return Rep(t2 - t0, batches, out)

    def run(self, spark, frames) -> Rep:
        return self._replay(spark, frames, NullTracer())

    def check(self, rep, exp) -> Check:
        cmap = rep.outputs["cluster_map"]
        flagged = {g for g in exp["test_gids"] if cmap.get(g) == ANOMALY}
        problems = []
        misplaced = [g for g, c in exp["benign"].items()
                     if cmap.get(g) not in (c, ANOMALY)]
        if misplaced:
            problems.append(f"benign graphs in a foreign cluster: {misplaced}")
        if any(cmap.get(g) != c for g, c in exp["scenario"].items()
               if cmap.get(g) != ANOMALY):
            problems.append("training graph left its bootstrap cluster")
        precision, recall = _pr(flagged, exp["attacks"])
        if precision < 1.0 or recall < 1.0:
            problems.append(f"anomalies {sorted(flagged)} != planted "
                            f"{sorted(exp['attacks'])}")
        return Check(min(len(problems), len(rep.batches)), problems,
                     precision, recall)

    def run_traced(self, spark, frames, tracer) -> tuple[Rep, dict]:
        return self._replay(spark, frames, tracer), {}

    def layer_metrics(self, rep, aux, frames, st: SpanStats) -> dict:
        run_span = st.tracer.named("streaming.replay.run")[0]
        jobs = [(s / 1e3, e / 1e3) for s, e in st.of(run_span).job_times]
        commits = rep.outputs["commits"]
        starts = [rep.outputs["run_start"]] + commits[:-1]
        spark_s, driver_s, n_jobs, ckpt_s = [], [], [], []
        for lo, hi in zip(starts, commits):
            mine = [(s, e) for s, e in jobs if lo <= s < hi]
            busy = sum(min(e, hi) - s for s, e in mine)
            spark_s.append(busy)
            driver_s.append((hi - lo) - busy)
            n_jobs.append(len(mine))
            # the batch's last job writes its snapshot; commit follows it
            ckpt_s.append(hi - mine[-1][0] if mine else 0.0)
        return {
            "streaming.replay.bootstrap_s":
                st.tracer.named("streaming.replay.bootstrap")[0].seconds,
            "streaming.replay.spark_s": _median(spark_s),
            "streaming.replay.driver_s": _median(driver_s),
            "streaming.replay.jobs_per_batch": _median(n_jobs),
            "streaming.replay.touched_graphs": _median(frames["touched"]),
            "streaming.replay.ckpt_s": _median(ckpt_s),
        }


# ====================================================== web_and_streams
class Composite(Workload):
    """Several workloads' chains run back to back in one session."""
    parts_of: tuple = ()

    def __init__(self, seed: int, nproc: int, work: str):
        super().__init__(seed, nproc, work)
        self.parts = [cls(seed, nproc, work) for cls in self.parts_of]

    def generate(self):
        return tuple(p.generate() for p in self.parts)

    def materialize(self, spark, inp) -> list:
        return [p.materialize(spark, i) for p, i in zip(self.parts, inp)]

    def oracle(self, spark, inp) -> list:
        return [p.oracle(spark, i) for p, i in zip(self.parts, inp)]

    def jobs_per_rep(self, frames) -> int:
        return sum(p.jobs_per_rep(f) for p, f in zip(self.parts, frames))

    @staticmethod
    def _join(reps: list[Rep]) -> Rep:
        return Rep(sum(r.run_s for r in reps),
                   [b for r in reps for b in r.batches], {"parts": reps})

    def run(self, spark, frames) -> Rep:
        return self._join([p.run(spark, f) for p, f in zip(self.parts, frames)])

    def check(self, rep, exp) -> Check:
        checks = [p.check(r, e) for p, r, e in
                  zip(self.parts, rep.outputs["parts"], exp)]
        return Check(sum(c.failed for c in checks),
                     [m for c in checks for m in c.problems],
                     min(c.precision for c in checks),
                     min(c.recall for c in checks))

    def verify_once(self, spark, frames, inp) -> list[str]:
        return [m for p, f, i in zip(self.parts, frames, inp)
                for m in p.verify_once(spark, f, i)]

    def run_traced(self, spark, frames, tracer) -> tuple[Rep, dict]:
        outs = [p.run_traced(spark, f, tracer)
                for p, f in zip(self.parts, frames)]
        return self._join([r for r, _ in outs]), {"parts": [a for _, a in outs]}

    def layer_metrics(self, rep, aux, frames, st: SpanStats) -> dict:
        out = {}
        for p, r, a, f in zip(self.parts, rep.outputs["parts"], aux["parts"],
                              frames):
            out.update(p.layer_metrics(r, a, f, st))
        return out


class WebAndStreams(Composite):
    """``web_hosts``, then ``neardup_incremental``, then
    ``streamspot_replay``: every Python-worker and sketch/LSH layer, first
    as one large job, then as many small jobs against persisted state."""
    name = "web_and_streams"
    parts_of = (WebHosts, NeardupIncremental, StreamspotReplay)


WORKLOADS = {w.name: w for w in (GraphSuite, WebAndStreams, WebHosts,
                                 NeardupIncremental, StreamspotReplay)}
