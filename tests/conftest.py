import os
import shutil
import tempfile
import uuid

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")


@pytest.fixture(scope="session")
def spark():
    from sbustreamspot_core_spark.session import get_spark

    s = get_spark("tests", cpus=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture()
def tmp_ckpt():
    d = tempfile.mkdtemp(prefix="ssc_ckpt_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def jobs_of(spark, fn):
    """``(fn(), the number of Spark jobs fn ran)``, counted by job group."""
    sc = spark.sparkContext
    group = f"job-count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


REFERENCE_EDGES = "/root/reference/test_edges.txt"
REFERENCE_BOOTSTRAP = "/root/reference/test_bootstrap_clusters.txt"
_MISSING_REFERENCE = [p for p in (REFERENCE_EDGES, REFERENCE_BOOTSTRAP)
                      if not os.path.exists(p)]

# Tests pinned to the published reference sample: skipped where the sample
# is absent (it is not redistributed with this repo), never faked.
needs_reference = pytest.mark.skipif(
    bool(_MISSING_REFERENCE),
    reason="reference sample not found: " + ", ".join(_MISSING_REFERENCE))


def load_reference_edge_tuples(path=REFERENCE_EDGES):
    """An edge file (by default the published 12-edge sample) as python
    tuples, grouped by gid."""
    by_gid = {}
    with open(path) as f:
        for line in f:
            s, st, d, dt, et, gid = line.split("\t")
            by_gid.setdefault(int(gid), []).append(
                (int(s), st, int(d), dt, et))
    return by_gid


# A small SYNTHETIC StreamSpot sample, made up for host-runnable streaming
# tests; it is not the published reference sample and pins no reference
# value.  Train graphs 0-1 (cluster 0: a-x->b-y->c) and 2-3 (cluster 1:
# d-z->e-w->f); test graphs 4 and 5 shaped like them, 6 unlike either (an
# anomaly at threshold 0.5, chunk length 4, L=100), and 7, which starts like
# cluster 0, grows into cluster 1 and is four edges longer than the others,
# so a max_num_edges=5 replay evicts from the graph it is appending to.
# Columns: src_id src_type dst_id dst_type e_type gid, in file order.
SYNTHETIC_EDGES = """
1 a 2 b x 0 | 2 b 3 c y 0 | 1 a 4 b x 0 | 4 b 5 c y 0
1 a 2 b x 1 | 2 b 3 c y 1 | 1 a 3 c x 1 | 2 b 5 c y 1
1 d 2 e z 2 | 2 e 3 f w 2 | 1 d 4 e z 2 | 4 e 5 f w 2
1 d 2 e z 3 | 2 e 3 f w 3 | 2 e 4 f w 3 | 1 d 5 f z 3
1 a 2 b x 4 | 2 b 3 c y 4 | 1 a 4 b x 4 | 2 b 6 c y 4
1 d 2 e z 5 | 2 e 3 f w 5 | 1 d 4 e z 5 | 4 e 6 f w 5
1 g 2 h v 6 | 2 h 3 g u 6 | 3 g 4 h v 6 | 4 h 1 g u 6
1 a 2 b x 7 | 2 b 3 c y 7 | 1 d 4 e z 7 | 4 e 5 f w 7
4 e 6 f w 7 | 1 d 7 e z 7 | 7 e 8 f w 7 | 1 d 9 e z 7
"""
SYNTHETIC_BOOTSTRAP = "2 0.5\n0.5 0 1\n0.5 2 3\n"


def write_synthetic_sample(dirpath):
    """Write the synthetic sample in the reference's input formats (6-field
    TSV edges, bootstrap-cluster file); returns (edges_path, bootstrap_path)."""
    edges_path = os.path.join(dirpath, "synthetic_edges.tsv")
    bootstrap_path = os.path.join(dirpath, "synthetic_bootstrap.txt")
    with open(edges_path, "w") as f:
        for edge in SYNTHETIC_EDGES.replace("|", "\n").split("\n"):
            if edge.strip():
                f.write("\t".join(edge.split()) + "\n")
    with open(bootstrap_path, "w") as f:
        f.write(SYNTHETIC_BOOTSTRAP)
    return edges_path, bootstrap_path


@pytest.fixture(scope="session")
def synthetic_sample(tmp_path_factory):
    return write_synthetic_sample(str(tmp_path_factory.mktemp("synthetic")))
