import os
import shutil
import tempfile

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


REFERENCE_EDGES = "/root/reference/test_edges.txt"
REFERENCE_BOOTSTRAP = "/root/reference/test_bootstrap_clusters.txt"
_MISSING_REFERENCE = [p for p in (REFERENCE_EDGES, REFERENCE_BOOTSTRAP)
                      if not os.path.exists(p)]

# Tests pinned to the published reference sample: skipped where the sample
# is absent (it is not redistributed with this repo), never faked.
needs_reference = pytest.mark.skipif(
    bool(_MISSING_REFERENCE),
    reason="reference sample not found: " + ", ".join(_MISSING_REFERENCE))


def load_reference_edge_tuples():
    """The published 12-edge sample as python tuples, grouped by gid."""
    by_gid = {}
    with open(REFERENCE_EDGES) as f:
        for line in f:
            s, st, d, dt, et, gid = line.split("\t")
            by_gid.setdefault(int(gid), []).append(
                (int(s), st, int(d), dt, et))
    return by_gid
