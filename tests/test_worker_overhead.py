"""Fixed Python-worker cost per task.

- The zipimporter re-read guard the package installs on import.
- Every Arrow kernel is a module-level function, so a worker unpickles it
  by reference and imports the package (which installs the guard there).
- Driver-built tables are Arrow local relations (``LocalTableScan``), not
  Python-RDD scans (``Scan ExistingRDD``) that need a Python worker pool.
- The driver heap default is sized from the host.
"""

import ast
import importlib
import os
import pathlib
import subprocess
import sys
import zipfile
import zipimport

import pytest

import sbustreamspot_core_spark as pkg
from sbustreamspot_core_spark.session import default_driver_memory, local_table

PKG_DIR = pathlib.Path(pkg.__file__).parent
REPO = PKG_DIR.parent


# ---------------------------------------------------------------- zip guard

def _write_zip(path, value):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zg_probe_mod.py", f"VALUE = {value!r}\n")


@pytest.fixture()
def probe_zip(tmp_path, monkeypatch):
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, 1)
    reads = []
    orig_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return orig_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    sys.path.insert(0, archive)
    yield archive, reads
    sys.path.remove(archive)
    sys.path_importer_cache.pop(archive, None)
    sys.modules.pop("zg_probe_mod", None)


def test_unchanged_zip_is_not_reread(probe_zip):
    archive, reads = probe_zip
    import zg_probe_mod
    assert zg_probe_mod.VALUE == 1
    importlib.invalidate_caches()          # first call records the archive
    n = len(reads)
    for _ in range(5):
        importlib.invalidate_caches()
    assert len(reads) == n


def test_rewritten_zip_is_reread_and_reimported(probe_zip):
    archive, reads = probe_zip
    import zg_probe_mod
    assert zg_probe_mod.VALUE == 1
    importlib.invalidate_caches()
    n = len(reads)
    _write_zip(archive, "rewritten")       # new size and mtime
    importlib.invalidate_caches()
    assert len(reads) > n
    sys.modules.pop("zg_probe_mod")
    import zg_probe_mod as again
    assert again.VALUE == "rewritten"


def test_missing_zip_goes_through_original(probe_zip):
    archive, _ = probe_zip
    import zg_probe_mod  # noqa: F401
    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()
    assert sys.path_importer_cache[archive]._files == {}


def test_guard_install_is_idempotent():
    guard = zipimport.zipimporter.invalidate_caches
    assert guard._reread_guard
    pkg._install_zip_reread_guard()
    importlib.reload(pkg)
    assert zipimport.zipimporter.invalidate_caches is guard


# ---------------------------------------------------------- kernel pickling

ARROW_METHODS = {"mapInPandas", "applyInPandas", "applyInPandasWithState",
                 "mapInArrow", "applyInArrow"}


def _is_pandas_udf(func):
    return ((isinstance(func, ast.Attribute) and func.attr == "pandas_udf")
            or (isinstance(func, ast.Name) and func.id == "pandas_udf"))


def _kernel_sites():
    """(module, enclosing function node, kernel expression) for every
    Arrow API call in the package; decorator-form pandas_udf fails."""
    sites = []
    for path in sorted(PKG_DIR.rglob("*.py")):
        mod = ".".join(path.relative_to(REPO).with_suffix("").parts)
        tree = ast.parse(path.read_text())
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for dec in fn.decorator_list:
                target = dec.func if isinstance(dec, ast.Call) else dec
                assert not _is_pandas_udf(target), (
                    f"{mod}.{fn.name}: decorator pandas_udf pickles the "
                    "kernel by value; pass a module-level function instead")
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call) or not node.args:
                continue
            f = node.func
            if ((isinstance(f, ast.Attribute) and f.attr in ARROW_METHODS)
                    or _is_pandas_udf(f)):
                owner = next(fn for fn in ast.walk(tree)
                             if isinstance(fn, ast.FunctionDef)
                             and node in ast.walk(fn))
                sites.append((mod, owner, node.args[0]))
    return sites


def _resolve(mod, owner, expr):
    """The module-level functions a kernel expression can bind."""
    if isinstance(expr, ast.Call) and (
            (isinstance(expr.func, ast.Name) and expr.func.id == "partial")
            or _is_pandas_udf(expr.func)):
        return _resolve(mod, owner, expr.args[0])
    assert isinstance(expr, ast.Name), (
        f"{mod}.{owner.name}: kernel {ast.unparse(expr)} is not a name")
    nested = [n for n in ast.walk(owner) if isinstance(n, ast.FunctionDef)
              and n.name == expr.id]
    assert not nested, f"{mod}.{owner.name}: kernel {expr.id} is nested"
    local = [n.value for n in ast.walk(owner) if isinstance(n, ast.Assign)
             and any(isinstance(t, ast.Name) and t.id == expr.id
                     for t in n.targets)]
    if local:
        return [k for v in local for k in _resolve(mod, owner, v)]
    return [getattr(importlib.import_module(mod), expr.id)]


def _kernels():
    return {f"{k.__module__}.{k.__qualname__}": k
            for site in _kernel_sites() for k in _resolve(*site)}


KERNELS = sorted(f"sbustreamspot_core_spark.{k}" for k in [
    "functions.sketches.sketch_similarity_series",
    "functions.text._extract_hrefs_series",
    "functions.text._extract_text_series",
    "operators.ann._nearest_cell_series",
    "operators.ann._probe_cells_series",
    "operators.clustering._centroid_group",
    "operators.dedup._jaccard_batches",
    "operators.dedup._minhash_batches",
    "operators.multimodal._decode_audio_batches",
    "operators.multimodal._decode_image_batches",
    "operators.sketch._simhash_group",
    "operators.sketch._sketch_group_inline",
    "sources.pages._page_batches",
])


def test_every_arrow_kernel_is_module_level():
    kernels = _kernels()
    # the scan finds exactly these: a lost kernel means the scan broke, a
    # new one gets added here
    assert sorted(kernels) == KERNELS
    for name, k in kernels.items():
        assert k.__module__.startswith("sbustreamspot_core_spark."), name
        assert "<locals>" not in k.__qualname__, name
        assert getattr(sys.modules[k.__module__], k.__qualname__) is k, name


def test_unpickled_kernels_import_package_and_guard():
    """What a fresh Python worker does with each kernel: unpickle it, which
    must import the package and so install the zip re-read guard."""
    import pickle

    from pyspark import cloudpickle

    kernels = _kernels()
    blobs = {name: cloudpickle.dumps(k) for name, k in kernels.items()}
    for name, blob in blobs.items():
        assert kernels[name].__module__.encode() in blob, name
    # each kernel loads into an interpreter with no package module imported
    probe = (
        "import pickle, sys, zipimport\n"
        "guarded = lambda: getattr(zipimport.zipimporter.invalidate_caches,\n"
        "                          '_reread_guard', False)\n"
        "blobs = pickle.loads(sys.stdin.buffer.read())\n"
        "print('guard-before', guarded())\n"
        "for name, b in blobs.items():\n"
        "    for m in [m for m in sys.modules\n"
        "              if m.partition('.')[0] == 'sbustreamspot_core_spark']:\n"
        "        del sys.modules[m]\n"
        "    pickle.loads(b)\n"
        "    if 'sbustreamspot_core_spark' not in sys.modules:\n"
        "        print('no-import', name)\n"
        "print('guard-after', guarded())\n")
    out = subprocess.run(
        [sys.executable, "-c", probe], input=pickle.dumps(blobs),
        capture_output=True, cwd=str(REPO), check=True,
        env={**os.environ, "PYTHONPATH": str(REPO)})
    assert out.stdout.decode().splitlines() == [
        "guard-before False", "guard-after True"], out.stderr.decode()


# ------------------------------------------------------- driver-side tables

def _physical_plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_local(df):
    plan = _physical_plan(df)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def _same_as_list_path(spark, df, rows, schema):
    ref = spark.createDataFrame(rows, schema)
    assert df.schema == ref.schema
    assert df.collect() == ref.collect()


def test_bootstrap_to_df_is_local(spark):
    from sbustreamspot_core_spark.sources.bootstrap import BootstrapClusters
    boot = BootstrapClusters([[0, 2], [1]], [0.5, 0.25], 0.7)
    df = boot.to_df(spark)
    _assert_local(df)
    _same_as_list_path(spark, df, [(0, 0.5, 0), (0, 0.5, 2), (1, 0.25, 1)],
                       "cluster_id int, threshold double, gid long")


def test_small_graph_components_mapping_is_local(spark, tmp_path):
    from sbustreamspot_core_spark.config import GraphParams
    from sbustreamspot_core_spark.graph.components import connected_components
    # parquet input: the only local relation in the plan is the mapping
    path = str(tmp_path / "edges")
    local_table(spark, [(1, 2), (2, 3), (7, 8)], "src long, dst long") \
        .write.parquet(path)
    edges = spark.read.parquet(path)
    res = connected_components(spark, edges,
                               params=GraphParams(small_graph_threshold=100))
    assert res.metrics[0]["mode"] == "driver_union_find"
    _assert_local(res.components)
    got = {r.id: r.component for r in res.components.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}


def test_replay_snapshot_is_local(spark, tmp_ckpt):
    from sbustreamspot_core_spark.config import StreamSpotParams
    from sbustreamspot_core_spark.sources.bootstrap import BootstrapClusters
    from sbustreamspot_core_spark.streaming.replay import (
        MicroBatchReplay,
        assign_replay_seq,
    )
    schema = ("src_id long, src_type string, dst_id long, dst_type string, "
              "e_type string, gid long, seq long")
    rows = [(i % 3, "a", i % 3 + 1, "b" if gid % 2 else "c", "e", gid,
             gid * 10 + i) for gid in range(4) for i in range(6)]
    edges = local_table(spark, rows, schema)
    train = edges.filter("gid < 2")
    test = assign_replay_seq(edges.filter("gid >= 2"))
    params = StreamSpotParams(chunk_length=4, L=64, B=4, R=16,
                              cluster_update_interval=4)
    engine = MicroBatchReplay(spark, params,
                              BootstrapClusters([[0], [1]], [0.7, 0.7], 0.7),
                              train, checkpoint_dir=tmp_ckpt)
    snaps = []
    orig = engine._save_state

    def capture(k, snapshot, n_edges):
        snaps.append(snapshot)
        orig(k, snapshot, n_edges)

    engine._save_state = capture
    engine.run(test, resume=False)
    assert snaps
    for s in snaps:
        _assert_local(s)
        assert s.schema.simpleString() == (
            "struct<gid:bigint,cluster_id:int,anomaly_score:double>")


@pytest.fixture()
def snap_table(spark, tmp_path):
    from sbustreamspot_core_spark.sources.snaptable import SnapTable
    t = SnapTable.create(str(tmp_path / "t"))
    # one partition per append: no empty, stat-less files, so a predicate
    # above every id prunes the whole manifest
    t.append(spark.range(0, 5, 1, 1).selectExpr(
        "id", "array(id, id + 1) AS xs", "cast(id AS string) AS s"))
    t.append(spark.range(5, 8, 1, 1).selectExpr(
        "id", "array(id) AS xs", "cast(id AS string) AS s"))
    return t


def test_snaptable_empty_scan_matches_list_path(spark, snap_table):
    from pyspark.sql.types import StructType
    df = snap_table.read(spark, where=("id", ">", 10 ** 9))
    _assert_local(df)
    schema = StructType.fromJson(snap_table.metadata()["schema"])
    _same_as_list_path(spark, df, [], schema)
    assert df.schema["xs"].dataType.simpleString() == "array<bigint>"
    # null longs: a first snapshot's parent id, a vacuumed file's size
    rows = [(1, None, None), (2, 1, 10)]
    schema = "snapshot_id long, parent_id long, bytes long"
    df = local_table(spark, rows, schema)
    _assert_local(df)
    _same_as_list_path(spark, df, rows, schema)


# --------------------------------------------------------------- heap size

def test_default_driver_memory_is_half_of_memtotal(tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       15990000 kB\nMemFree: 1 kB\n")
    assert default_driver_memory(str(meminfo)) == f"{15990000 // 1024 // 2}m"
    meminfo.write_text("MemTotal:  1000000 kB\n")
    assert default_driver_memory(str(meminfo)) == "1024m"
    assert default_driver_memory(str(tmp_path / "absent")) == "4g"


def test_session_heap_comes_from_env_or_host(spark):
    want = os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory()
    assert spark.sparkContext.getConf().get("spark.driver.memory") == want
