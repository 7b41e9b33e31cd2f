"""Session defaults.

- ``local[N]`` is sized from the CPUs this process may use, not a constant.
- ``spark-submit --master`` is honoured, not overridden by ``get_spark``.
- A driver JVM that ``get_spark`` launches runs C1 only
  (``-XX:TieredStopAtLevel=1``); a caller's ``extraJavaOptions`` still
  apply after it, and a caller's ``defaultJavaOptions`` replace it.

The JVM cases launch a fresh driver in a subprocess, because JVM options
only apply when the JVM starts.
"""

import json
import os
import subprocess
import sys
import textwrap

import pytest

from sbustreamspot_core_spark.session import default_cpus

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
C1_ONLY = "-XX:TieredStopAtLevel=1"

PROBE = textwrap.dedent("""
    import json, sys
    from sbustreamspot_core_spark.session import get_spark
    spark = get_spark("session-probe", extra_conf=json.loads(sys.argv[1]))
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    print("PROBE " + json.dumps({
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "jvm_args": list(mx.getRuntimeMXBean().getInputArguments())}))
    spark.stop()
""")


def _probe(tmp_path, launcher, extra_conf):
    """Run PROBE under ``launcher`` (plain python or spark-submit) in a
    clean environment: no SPARK_GRAFT_CPUS, no inherited gateway."""
    script = tmp_path / "probe.py"
    script.write_text(PROBE)
    env = {k: v for k, v in os.environ.items()
           if k != "SPARK_GRAFT_CPUS" and not k.startswith("PYSPARK_GATEWAY")}
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, env.get("PYTHONPATH")) if p)
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    out = subprocess.run([*launcher, str(script), json.dumps(extra_conf)],
                         env=env, cwd=tmp_path, capture_output=True,
                         text=True, timeout=600)
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("PROBE ")]
    assert out.returncode == 0 and lines, out.stderr[-3000:]
    return json.loads(lines[-1][len("PROBE "):])


def _spark_submit() -> str:
    from pyspark.find_spark_home import _find_spark_home
    return os.path.join(_find_spark_home(), "bin", "spark-submit")


def test_default_cpus_is_the_affinity_mask(monkeypatch):
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 1, 5})
    assert default_cpus() == 3


def test_fixture_driver_is_c1_only(spark):
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    assert C1_ONLY in list(mx.getRuntimeMXBean().getInputArguments())


def test_launched_driver_is_c1_only_and_keeps_caller_flags(tmp_path):
    # perfbench's shape: its own heap floor and tmpdir in extraJavaOptions
    tmp = str(tmp_path)
    got = _probe(tmp_path, [sys.executable], {
        "spark.driver.extraJavaOptions": f"-Xms256m -Djava.io.tmpdir={tmp}"})
    args = got["jvm_args"]
    assert C1_ONLY in args
    assert "-Xms256m" in args and f"-Djava.io.tmpdir={tmp}" in args
    # the caller's flags come later, so they win over the default
    assert args.index(C1_ONLY) < args.index("-Xms256m")
    # no cpus argument and no SPARK_GRAFT_CPUS: sized from the host
    n = len(os.sched_getaffinity(0))
    assert got["master"] == f"local[{n}]"
    assert got["shuffle_partitions"] == str(n)


def test_caller_default_java_options_replace_c1_only(tmp_path):
    got = _probe(tmp_path, [sys.executable], {
        "spark.driver.defaultJavaOptions": "-Dsession.probe=1"})
    assert "-Dsession.probe=1" in got["jvm_args"]
    assert C1_ONLY not in got["jvm_args"]


@pytest.mark.parametrize(
    "conf", [[], ["--conf", f"spark.driver.defaultJavaOptions={C1_ONLY}"]],
    ids=["default_jit", "c1_flag"])
def test_spark_submit_master_and_jit_are_honoured(tmp_path, conf):
    got = _probe(tmp_path, [_spark_submit(), "--master", "local[2]", *conf], {})
    assert got["master"] == "local[2]"
    # the JVM was running before get_spark: only spark-submit's own
    # options reach it
    assert (C1_ONLY in got["jvm_args"]) == bool(conf)
