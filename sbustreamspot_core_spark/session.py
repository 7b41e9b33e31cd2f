"""SparkSession factory tuned for the engine.

Local-mode defaults come from the host: ``local[N]`` over the CPUs this
process may run on, and a driver heap of half of physical memory.  On a
real cluster the same settings apply per-executor via spark-submit conf.

When ``get_spark`` launches the driver JVM itself (plain ``python``,
tests, perfbench), that JVM runs with ``-XX:TieredStopAtLevel=1``: C1
only, no C2.  A short job's C2 time goes to compiling Spark's own
planning code (JDK, Janino, Catalyst, Scala), not the query, and costs
more CPU than the executor tasks.  A long job that wants C2 back passes
its own ``spark.driver.defaultJavaOptions`` (``extra_conf`` or
``--conf``), which replaces this default; flags in
``spark.driver.extraJavaOptions`` come after it and still apply.  Under
``spark-submit`` the JVM is already running, so its JIT settings are the
ones that hold, and its ``--master`` and ``--conf`` values win over every
default ``get_spark`` sets.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# C1 only.  Measured with perfbench on 4 vCPUs: graph_suite cpu_s 91 -> 50 s
# (medians of 11 interleaved pairs), because the C2 compiler threads' CPU
# went to 0.  The trade: C1 code runs long work slower, e.g. graph_suite at
# 20x lost 15-25% wall time while its cpu_s was still lower (README "JVM
# costs").
DRIVER_JAVA_OPTIONS = "-XX:TieredStopAtLevel=1"


def _local_dir() -> str:
    d = os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark-local")
    try:
        os.makedirs(d, exist_ok=True)
    except OSError:
        d = "/tmp/spark-local"
        os.makedirs(d, exist_ok=True)
    return d


def _submitted_conf() -> dict[str, str]:
    """Spark properties set externally via ``spark-submit`` (``--master``,
    ``--conf``, spark-defaults); empty outside spark-submit.  Under
    spark-submit the gateway JVM already exists (PYSPARK_GATEWAY_PORT) and
    carries those properties; reading them here lets the builder defaults
    yield to explicit external conf instead of silently overriding it."""
    if not os.environ.get("PYSPARK_GATEWAY_PORT"):
        return {}
    try:
        # SparkConf(loadDefaults=True) only sees JVM system properties once
        # the Python side is attached to the gateway; _ensure_initialized
        # CONNECTS to the spark-submit gateway (PYSPARK_GATEWAY_PORT) rather
        # than launching a new JVM, so this is cheap and side-effect-free
        from pyspark import SparkConf
        from pyspark.context import SparkContext
        SparkContext._ensure_initialized()
        return dict(SparkConf(loadDefaults=True).getAll())
    except Exception:
        return {}


def default_cpus() -> int:
    """CPUs this process may run on (its affinity mask, not the host's
    core count): the ``local[N]`` size and shuffle partition count when
    neither ``cpus`` nor ``SPARK_GRAFT_CPUS`` is given."""
    return len(os.sched_getaffinity(0))


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Half of physical memory (``MemTotal``), in MiB, at least 1 GiB — the
    driver heap when ``SPARK_DRIVER_MEMORY`` is unset.  A fixed default
    sized for a large host gets the local-mode JVM OOM-killed on a small
    one.  Hosts without ``meminfo`` fall back to 4g."""
    try:
        with open(meminfo) as f:
            kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return "4g"
    return f"{max(1024, kb // 1024 // 2)}m"


def local_table(spark: SparkSession, rows, schema) -> DataFrame:
    """DataFrame over driver-side ``rows`` (tuples in ``schema`` order;
    ``schema`` a DDL string or StructType), built as an Arrow table.

    Same schema and nulls as ``spark.createDataFrame(rows, schema)``, but
    the plan is a ``LocalTableScan``: the list path plans a Python-RDD
    scan (``Scan ExistingRDD``) that runs an identity map in Python
    workers every time the frame is scanned."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType, _parse_datatype_string

    struct = schema if isinstance(schema, StructType) \
        else _parse_datatype_string(schema)
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow)
    return spark.createDataFrame(table, struct)


def get_spark(
    app_name: str = "sbustreamspot-core-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """The engine's session.  Every key below is a default: a value in
    ``extra_conf`` wins, and so does one spark-submit set (``--master``,
    ``--conf``, spark-defaults).  Under a submitted master, ``local[N]``'s
    N, the default parallelism and the shuffle partition count come from
    that master unless ``cpus``/``shuffle_partitions`` are passed."""
    submitted = _submitted_conf()
    own = dict(extra_conf or {})
    if cpus is None and "spark.master" not in submitted:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or default_cpus())
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.driver.memory":
            os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # local-mode shuffles are disk-bound through /tmp; tmpfs keeps the
        # shuffle at memory speed so wall-time scales with cores (on a real
        # cluster this is the network/SSD shuffle service instead)
        "spark.local.dir": _local_dir(),
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # measured (BENCH.md round 4): zstd beats lz4 only when the shuffle
        # volume saturates the memory/IO channel (64M-edge supersteps at 32
        # cores: fastest config measured); at bench-scale shuffles (2M
        # edges) its CPU cost LOSES 37.2 -> 44.8 s suite-wide.  Volume-
        # dependent, not core-count-dependent — so lz4 stays the default
        # and large-shuffle jobs pass spark.io.compression.codec=zstd
        "spark.io.compression.codec": "lz4",
        # collect_list/collect_set aggregations (CSR adjacency build,
        # triangle out-neighbor sets, chunk tables) run through
        # ObjectHashAggregate, whose default sort-based fallback after 128
        # in-memory groups per task turns every adjacency build into a
        # full sort of its input.  128k groups/task keeps them hash-based;
        # worst-case map footprint is bounded by the CSR block cap
        # (4096 targets ~ 32 KB/group) and typical degrees keep it in the
        # MBs.  Measured r7 (interleaved, tools/r7 notes): triangles
        # 12.5->9.8 s cold / 8.8->7.1 s warm, pagerank 20.6->10.4 s cold /
        # 9.1->8.0 s warm.  Deployments with unbounded per-group buffers
        # (no block cap) should pass a lower value for this key.
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold":
            str(128 * 1024),
    }
    if cpus is not None:
        conf["spark.master"] = f"local[{cpus}]"
        conf["spark.default.parallelism"] = str(cpus)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if not os.environ.get("PYSPARK_GATEWAY_PORT"):
        # outside spark-submit the driver JVM starts in getOrCreate below,
        # so JVM options set here still reach it
        conf["spark.driver.defaultJavaOptions"] = DRIVER_JAVA_OPTIONS
    builder = SparkSession.builder.appName(app_name)
    for k, v in {**conf, **own}.items():
        if k in own or k not in submitted:
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if "spark.sql.shuffle.partitions" not in {*conf, *own, *submitted}:
        # a submitted master without a cpus argument: Spark has sized the
        # default parallelism from that master
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(spark.sparkContext.defaultParallelism))
    # an explicitly-set threshold — extra_conf OR spark-submit --conf /
    # spark-defaults — wins over the hardening
    if "spark.sql.autoBroadcastJoinThreshold" not in {*own, *submitted}:
        _harden_for_small_heap(spark)
    return spark


def _harden_for_small_heap(spark: SparkSession) -> None:
    """Under ``spark-submit`` the driver JVM is already running before this
    module loads, so ``spark.driver.memory`` set here is a no-op and the
    default 1g heap applies unless --driver-memory was passed.  The only
    1g-heap failure mode the jobs have is the driver-side BUILD of broadcast
    joins in multi-join plans ("Not enough memory to build and broadcast"),
    so on a small heap disable auto-broadcast (runtime-settable) — plans
    fall back to shuffle joins and the jobs complete without extra flags."""
    try:
        max_heap = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
    except Exception:
        return
    if max_heap < 3 * 1024 ** 3:
        import warnings
        warnings.warn(
            f"driver heap {max_heap >> 20} MiB < 3 GiB: disabling "
            "auto-broadcast joins (spark.sql.autoBroadcastJoinThreshold=-1) "
            "to avoid driver-side broadcast-build OOM; pass --driver-memory "
            "4g or set the threshold explicitly to keep broadcast joins",
            stacklevel=3)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
