"""SparkSession factory tuned for the engine.

Local-mode defaults are sized for the sandbox (local[N] threads, single JVM);
on a real cluster the same settings apply per-executor via spark-submit conf.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def _local_dir() -> str:
    d = os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark-local")
    try:
        os.makedirs(d, exist_ok=True)
    except OSError:
        d = "/tmp/spark-local"
        os.makedirs(d, exist_ok=True)
    return d


def _submit_conf_value(key: str) -> str | None:
    """Value of ``key`` set externally via ``spark-submit --conf`` /
    spark-defaults, if any.  Under spark-submit the gateway JVM already
    exists (PYSPARK_GATEWAY_PORT) and carries those properties; reading
    them here lets the builder defaults yield to explicit external conf
    instead of silently overriding it."""
    if not os.environ.get("PYSPARK_GATEWAY_PORT"):
        return None
    try:
        # SparkConf(loadDefaults=True) only sees JVM system properties once
        # the Python side is attached to the gateway; _ensure_initialized
        # CONNECTS to the spark-submit gateway (PYSPARK_GATEWAY_PORT) rather
        # than launching a new JVM, so this is cheap and side-effect-free
        from pyspark import SparkConf
        from pyspark.context import SparkContext
        SparkContext._ensure_initialized()
        return SparkConf(loadDefaults=True).get(key, None)
    except Exception:
        return None


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
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    ext_broadcast = _submit_conf_value("spark.sql.autoBroadcastJoinThreshold")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # local-mode shuffles are disk-bound through /tmp; tmpfs keeps the
        # shuffle at memory speed so wall-time scales with cores (on a real
        # cluster this is the network/SSD shuffle service instead)
        .config("spark.local.dir", _local_dir())
        .config("spark.sql.autoBroadcastJoinThreshold",
                ext_broadcast or str(64 * 1024 * 1024))
        # measured (BENCH.md round 4): zstd beats lz4 only when the shuffle
        # volume saturates the memory/IO channel (64M-edge supersteps at 32
        # cores: fastest config measured); at bench-scale shuffles (2M
        # edges) its CPU cost LOSES 37.2 -> 44.8 s suite-wide.  Volume-
        # dependent, not core-count-dependent — so lz4 stays the default
        # and large-shuffle jobs opt in via SPARK_GRAFT_CODEC=zstd
        .config("spark.io.compression.codec",
                os.environ.get("SPARK_GRAFT_CODEC", "lz4"))
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
        # (no block cap) should lower it via the env knob.
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
                os.environ.get("SPARK_GRAFT_OBJ_AGG_FALLBACK", str(128 * 1024)))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # an explicitly-set threshold — extra_conf OR spark-submit --conf /
    # spark-defaults — wins over the hardening
    if ("spark.sql.autoBroadcastJoinThreshold" not in (extra_conf or {})
            and ext_broadcast is None):
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
