"""Iceberg-style table reader with SnapTable / parquet fallbacks.

The north rule's input is an Iceberg table of web pages.  This sandbox
image has no Iceberg runtime jars, so the loader tries, in order:

1. the real Iceberg DataSource (taken on a cluster with
   ``spark.sql.catalog.*`` configured — snapshot/time-travel options pass
   straight through);
2. a SnapTable directory (sources/snaptable.py: the from-scratch
   snapshot/manifest metadata layer over parquet — snapshot reads, time
   travel and incremental scans work WITHOUT any jar);
3. a plain parquet directory (no snapshot semantics; requesting
   ``snapshot_id`` on one raises).

Only the read side lives here; a SnapTable is written with
``SnapTable.append``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .snaptable import SnapTable, is_snaptable


def read_table(spark: SparkSession, path_or_table: str,
               snapshot_id: int | None = None) -> DataFrame:
    """Read an Iceberg table (by catalog name or path); SnapTable or plain
    parquet fallback."""
    if is_snaptable(path_or_table):
        return SnapTable(path_or_table).read(spark, snapshot_id=snapshot_id)
    try:
        reader = spark.read.format("iceberg")
        if snapshot_id is not None:
            reader = reader.option("snapshot-id", str(snapshot_id))
        return reader.load(path_or_table)
    except Exception:
        if snapshot_id is not None:
            raise ValueError(
                "snapshot reads need the Iceberg runtime on the classpath "
                "or a SnapTable directory")
        return spark.read.parquet(path_or_table)
