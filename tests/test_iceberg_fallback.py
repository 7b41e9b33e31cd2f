"""Iceberg source: parquet fallback path (no Iceberg jars in this image)."""

import os

from sbustreamspot_core_spark.sources.iceberg import read_table


def test_parquet_fallback_roundtrip(spark, tmp_ckpt):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    path = os.path.join(tmp_ckpt, "tbl")
    df.write.parquet(path)
    back = read_table(spark, path)
    assert {(r.id, r.v) for r in back.collect()} == {(1, "a"), (2, "b")}
