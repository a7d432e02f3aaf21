"""Table sinks: Iceberg when a catalog is on the classpath, parquet
otherwise (S11's serialization sinks as durable tables; SURVEY.md §7 hard
part (f)).

The production target is an Iceberg table partitioned by cell-key prefix so
Iceberg partition pruning serves the spatial equi-join (SURVEY.md §4
"spatial partition pruning").  This sandbox has no Iceberg jars, so
``write_table``/``read_table`` probe the writeTo V2 API and fall back to
partitioned parquet with identical layout semantics.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from libosmtools_spark.geom.kernels import _IY_SHIFT, _LEVEL_SHIFT


def cell_prefix_col(key_col: str = "cell_key", prefix_bits: int = 8):
    """Coarse spatial partition value: the interleaved top ``prefix_bits``
    of (iy, ix), level-relative — adjacent cells share prefixes, so range
    scans prune partitions.  2^prefix_bits distinct partitions at most.

    Level-relative matters: iy < 2^level and ix < 2^(level+1), so the top
    bits must be taken as iy >> (level-by) / ix >> (level+1-bx), not at a
    fixed absolute position (a fixed shift collapses every level-6 key to
    one constant — zero pruning)."""
    key = F.col(key_col)
    level = F.shiftright(key, _LEVEL_SHIFT).cast("double")
    iy = F.shiftright(key, _IY_SHIFT).bitwiseAND(
        F.lit((1 << (_LEVEL_SHIFT - _IY_SHIFT)) - 1).cast("long")
    ).cast("double")
    ix = key.bitwiseAND(F.lit((1 << _IY_SHIFT) - 1).cast("long")).cast("double")
    by = prefix_bits // 2
    bx = prefix_bits - by
    # column-valued shift via pow (values < 2^28 — exact in doubles)
    yq = F.floor(iy / F.pow(F.lit(2.0), F.greatest(level - by, F.lit(0.0))))
    xq = F.floor(ix / F.pow(F.lit(2.0), F.greatest(level + 1 - bx, F.lit(0.0))))
    return (yq.cast("long") * F.lit(1 << bx).cast("long") + xq.cast("long")).cast(
        "int"
    ).alias("cell_prefix")


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:  # noqa: BLE001
        return False


def write_table(
    df: DataFrame,
    name: str,
    root: str,
    partition_by: str | None = "cell_prefix",
) -> str:
    """Idempotent table write.  Iceberg (`writeTo(...).createOrReplace()`)
    when available; else overwrite parquet partitioned identically.
    Returns the path/identifier written."""
    spark = df.sparkSession
    if partition_by == "cell_prefix" and "cell_key" in df.columns:
        df = df.withColumn("cell_prefix", cell_prefix_col())
    if iceberg_available(spark):
        writer = df.writeTo(name).using("iceberg")
        if partition_by and partition_by in df.columns:
            writer = writer.partitionedBy(F.col(partition_by))
        writer.createOrReplace()
        return name
    path = os.path.join(root, name)
    w = df.write.mode("overwrite")
    if partition_by and partition_by in df.columns:
        w = w.partitionBy(partition_by)
    w.parquet(path)
    return path


def read_table(spark: SparkSession, name: str, root: str) -> DataFrame:
    if iceberg_available(spark):
        try:
            return spark.read.table(name)
        except Exception:  # noqa: BLE001
            pass
    return spark.read.parquet(os.path.join(root, name))
