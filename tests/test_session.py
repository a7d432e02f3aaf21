"""Scan plan of the engine's session: file scans use Spark's own split
sizing (one wave of ``spark.default.parallelism``), with no session-wide
``minPartitionNum`` floor that would cut one-row-group files into empty
byte ranges, each of them a Python task in the flagship kernel.  The Arrow
batch size and driver GC period are module constants of ``session``."""

import base64
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

#: bytes of incompressible text per file: above the 4 MB openCostInBytes,
#: so a floor of cpus × 4 splits would cut each file in two
FILE_BYTES = 5 * 1024 * 1024
N_FILES = 8
ROWS = 500


def _partition_rows(df) -> tuple[int, list[int]]:
    """(planned partitions, row count of every non-empty partition)."""
    counts = df.groupBy(F.spark_partition_id().alias("p")).count().collect()
    return df.rdd.getNumPartitions(), [r["count"] for r in counts]


@pytest.fixture(scope="module")
def one_row_group_pages(tmp_path_factory):
    """8 pyarrow-written (url, text) files of one row group each."""
    root = tmp_path_factory.mktemp("one_rg") / "pages.parquet"
    root.mkdir()
    rng = np.random.default_rng(7)
    text_bytes = FILE_BYTES // ROWS
    for f in range(N_FILES):
        urls = [f"https://example.org/{f}/{i}" for i in range(ROWS)]
        texts = [
            f"geo:{rng.uniform(-60, 60):.6f},{rng.uniform(-170, 170):.6f} "
            + base64.b64encode(rng.bytes(text_bytes * 3 // 4)).decode()
            for _ in range(ROWS)
        ]
        pq.write_table(
            pa.table({"url": urls, "text": texts}),
            str(root / f"part-{f:02d}.parquet"),
            row_group_size=ROWS,
            compression="none",
        )
    for f in root.iterdir():
        assert pq.ParquetFile(str(f)).num_row_groups == 1
        assert f.stat().st_size > FILE_BYTES
    return str(root)


def test_session_sets_no_scan_floor(spark):
    assert spark.conf.get("spark.sql.files.minPartitionNum", None) is None


def test_session_settings_are_constants(spark):
    from libosmtools_spark import session

    assert spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch") == str(
        session.ARROW_MAX_RECORDS_PER_BATCH
    )
    assert spark.conf.get("spark.sql.execution.arrow.maxBytesPerBatch") == str(
        session.ARROW_MAX_BYTES_PER_BATCH
    )
    assert spark.conf.get("spark.cleaner.periodicGC.interval") == session.PERIODIC_GC_INTERVAL


def test_one_row_group_files_are_one_task_each(spark, sf_smoke, one_row_group_pages):
    from libosmtools_spark.pipeline import SpatialEngine

    pages = spark.read.parquet(one_row_group_pages)
    eng = SpatialEngine.from_fixtures(spark, sf_smoke)
    for df in (pages, eng.flagship_kernel(pages)):
        n, rows = _partition_rows(df)
        assert n == N_FILES
        assert len(rows) == N_FILES and sum(rows) == N_FILES * ROWS


def test_many_small_files_spread_over_every_core(spark, tmp_path):
    path = str(tmp_path / "small.parquet")
    spark.range(0, 64 * 100, 1, 64).write.parquet(path)
    assert len([f for f in os.listdir(path) if f.endswith(".parquet")]) == 64

    n, rows = _partition_rows(spark.read.parquet(path))
    cpus = int(spark.conf.get("spark.default.parallelism"))
    assert n >= cpus
    assert len(rows) == n and sum(rows) == 64 * 100
