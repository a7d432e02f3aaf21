"""Catalog sink fallback, staged flagship checkpoints."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F


class TestCatalogSink:
    def test_parquet_fallback_roundtrip(self, spark, sf_smoke, tmp_path):
        from libosmtools_spark.pipeline import SpatialEngine
        from libosmtools_spark.run.catalog import iceberg_available, read_table, write_table

        assert not iceberg_available(spark)  # sandbox has no iceberg jars
        eng = SpatialEngine.from_fixtures(spark, sf_smoke)
        pages = spark.read.parquet(os.path.join(sf_smoke, "pages.parquet")).limit(300)
        out = eng.flagship_map(pages).select("url", "cell_key", "cell_id")
        write_table(out, "page_cells", str(tmp_path))
        back = read_table(spark, "page_cells", str(tmp_path)).drop("cell_prefix")
        assert back.exceptAll(out).count() == 0
        assert out.exceptAll(back).count() == 0
        # partitioned layout on disk
        parts = [p for p in os.listdir(tmp_path / "page_cells") if p.startswith("cell_prefix=")]
        assert parts

    def test_prefix_spreads_level6_keys(self, spark):
        """Regression: the prefix must be level-relative — a fixed absolute
        shift mapped every level-6 key to one constant, collapsing the
        'partitioned' table to a single partition (zero pruning)."""
        import numpy as np

        from libosmtools_spark.geom import kernels as K
        from libosmtools_spark.run.catalog import cell_prefix_col

        rng = np.random.default_rng(11)
        lat = rng.uniform(-85, 85, 4000)
        lon = rng.uniform(-180, 180, 4000)
        keys = K.cell_key(lat, lon, 6)
        df = spark.createDataFrame(pd.DataFrame({"cell_key": keys}))
        got = df.select(cell_prefix_col(prefix_bits=8)).toPandas()["cell_prefix"]
        n_distinct = got.nunique()
        assert n_distinct > 32, n_distinct  # well-spread over ≤256 buckets
        assert got.between(0, 255).all()
        # nearby cells share a prefix (locality → range-scan pruning)
        k1 = K.cell_key(np.array([10.0]), np.array([20.0]), 6)
        k2 = K.cell_key(np.array([10.1]), np.array([20.1]), 6)
        d2 = spark.createDataFrame(
            pd.DataFrame({"cell_key": np.concatenate([k1, k2])})
        ).select(cell_prefix_col(prefix_bits=8)).toPandas()["cell_prefix"]
        assert d2.iloc[0] == d2.iloc[1]


class TestStatefulDedupStream:
    def test_suppresses_duplicates_across_batches(self, spark, tmp_path):
        """The stateful first-event-per-user stream over two files with
        identical events: the second micro-batch repeats every user and is
        fully suppressed, so each user appears once, with its first event."""
        import shutil

        from libosmtools_spark.streaming.geostream import drain_to_memory, stream_first_event_per_user
        from tests.test_entry import SF_DIR

        src = os.path.join(SF_DIR, "events.parquet")
        d = tmp_path / "dup_events"
        d.mkdir()
        shutil.copy(src, d / "a.parquet")
        shutil.copy(src, d / "b.parquet")
        got = drain_to_memory(spark, str(d), stream_first_event_per_user, "append", "t_dedup2").toPandas()
        ev = pd.read_parquet(src).sort_values(["ts", "event_id"])
        want = ev.groupby("user_id").head(1)
        assert not got["user_id"].duplicated().any()
        assert len(got) == len(want)
        assert dict(zip(got["user_id"], got["event_id"])) == dict(zip(want["user_id"], want["event_id"]))


if __name__ == "__main__":
    import sys

    sys.exit(pytest.main([__file__, "-x", "-q"]))


class TestStagedFlagship:
    def test_staged_matches_inmemory_and_resumes(self, spark, sf_smoke, tmp_path):
        """run_flagship_staged == flagship_map output; a second run with an
        unchanged input fingerprint rebuilds NOTHING (manifest unchanged);
        and the staged pipeline scans pages exactly once per cold build."""
        import os
        import time

        from libosmtools_spark.pipeline import SpatialEngine, run_flagship_staged

        root = str(tmp_path / "ckpt")
        got = run_flagship_staged(spark, sf_smoke, root).toPandas()

        eng = SpatialEngine.from_fixtures(spark, sf_smoke)
        pages = spark.read.parquet(os.path.join(sf_smoke, "pages.parquet"))
        want = eng.flagship_map(pages).toPandas()
        key = ["url"]
        g = got.sort_values(key).reset_index(drop=True)
        w = want.sort_values(key).reset_index(drop=True)
        assert (g["cell_id"].to_numpy() == w["cell_id"].to_numpy()).all()
        assert (g["region_ids"].apply(list) == w["region_ids"].apply(list)).all()
        # the driver-built dictionary is one partition: its stage is one file
        cells_dir = os.path.join(root, "cells")
        assert sum(f.endswith(".parquet") for f in os.listdir(cells_dir)) == 1

        # resume: manifest must not grow (all three stages skipped)
        manifest = os.path.join(root, "manifest.jsonl")
        before = open(manifest).read()
        t0 = time.monotonic()
        again = run_flagship_staged(spark, sf_smoke, root)
        assert again.count() == len(got)
        assert open(manifest).read() == before  # no stage re-ran

    def test_rebuilds_stage_of_older_format(self, spark, sf_smoke, tmp_path):
        """A checkpoint root whose ``page_regions`` stage was written in an
        older format and that stopped before ``cells`` is rebuilt on resume,
        not read back: the result equals flagship_map.  The older formats:
        no dictionary-feed flag (keyed by the bare input fingerprint), and
        the per-batch ``batch_unique`` flag (keyed ``kernel-batch-unique``)."""
        import os

        from libosmtools_spark.joins.mapjoin import TASK_UNIQUE
        from libosmtools_spark.pipeline import SpatialEngine, run_flagship_staged
        from libosmtools_spark.run.checkpoint import CheckpointManager, input_fingerprint

        pages_path = os.path.join(sf_smoke, "pages.parquet")
        pages = spark.read.parquet(pages_path)
        eng = SpatialEngine.from_fixtures(spark, sf_smoke)
        fp = input_fingerprint(spark, pages_path)
        want = eng.flagship_map(pages).toPandas()
        w = want.sort_values("url").reset_index(drop=True)
        older = {
            fp: lambda: eng.flagship_kernel(pages).drop(TASK_UNIQUE),
            f"{fp}:kernel-batch-unique": lambda: eng.flagship_kernel(pages).withColumnRenamed(
                TASK_UNIQUE, "batch_unique"
            ),
        }
        for i, (key, stage) in enumerate(older.items()):
            root = str(tmp_path / f"ckpt_old{i}")
            CheckpointManager(spark, root).stage("page_regions", key, stage)

            got = run_flagship_staged(spark, sf_smoke, root).toPandas()
            g = got.sort_values("url").reset_index(drop=True)
            assert (g["url"] == w["url"]).all()
            assert (g["cell_id"].to_numpy() == w["cell_id"].to_numpy()).all()
            assert (g["region_ids"].apply(list) == w["region_ids"].apply(list)).all()
            cols = spark.read.parquet(os.path.join(root, "page_regions")).columns
            assert TASK_UNIQUE in cols and "batch_unique" not in cols
