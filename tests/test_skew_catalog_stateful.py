"""Salting, catalog sink fallback, stateful streaming dedup."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F


class TestSalting:
    def test_salted_count_matches_plain(self, spark, sf_smoke):
        from libosmtools_spark.joins.skew import salted_count, top_hot_keys
        from libosmtools_spark.joins.spatial import geocode_pages, with_cell_key

        pages = spark.read.parquet(os.path.join(sf_smoke, "pages.parquet"))
        pts = with_cell_key(geocode_pages(pages)).select("url", "cell_key")
        hot = top_hot_keys(pts, "cell_key", top_k=4)
        assert hot, "fixture must have hot cells"
        got = salted_count(pts, "cell_key", entropy="url", hot_keys=hot).toPandas()
        want = pts.groupBy("cell_key").count().toPandas()
        m = got.merge(want, on="cell_key")
        assert (m["n"] == m["count"]).all()
        assert len(got) == len(want)

    def test_replicated_join_matches_plain(self, spark, sf_smoke):
        from libosmtools_spark.joins.skew import replicate_broadcast_join, top_hot_keys
        from libosmtools_spark.joins.spatial import geocode_pages, with_cell_key

        pages = spark.read.parquet(os.path.join(sf_smoke, "pages.parquet")).limit(500)
        pts = with_cell_key(geocode_pages(pages)).select("url", "cell_key")
        dim = pts.groupBy("cell_key").count().withColumnRenamed("count", "n_in_cell")
        hot = top_hot_keys(pts, "cell_key", top_k=3)
        got = replicate_broadcast_join(pts, dim, "cell_key", hot, n_salt=4, entropy="url").toPandas()
        want = pts.join(dim, "cell_key").toPandas()
        g = got.sort_values(["url"]).reset_index(drop=True)[["url", "cell_key", "n_in_cell"]]
        w = want.sort_values(["url"]).reset_index(drop=True)[["url", "cell_key", "n_in_cell"]]
        pd.testing.assert_frame_equal(g, w, check_dtype=False)


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

    def test_remap_sink_roundtrip(self, spark, sf_smoke, tmp_path):
        """S11 gh-arrangement v2 remap sink
        (/root/reference/src/OsmTriangulationRegionStore.cpp:1160-1225):
        mapped ids translate, unmapped collapse to |mapping| (myNullCellId),
        inverse table gives one representative per gh id."""
        from libosmtools_spark.pipeline import SpatialEngine
        from libosmtools_spark.run.catalog import read_table, write_remapped_cells

        eng = SpatialEngine.from_fixtures(spark, sf_smoke)
        pages = spark.read.parquet(os.path.join(sf_smoke, "pages.parquet")).limit(400)
        cells = eng.kernel_cells(eng.flagship_kernel(pages)).select("cell_key", "cell_id")
        ids = sorted(r.cell_id for r in cells.select("cell_id").distinct().collect())
        # map all but the last id, reversing order (a nontrivial remap)
        mapped = ids[:-1]
        mapping = spark.createDataFrame(
            [(int(m), int(g)) for g, m in enumerate(reversed(mapped))],
            "my_cell_id int, gh_cell_id int",
        )
        write_remapped_cells(cells, mapping, "gh_cells", str(tmp_path))
        back = read_table(spark, "gh_cells", str(tmp_path)).toPandas()
        n_null = len(mapped)
        want = {m: g for g, m in enumerate(reversed(mapped))}
        for _, row in back.iterrows():
            assert row["gh_cell_id"] == want.get(row["cell_id"], n_null)
        inv = read_table(spark, "gh_cells_inverse", str(tmp_path)).toPandas()
        assert sorted(inv["gh_cell_id"]) == sorted(set(want.values()) & set(
            back["gh_cell_id"]
        ))
        # every representative actually belongs to its gh cell
        merged = inv.merge(
            back, left_on=["gh_cell_id", "rep_cell_key"], right_on=["gh_cell_id", "cell_key"]
        )
        assert len(merged) == len(inv)

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
    def test_first_seen_dedup(self, spark, sf_smoke):
        from libosmtools_spark.streaming.geostream import run_dedup_stream_to_memory

        pages_file = os.path.join(sf_smoke, "pages.parquet")
        got = run_dedup_stream_to_memory(spark, pages_file, query_name="t_dedup").toPandas()
        static = spark.read.parquet(pages_file).toPandas()
        # fixture urls are unique → output == input urls; the operator's
        # suppression is exercised via the duplicated stream below
        assert set(got["url"]) == set(static["url"])

    def test_suppresses_duplicates_across_batches(self, spark, sf_smoke, tmp_path):
        import shutil

        # two files with identical urls → second batch fully suppressed
        src = os.path.join(sf_smoke, "pages.parquet")
        d = tmp_path / "dup_stream"
        d.mkdir()
        shutil.copy(src, d / "a.parquet")
        shutil.copy(src, d / "b.parquet")
        from libosmtools_spark.streaming.geostream import run_dedup_stream_to_memory

        got = run_dedup_stream_to_memory(spark, str(d), query_name="t_dedup2").toPandas()
        static = spark.read.parquet(src).toPandas()
        assert len(got) == len(static)
        assert not got["url"].duplicated().any()


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
