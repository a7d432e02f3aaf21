"""Adaptive multi-level cell index (G4's quadtree recursion) — parity with
the flat index and boundary-linear size."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from libosmtools_spark.geom import kernels as K
from libosmtools_spark.geom.kernels import _LEVEL_SHIFT


class TestAdaptiveKernel:
    def test_partition_property_rect(self):
        ring = K.rect_ring(10.0, 10.0, 20.0, 20.0)
        keys, full = K.adaptive_covering_cells([ring], [], base_level=4, max_level=8)
        # probe points strictly inside: each must be covered by EXACTLY one cell
        rng = np.random.default_rng(11)
        lats = rng.uniform(10.01, 19.99, 300)
        lons = rng.uniform(10.01, 19.99, 300)
        mn_lat, mx_lat, mn_lon, mx_lon = K.cell_bounds(keys)
        for a, o in zip(lats, lons):
            inside = (a >= mn_lat) & (a < mx_lat) & (o >= mn_lon) & (o < mx_lon)
            assert inside.sum() == 1, (a, o, inside.sum())

    def test_full_cells_strictly_inside(self):
        ring = K.rect_ring(10.0, 10.0, 20.0, 20.0)
        keys, full = K.adaptive_covering_cells([ring], [], 4, 8)
        mn_lat, mx_lat, mn_lon, mx_lon = K.cell_bounds(keys[full])
        assert (mn_lat >= 10.0).all() and (mx_lat <= 20.0).all()
        assert (mn_lon >= 10.0).all() and (mx_lon <= 20.0).all()

    def test_boundary_linear_size(self):
        """For a large region, the adaptive index is far smaller than the
        flat fine-level index (boundary-linear vs area-quadratic)."""
        ring = K.rect_ring(-40.0, -40.0, 40.0, 40.0)
        flat_keys, _ = K.adaptive_covering_cells([ring], [], 8, 8)
        ad_keys, ad_full = K.adaptive_covering_cells([ring], [], 3, 8)
        assert len(ad_keys) < len(flat_keys) / 5
        # partial leaves only at max_level
        levels = np.asarray(ad_keys) >> _LEVEL_SHIFT
        assert (levels[~ad_full] == 8).all()

    def test_levels_range(self):
        ring = K.rect_ring(0.0, 0.0, 3.0, 3.0)
        keys, full = K.adaptive_covering_cells([ring], [], 4, 9)
        levels = np.asarray(keys) >> _LEVEL_SHIFT
        assert levels.min() >= 4 and levels.max() <= 9


class TestAdaptiveJoin:
    def test_matches_flat_join(self, spark, sf_smoke):
        from libosmtools_spark.index.grid import build_adaptive_cell_index
        from libosmtools_spark.joins.spatial import geocode_pages, spatial_join_adaptive
        from libosmtools_spark.pipeline import SpatialEngine

        eng = SpatialEngine.from_fixtures(spark, sf_smoke)  # adaptive default 6..10
        pages = spark.read.parquet(os.path.join(sf_smoke, "pages.parquet")).limit(800)
        pts = geocode_pages(pages).select("url", "lat", "lon")

        adaptive = build_adaptive_cell_index(
            eng.region_rings, base_level=3, max_level=8, rings_pdf=eng.region_rings.toPandas()
        )
        got = (
            spatial_join_adaptive(pts, adaptive, eng.rings_bcast, 3, 8)
            .select("url", "region_id")
            .toPandas()
        )
        want = (
            eng.flagship_kernel(pages)
            .select("url", F.explode("region_ids").alias("region_id"))
            .toPandas()
        )
        g = set(map(tuple, got.itertuples(index=False)))
        w = set(map(tuple, want.itertuples(index=False)))
        assert g == w

    def test_no_duplicate_hits(self, spark, sf_smoke):
        from libosmtools_spark.index.grid import build_adaptive_cell_index
        from libosmtools_spark.joins.spatial import geocode_pages, spatial_join_adaptive
        from libosmtools_spark.pipeline import SpatialEngine

        eng = SpatialEngine.from_fixtures(spark, sf_smoke)
        pages = spark.read.parquet(os.path.join(sf_smoke, "pages.parquet")).limit(500)
        pts = geocode_pages(pages).select("url", "lat", "lon")
        adaptive = build_adaptive_cell_index(eng.region_rings, 3, 8, eng.region_rings.toPandas())
        got = spatial_join_adaptive(pts, adaptive, eng.rings_bcast, 3, 8).select("url", "region_id").toPandas()
        assert not got.duplicated(["url", "region_id"]).any()


if __name__ == "__main__":
    import sys

    sys.exit(pytest.main([__file__, "-x", "-q"]))


class TestAdaptiveShuffleJoin:
    def test_non_broadcast_matches(self, spark, sf_smoke):
        """broadcast_index=False (shuffle join on probe key, for stores past
        broadcast size) produces the identical hit set, and its probe join
        shuffles even though both sides fit the broadcast threshold."""
        import os

        from libosmtools_spark.pipeline import SpatialEngine
        from libosmtools_spark.joins.spatial import geocode_pages, spatial_join_adaptive

        eng = SpatialEngine.from_fixtures(spark, sf_smoke)
        pages = spark.read.parquet(os.path.join(sf_smoke, "pages.parquet")).limit(400)
        pts = geocode_pages(pages).select("url", "lat", "lon")
        a = spatial_join_adaptive(pts, eng.cell_index, eng.rings_bcast,
                                  eng.level, eng.max_level).select("url", "region_id")
        b = spatial_join_adaptive(pts, eng.cell_index, eng.rings_bcast,
                                  eng.level, eng.max_level,
                                  broadcast_index=False).select("url", "region_id")
        assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
        b.collect()  # the final adaptive plan
        plan = b._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan and "ShuffledHashJoin" in plan
