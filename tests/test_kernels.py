"""Unit tests for the pure-numpy geometry kernels (SURVEY.md §5 item 1) and
the JVM ring and distance columns."""

import numpy as np
import pytest

# numeric kernels must be warning-clean (VERDICT r4 item 6): any
# RuntimeWarning from the numpy kernels fails these modules outright
pytestmark = pytest.mark.filterwarnings("error::RuntimeWarning")

from libosmtools_spark.geom import kernels as K


def brute_pip(lat, lon, ring):
    """Independent scalar ray-cast oracle (different formulation)."""
    inside = False
    for (y1, x1), (y2, x2) in zip(ring[:-1], ring[1:]):
        if (y1 <= lat) != (y2 <= lat):
            xi = x1 + (lat - y1) / (y2 - y1) * (x2 - x1)
            if lon < xi:
                inside = not inside
    return inside


class TestCellKey:
    def test_roundtrip(self):
        rng = np.random.default_rng(42)
        lat = rng.uniform(-90, 90, 1000)
        lon = rng.uniform(-180, 180, 1000)
        for level in (0, 3, 8, 15, 26):
            keys = K.cell_key(lat, lon, level)
            lvl, iy, ix = K.unpack_key(keys)
            assert (lvl == level).all()
            re = K.pack_key(level, iy, ix)
            assert (re == keys).all()
            mn_lat, mx_lat, mn_lon, mx_lon = K.cell_bounds(keys)
            assert (lat >= mn_lat).all() and (lat <= mx_lat).all()
            assert (lon >= mn_lon).all() and (lon <= mx_lon).all()

    def test_edge_points(self):
        # poles and antimeridian clamp into valid cells
        keys = K.cell_key([90.0, -90.0, 0.0, 0.0], [0.0, 0.0, 180.0, -180.0], 5)
        lvl, iy, ix = K.unpack_key(keys)
        assert (iy >= 0).all() and (iy < 2**5).all()
        assert (ix >= 0).all() and (ix < 2**6).all()
        # lon=180 wraps to -180's cell
        assert keys[2] == keys[3]

    def test_keys_positive_and_distinct_levels(self):
        k5 = K.cell_key([10.0], [10.0], 5)[0]
        k6 = K.cell_key([10.0], [10.0], 6)[0]
        assert k5 > 0 and k6 > 0 and k5 != k6

    def test_parent_child(self):
        """The 2x2 children of a key (the split ``refine_until_good``
        writes with key arithmetic) are the cells whose centers key back to
        it one level up."""
        key = K.cell_key([48.1], [11.5], 10)[0]
        _, iy, ix = K.unpack_key(key)
        ch = [K.pack_key(11, 2 * iy + dy, 2 * ix + dx) for dy in (0, 1) for dx in (0, 1)]
        assert len(set(ch)) == 4
        clat, clon = K.cell_center(np.array(ch))
        assert (K.cell_key(clat, clon, 10) == key).all()
        assert (K.cell_key(clat, clon, 11) == np.array(ch)).all()

    @staticmethod
    def _ring(spark, key, k):
        from pyspark.sql import functions as F

        from libosmtools_spark.geom.columns import ring_keys_col

        df = spark.createDataFrame([(int(key),)], "cell_key long")
        return df.select(ring_keys_col(F.col("cell_key"), k).alias("r")).first().r

    def test_ring_k0_and_k1(self, spark):
        key = int(K.cell_key([48.0], [11.0], 8)[0])
        assert self._ring(spark, key, 0) == [key]
        r1 = self._ring(spark, key, 1)
        assert len(r1) == 9 and key in r1

    def test_ring_wraps_lon(self, spark):
        key = int(K.cell_key([0.0], [-179.9], 4)[0])
        r = self._ring(spark, key, 1)
        assert len(r) == 9  # wrapped across the antimeridian, no loss
        _, _, ix = K.unpack_key(np.array(r))
        assert set(ix.tolist()) == {31, 0, 1}  # nlon = 32 at level 4

    def test_ring_clamps_at_pole(self, spark):
        key = int(K.cell_key([89.9], [0.0], 4)[0])
        r = self._ring(spark, key, 1)
        assert len(r) == 6  # top row: 2 lat rows x 3 lon cols


class TestSnap:
    def test_idempotent(self):
        rng = np.random.default_rng(1)
        x = rng.uniform(-180, 180, 1000)
        s = K.snap(x)
        assert (K.snap(s) == s).all()
        assert np.abs(s - x).max() <= 5e-7 + 1e-12


class TestPIP:
    def test_against_brute_oracle(self):
        rng = np.random.default_rng(7)
        # random simple (star-shaped) polygon around a center
        ang = np.sort(rng.uniform(0, 2 * np.pi, 12))
        rad = rng.uniform(1.0, 5.0, 12)
        ring = np.stack([10 + rad * np.sin(ang), 20 + rad * np.cos(ang)], axis=1)
        ring = np.vstack([ring, ring[:1]])
        ring = K.snap(ring)
        lats = K.snap(rng.uniform(0, 20, 500))
        lons = K.snap(rng.uniform(10, 30, 500))
        got = K.point_in_ring(lats, lons, ring)
        want = np.array([brute_pip(a, o, ring) for a, o in zip(lats, lons)])
        assert (got == want).all()

    def test_hole_semantics(self):
        outer = K.rect_ring(0, 0, 10, 10)
        hole = K.rect_ring(4, 4, 6, 6)
        lats = np.array([5.0, 1.0, 11.0, 4.5])
        lons = np.array([5.0, 1.0, 5.0, 5.5])
        got = K.point_in_rings(lats, lons, [outer], [hole])
        assert list(got) == [False, True, False, False]

    def test_vertex_and_edge_points_deterministic(self):
        ring = K.rect_ring(0, 0, 10, 10)
        pts_lat = np.array([0.0, 10.0, 0.0, 5.0, 5.0, 0.0])
        pts_lon = np.array([0.0, 10.0, 10.0, 0.0, 10.0, 5.0])
        got1 = K.point_in_ring(pts_lat, pts_lon, ring)
        got2 = K.point_in_ring(pts_lat, pts_lon, ring)
        assert (got1 == got2).all()
        # half-open rule: bottom-left vertex in, top-right out
        assert got1[0] == True  # noqa: E712
        assert got1[1] == False  # noqa: E712

    def test_multipolygon_union(self):
        a = K.rect_ring(0, 0, 1, 1)
        b = K.rect_ring(5, 5, 6, 6)
        got = K.point_in_rings([0.5, 5.5, 3.0], [0.5, 5.5, 3.0], [a, b], [])
        assert list(got) == [True, True, False]


class TestSegRect:
    def test_cases(self):
        # crossing, inside, outside, touching edge
        y1 = np.array([-1.0, 0.25, 5.0, 0.0])
        x1 = np.array([0.5, 0.25, 5.0, -1.0])
        y2 = np.array([2.0, 0.75, 6.0, 0.0])
        x2 = np.array([0.5, 0.75, 6.0, 2.0])
        got = K.segment_intersects_rect(y1, x1, y2, x2, 0.0, 1.0, 0.0, 1.0)
        assert list(got) == [True, True, False, True]


class TestAntimeridian:
    def test_unwrap_identity_for_normal_rings(self):
        ring = K.rect_ring(0.0, 10.0, 5.0, 20.0)
        outs, inns = K.unwrap_rings([ring], [])
        assert outs[0] is ring  # same object — bit-exact passthrough

    def test_unwrap_normalized_crossing_ring(self):
        # ring stored NORMALIZED (jump form): 178 → -178 means crossing
        ring = np.array(
            [[0.0, 178.0], [0.0, -178.0], [5.0, -178.0], [5.0, 178.0], [0.0, 178.0]]
        )
        outs, _ = K.unwrap_rings([ring], [])
        lons = outs[0][:, 1]
        assert (np.abs(np.diff(lons)) < 180.0).all()
        # continuous frame extends past the ±180 line on one side
        assert lons.max() > 180.0 or lons.min() < -180.0

    def test_touching_region_has_coverage(self):
        # the round-3 hole: rect reaching exactly +180 lost ALL cells
        ring = K.rect_ring(0.0, 175.0, 1.0, 180.0)
        keys, _ = K.adaptive_covering_cells([ring], [], 6, 6)
        assert keys.size > 0
        probe = K.cell_key(np.array([0.5]), np.array([177.5]), 6)
        assert np.isin(probe, keys).all()

    def test_crossing_region_covers_both_sides(self):
        ring = K.rect_ring(10.0, 172.0, 20.0, 188.0)  # crosses: 172 → -172
        for keys, full in (
            K.adaptive_covering_cells([ring], [], 6, 6),
            K.adaptive_covering_cells([ring], [], 6, 9),
        ):
            assert keys.size > 0
            _, _, ix = K.unpack_key(keys)
            lvl = keys >> K._LEVEL_SHIFT
            # wrapped keys are in-range at every level
            assert (ix < (np.int64(2) << lvl)).all() and (ix >= 0).all()
            # probe points on both sides of the line resolve to covered cells
            lats = np.array([15.0, 15.0, 15.0, 15.0])
            lons = np.array([175.0, 179.9, -179.9, -175.0])
            hit = np.zeros(4, dtype=bool)
            for lv in sorted({int(v) for v in lvl}):
                hit |= np.isin(K.cell_key(lats, lons, lv), keys)
            assert hit.all()
            # and a point far away does not
            far = K.cell_key(np.array([15.0]), np.array([0.0]), 6)
            assert not np.isin(far, keys).any()

    def test_pip_frame_shift_for_wrapped_region(self):
        ring = K.rect_ring(10.0, 172.0, 20.0, 188.0)
        (outs, inns) = K.unwrap_rings([ring], [])
        lats = np.array([15.0, 15.0, 15.0, 15.0])
        lons = np.array([175.0, -179.0, -170.0, 170.0])  # -179 ≡ 181 inside
        got = K.point_in_rings(lats, lons, outs, inns)
        assert list(got) == [True, True, False, False]


class TestDistances:
    """The JVM distance columns (``geom.columns``)."""

    @staticmethod
    def _eval(spark, fn, *coords):
        from pyspark.sql import functions as F

        return spark.range(1).select(fn(*(F.lit(float(c)) for c in coords)).alias("d")).first().d

    def test_haversine_known(self, spark):
        from libosmtools_spark.geom.columns import haversine_m_col

        # equator degree ≈ 111.19 km
        d = self._eval(spark, haversine_m_col, 0.0, 0.0, 0.0, 1.0)
        assert abs(d - 111_195) < 300

    def test_sq_euclid_exact(self, spark):
        from libosmtools_spark.geom.columns import sq_euclid_deg_col, wrap_sq_euclid_deg_col

        assert self._eval(spark, sq_euclid_deg_col, 1.0, 2.0, 4.0, 6.0) == 9.0 + 16.0
        # wrapped: Δlon across ±180° is 0.5 + 0.5, not 359
        assert self._eval(spark, wrap_sq_euclid_deg_col, 0.0, 179.5, 0.0, -179.5) == 1.0
        assert self._eval(spark, sq_euclid_deg_col, 0.0, 179.5, 0.0, -179.5) == 359.0 * 359.0


class TestCoveringCells:
    def test_rect_coverage_exact(self):
        # rect spanning several level-6 cells (cell size 2.8125°)
        ring = K.rect_ring(10.0, 10.0, 20.0, 20.0)
        keys, full = K.adaptive_covering_cells([ring], [], 6, 6)
        assert keys.size > 0
        # every full cell's bounds lie strictly inside the rect
        mn_lat, mx_lat, mn_lon, mx_lon = K.cell_bounds(keys[full])
        assert (mn_lat >= 10.0).all() and (mx_lat <= 20.0).all()
        assert (mn_lon >= 10.0).all() and (mx_lon <= 20.0).all()
        # centers of all overlap cells either inside rect or cell touches boundary
        assert full.sum() >= 1
        # the union of covering cells contains the rect: probe random points
        rng = np.random.default_rng(3)
        lats = rng.uniform(10.01, 19.99, 200)
        lons = rng.uniform(10.01, 19.99, 200)
        probe = K.cell_key(lats, lons, 6)
        assert np.isin(probe, keys).all()

    def test_full_cells_pass_pip(self):
        ring = K.rect_ring(0.0, 0.0, 45.0, 45.0)
        keys, full = K.adaptive_covering_cells([ring], [], 4, 4)
        clat, clon = K.cell_center(keys[full])
        assert K.point_in_ring(clat, clon, ring).all()


if __name__ == "__main__":
    import sys

    sys.exit(pytest.main([__file__, "-x", "-q"]))


class TestCellKeysMulti:
    def test_bit_identical_to_per_level(self):
        """The shift-derived multi-level keys must equal per-level cell_key
        bit-for-bit, including boundary clamps and adversarial near-edge
        coordinates (nested-floor identity over exact 2^L scalings)."""
        rng = np.random.default_rng(11)
        lat = np.concatenate([
            rng.uniform(-90, 90, 5000),
            [90.0, -90.0, 0.0, 89.9999999, -89.9999999],
            np.nextafter(90.0, 0.0) * np.ones(3),
        ])
        lon = np.concatenate([
            rng.uniform(-180, 180, 5000),
            [180.0, -180.0, 0.0, 179.9999999, -179.9999999],
            np.nextafter(180.0, 0.0) * np.ones(3),
        ])
        levels = [0, 3, 6, 7, 9, 10, 15, 26]
        multi = K.cell_keys_multi(lat, lon, levels)
        assert set(multi) == set(levels)
        for L in levels:
            np.testing.assert_array_equal(multi[L], K.cell_key(lat, lon, L))

    def test_cell_boundary_lattice(self):
        """Coordinates sitting exactly on fine-level cell boundaries are the
        worst case for a floor identity — enumerate a lattice of them."""
        L = 10
        step = 180.0 / (1 << L)
        lat = np.arange(-90.0, 90.0 + step / 2, step)
        lon = np.arange(-180.0, 180.0, step)
        n = min(len(lat), len(lon))
        lat, lon = lat[:n], lon[:n]
        multi = K.cell_keys_multi(lat, lon, [4, 6, 8, 10])
        for Lq in (4, 6, 8, 10):
            np.testing.assert_array_equal(multi[Lq], K.cell_key(lat, lon, Lq))

    def test_empty_and_single_level(self):
        assert K.cell_keys_multi([], [], []) == {}
        one = K.cell_keys_multi([1.0], [2.0], [6])
        np.testing.assert_array_equal(one[6], K.cell_key([1.0], [2.0], 6))


class TestUnwrapFarApartRings:
    def test_far_apart_rings_untouched(self):
        """ADVICE r4: a non-wrapped multipolygon whose rings legitimately
        sit > 180° apart in longitude (Guam + Alaska shape) must pass
        through unwrap_rings with zero shifts — alignment only runs when
        something actually wraps."""
        alaska = K.rect_ring(55.0, -165.0, 62.0, -150.0)
        guam = K.rect_ring(13.0, 144.0, 14.0, 145.0)
        outs, inns = K.unwrap_rings([alaska, guam], [])
        assert inns == []
        np.testing.assert_array_equal(outs[0], alaska)
        np.testing.assert_array_equal(outs[1], guam)
        # PIP still correct per ring in its own frame
        assert K.point_in_rings([58.0], [-160.0], outs, [])[0]
        assert K.point_in_rings([13.5], [144.5], outs, [])[0]
        assert not K.point_in_rings([13.5], [-160.0], outs, [])[0]

    def test_wrapped_plus_far_ring_still_aligns_wrapped_one(self):
        """When one ring wraps, alignment runs (unchanged r4 behavior) and
        the wrapped ring's PIP stays correct on both sides of the line."""
        fiji = K.rect_ring(-18.0, 177.0, -16.0, 183.0)  # continuous frame
        outs, _ = K.unwrap_rings([fiji], [])
        assert K.point_in_rings([-17.0], [178.0], outs, [])[0]
        assert K.point_in_rings([-17.0], [-178.5], outs, [])[0]  # = 181.5
        assert not K.point_in_rings([-17.0], [170.0], outs, [])[0]
