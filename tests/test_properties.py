"""Property-based tests (hypothesis) for the pure-numpy geometry kernels —
the invariants every spatial operator builds on.  No SparkSession needed,
so these run in milliseconds and fuzz far wider than the fixture corpus.
"""

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from libosmtools_spark.geom import kernels as K

# numeric kernels must be warning-clean (VERDICT r4 item 6): any
# RuntimeWarning from the numpy kernels fails these modules outright
pytestmark = pytest.mark.filterwarnings("error::RuntimeWarning")

lat_s = st.floats(min_value=-90.0, max_value=90.0, allow_nan=False)
lon_s = st.floats(min_value=-540.0, max_value=540.0, allow_nan=False)
level_s = st.integers(min_value=0, max_value=K.MAX_LEVEL)


def _parent(key) -> int:
    """One level up: the cell whose 2x2 split contains ``key``."""
    level, iy, ix = K.unpack_key(key)
    return int(K.pack_key(level - 1, iy >> 1, ix >> 1))


class TestCellKeyProperties:
    @given(lat=lat_s, lon=lon_s, level=level_s)
    @settings(max_examples=300, deadline=None)
    def test_key_bounds_contain_point(self, lat, lon, level):
        """A point's cell bounds contain the (lon-normalized, clamped)
        point — the half-open [min, max) grid contract, closed at the
        domain edge (lat=90 lands in the top row)."""
        key = K.cell_key(np.array([lat]), np.array([lon]), level)
        min_lat, max_lat, min_lon, max_lon = K.cell_bounds(key)
        nlon = K.norm_lon(np.array([lon]))[0]
        # 1e-9 margins: double absorption near cell boundaries (e.g. a
        # subnormal lat added to 90.0 vanishes) can put the point one ulp
        # across; the kernels and the SQL mirror absorb identically.
        assert min_lat[0] - 1e-9 <= lat <= max_lat[0] + 1e-9
        assert min_lon[0] - 1e-9 <= nlon <= max_lon[0] + 1e-9

    @given(lat=lat_s, lon=lon_s, level=st.integers(min_value=1, max_value=K.MAX_LEVEL))
    @settings(max_examples=300, deadline=None)
    def test_parent_of_key_is_coarser_key(self, lat, lon, level):
        """parent(key at L) == the point's own key at L-1 — the
        quadtree hierarchy is consistent with direct assignment."""
        fine = K.cell_key(np.array([lat]), np.array([lon]), level)
        coarse = K.cell_key(np.array([lat]), np.array([lon]), level - 1)
        assert _parent(fine[0]) == coarse[0]

    @given(lat=lat_s, lon=lon_s, level=st.integers(min_value=0, max_value=K.MAX_LEVEL - 1))
    @settings(max_examples=200, deadline=None)
    def test_children_partition_parent(self, lat, lon, level):
        """The point's key at level+1 is among its level-key's 4 children
        (the 2x2 split that ``refine_until_good`` writes with key
        arithmetic)."""
        key = K.cell_key(np.array([lat]), np.array([lon]), level)
        child = K.cell_key(np.array([lat]), np.array([lon]), level + 1)
        _, iy, ix = K.unpack_key(key[0])
        children = {int(K.pack_key(level + 1, 2 * iy + dy, 2 * ix + dx)) for dy in (0, 1) for dx in (0, 1)}
        assert int(child[0]) in children

    @given(lon=lon_s)
    @settings(max_examples=300, deadline=None)
    def test_norm_lon_range(self, lon):
        n = K.norm_lon(np.array([lon]))[0]
        assert -180.0 <= n < 180.0 or np.isclose(n, -180.0)


class TestPIPProperties:
    @given(
        cy=st.floats(min_value=-60, max_value=60, allow_nan=False),
        cx=st.floats(min_value=-60, max_value=60, allow_nan=False),
        h=st.floats(min_value=0.5, max_value=20, allow_nan=False),
        w=st.floats(min_value=0.5, max_value=20, allow_nan=False),
        py=st.floats(min_value=-89, max_value=89, allow_nan=False),
        px=st.floats(min_value=-89, max_value=89, allow_nan=False),
    )
    @settings(max_examples=300, deadline=None)
    def test_rect_ray_cast_matches_bounds(self, cy, cx, h, w, py, px):
        """Ray-cast against an axis-aligned rect ring agrees with the
        direct bounds test whenever the point is clearly off the boundary
        (the half-open edge rule only matters ON the boundary)."""
        ring = K.rect_ring(cy - h / 2, cx - w / 2, cy + h / 2, cx + w / 2)
        eps = 1e-9 * max(1.0, abs(py), abs(px))
        on_edge = (
            min(abs(py - (cy - h / 2)), abs(py - (cy + h / 2))) < 1e-6
            or min(abs(px - (cx - w / 2)), abs(px - (cx + w / 2))) < 1e-6
        )
        if on_edge:
            return
        want = (cy - h / 2 < py < cy + h / 2) and (cx - w / 2 < px < cx + w / 2)
        got = K.point_in_rings(np.array([py]), np.array([px]), [ring], [])[0]
        assert got == want, (py, px, ring, eps)

    @given(
        n=st.integers(min_value=3, max_value=12),
        seed=st.integers(min_value=0, max_value=10_000),
        r=st.floats(min_value=1.0, max_value=30.0, allow_nan=False),
    )
    @settings(max_examples=200, deadline=None)
    def test_convex_polygon_center_inside(self, n, seed, r):
        """The centroid of a convex polygon (star-sampled) is inside it;
        a far-outside point is not."""
        rng = np.random.default_rng(seed)
        ang = np.sort(rng.uniform(0, 2 * np.pi, size=n))
        if len(np.unique(np.round(ang, 6))) < 3:
            return
        ys = r * np.sin(ang)
        xs = r * np.cos(ang)
        ring = np.stack([np.append(ys, ys[0]), np.append(xs, xs[0])], axis=1)
        cy, cx = ys.mean(), xs.mean()
        assert K.point_in_rings(np.array([cy]), np.array([cx]), [ring], [])[0]
        assert not K.point_in_rings(np.array([cy + 3 * r]), np.array([cx]), [ring], [])[0]


class TestSegmentRectProperties:
    @given(
        y1=st.floats(-50, 50, allow_nan=False), x1=st.floats(-50, 50, allow_nan=False),
        y2=st.floats(-50, 50, allow_nan=False), x2=st.floats(-50, 50, allow_nan=False),
        ry=st.floats(-40, 40, allow_nan=False), rx=st.floats(-40, 40, allow_nan=False),
        rh=st.floats(0.5, 10, allow_nan=False), rw=st.floats(0.5, 10, allow_nan=False),
    )
    @settings(max_examples=300, deadline=None)
    def test_inside_endpoints_intersect(self, y1, x1, y2, x2, ry, rx, rh, rw):
        a, b, c, d = ry, ry + rh, rx, rx + rw
        inside1 = a < y1 < b and c < x1 < d
        inside2 = a < y2 < b and c < x2 < d
        got = K.segment_intersects_rect(
            np.array([y1]), np.array([x1]), np.array([y2]), np.array([x2]), a, b, c, d
        )[0]
        if inside1 or inside2:
            assert got
        # CLEARLY disjoint bounding boxes → no intersection (the margin
        # keeps float absorption at touching boundaries out of scope —
        # Liang-Barsky counts boundary touches as intersections)
        if (max(y1, y2) < a - 1e-6 or min(y1, y2) > b + 1e-6
                or max(x1, x2) < c - 1e-6 or min(x1, x2) > d + 1e-6):
            assert not got


class TestUnwrapProperties:
    @given(
        a=st.floats(-60, 50, allow_nan=False),
        c=st.floats(-179.0, 179.0, allow_nan=False),
        h=st.floats(1.0, 25.0, allow_nan=False),
        w=st.floats(1.0, 25.0, allow_nan=False),
        seed=st.integers(0, 10_000),
    )
    @settings(max_examples=60, deadline=None)
    def test_jump_form_equals_continuous_form(self, a, c, h, w, seed):
        """A ring stored NORMALIZED (lons in [-180,180), wraps encoded as
        jumps > 180°) and the same ring in the continuous frame give
        identical PIP answers for probe points around the region — the
        two storage conventions are interchangeable through unwrap_rings."""
        cont = K.rect_ring(a, c, a + h, c + w)  # continuous frame (c+w may pass 180)
        norm = cont.copy()
        norm[:, 1] = K.norm_lon(norm[:, 1])     # jump form
        o1, _ = K.unwrap_rings([cont], [])
        o2, _ = K.unwrap_rings([norm], [])
        rng = np.random.default_rng(seed)
        py = rng.uniform(a - 5, a + h + 5, size=30)
        px = K.norm_lon(rng.uniform(c - 5, c + w + 5, size=30))  # real-world lons
        got1 = K.point_in_rings(py, px, o1, [])
        got2 = K.point_in_rings(py, px, o2, [])
        assert (got1 == got2).all()


class TestCoverageProperties:
    @given(
        a=st.floats(-60, 50, allow_nan=False),
        c=st.floats(-170, 175, allow_nan=False),
        h=st.floats(1.0, 25.0, allow_nan=False),
        w=st.floats(1.0, 25.0, allow_nan=False),
        seed=st.integers(0, 10_000),
    )
    # explicit antimeridian regressions: touching +180, crossing it, and the
    # round-3 falsifying case (rect reaching exactly 180)
    @example(a=0.0, c=160.0, h=1.0, w=20.0, seed=1)
    @example(a=0.0, c=175.0, h=2.0, w=5.0, seed=2)
    @example(a=-10.0, c=170.0, h=5.0, w=25.0, seed=3)
    @example(a=30.0, c=172.05, h=4.0, w=15.9, seed=4)
    @settings(max_examples=80, deadline=None)
    def test_adaptive_equals_flat_membership(self, a, c, h, w, seed):
        """For random rect regions (including antimeridian-touching and
        -crossing ones: c + w may exceed 180 — the ring is then in the
        continuous frame) and random probe points, membership via the flat
        level-6 cover equals membership via the adaptive 6..9 cover (full
        hit OR (partial leaf AND ray-cast)) AND equals the direct ray-cast
        — the engine-default index is a pure optimization."""
        ring = K.rect_ring(a, c, a + h, c + w)
        rng = np.random.default_rng(seed)
        py = rng.uniform(a - 5, a + h + 5, size=40)
        px = rng.uniform(c - 5, c + w + 5, size=40)

        def member(keys, full, levels):
            out = np.zeros(len(py), dtype=bool)
            if len(keys) == 0:
                return out
            order = np.argsort(keys, kind="stable")
            sk, sf = keys[order], full[order]
            for lv in levels:
                pk = K.cell_key(py, px, lv)
                pos = np.searchsorted(sk, pk)
                pos[pos >= len(sk)] = len(sk) - 1
                hit = sk[pos] == pk
                for i in np.flatnonzero(hit):
                    if sf[pos[i]]:
                        out[i] = True
                    else:
                        out[i] |= bool(
                            K.point_in_rings(py[i : i + 1], px[i : i + 1], [ring], [])[0]
                        )
            return out

        fk, ff = K.adaptive_covering_cells([ring], [], 6, 6)
        ak, af = K.adaptive_covering_cells([ring], [], 6, 9)
        got_flat = member(fk, ff, [6])
        got_ad = member(ak, af, sorted({int(k) >> K._LEVEL_SHIFT for k in ak}))
        assert (got_flat == got_ad).all()
        # both index paths must agree with the direct ray-cast for points
        # clearly off the region boundary (the index is an optimization,
        # never a semantics change)
        direct = K.point_in_rings(py, px, [ring], [])
        edge = np.minimum.reduce([
            np.abs(py - a), np.abs(py - (a + h)), np.abs(px - c), np.abs(px - (c + w))
        ])
        ok = edge > 1e-6
        assert (got_flat[ok] == direct[ok]).all()


def _dense_covering(outer_rings, inner_rings, base_level, max_level):
    """The adaptive covering by a dense classifier: at every level, every
    boundary segment against every cell (one segments × cells
    Liang–Barsky matrix) and the center ray cast on every cell.  The
    differential reference for ``K.covering_rows``."""
    outer_rings, inner_rings = K.unwrap_rings(outer_rings, inner_rings)
    all_rings = list(outer_rings) + list(inner_rings)
    iy_lo, iy_hi, ix_lo, ix_hi, _, _ = K._grid_span(all_rings, base_level)
    yy, xx = np.meshgrid(
        np.arange(iy_lo, iy_hi + 1, dtype=np.int64),
        np.arange(ix_lo, ix_hi + 1, dtype=np.int64),
        indexing="ij",
    )
    iy, ix = yy.ravel(), xx.ravel()
    y1, x1, y2, x2 = K._coverage_segments(all_rings)
    out_keys, out_full = [], []
    level = base_level
    while iy.size:
        size = 180.0 / float(np.int64(1) << level)
        min_lat = iy.astype(np.float64) * size - 90.0
        max_lat = min_lat + size
        min_lon = ix.astype(np.float64) * size - 180.0
        max_lon = min_lon + size
        center_in = K.point_in_rings(
            (min_lat + max_lat) / 2.0, (min_lon + max_lon) / 2.0, outer_rings, inner_rings
        )
        touched = np.zeros(iy.size, dtype=bool)
        step = max(1, 2_000_000 // len(y1))
        for i in range(0, iy.size, step):
            sl = slice(i, i + step)
            touched[sl] = K.segment_intersects_rect(
                y1[:, None], x1[:, None], y2[:, None], x2[:, None],
                min_lat[sl][None, :], max_lat[sl][None, :],
                min_lon[sl][None, :], max_lon[sl][None, :],
            ).any(axis=0)
        is_full = center_in & ~touched
        part = (center_in | touched) & ~is_full
        keys = K.pack_key(level, iy, ix % (np.int64(2) << level))
        out_keys.append(keys[is_full])
        out_full.append(np.ones(int(is_full.sum()), dtype=bool))
        if level >= max_level:
            out_keys.append(keys[part])
            out_full.append(np.zeros(int(part.sum()), dtype=bool))
            break
        iy = ((iy[part] * 2)[:, None] + np.array([0, 0, 1, 1])).ravel()
        ix = ((ix[part] * 2)[:, None] + np.array([0, 1, 0, 1])).ravel()
        level += 1
    if not out_keys:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=bool)
    return np.concatenate(out_keys), np.concatenate(out_full)


def _star(rng, cy, cx, r_lo, r_hi, n):
    ang = np.sort(rng.uniform(0.0, 2 * np.pi, n))
    r = rng.uniform(r_lo, r_hi, n)
    ring = np.stack([cy + r * np.sin(ang), cx + r * np.cos(ang)], axis=1)
    return np.vstack([ring, ring[:1]])


def _snap_to_grid(ring, level):
    """Vertices moved onto the nearest grid lines of ``level``."""
    size = 180.0 / float(1 << level)
    return np.stack(
        [np.round((ring[:, 0] + 90.0) / size) * size - 90.0,
         np.round((ring[:, 1] + 180.0) / size) * size - 180.0],
        axis=1,
    )


#: the random store shapes of the covering differential test
STORE_SHAPES = (
    "star", "holes", "wrapped", "snapped", "near_snapped", "cell_rects", "dup_vertices", "multi_outer"
)


def _random_store(shape, rng, base_level, max_level):
    """(outer rings, inner rings) of one random region of ``shape``."""
    cy, cx = rng.uniform(-60.0, 60.0), rng.uniform(-170.0, 170.0)
    n = int(rng.integers(4, 40))
    if shape == "star":
        return [_star(rng, cy, cx, 0.5, 12.0, n)], []
    if shape == "holes":
        outer = _star(rng, cy, cx, 8.0, 14.0, n)
        holes = [_star(rng, cy + dy, cx + dx, 0.3, 2.5, int(rng.integers(3, 12)))
                 for dy, dx in ((-3.5, 0.0), (3.5, 0.0))[: int(rng.integers(1, 3))]]
        return [outer], holes
    if shape == "wrapped":
        ring = _star(rng, cy, rng.choice([-179.0, 179.5]), 1.0, 9.0, n)
        ring[:, 1] = K.norm_lon(ring[:, 1])  # stored in the jump form
        return [ring], []
    if shape == "snapped":
        return [_snap_to_grid(_star(rng, cy, cx, 1.0, 10.0, n), max_level)], []
    if shape == "near_snapped":
        # a few ulps off the grid lines: Liang–Barsky reports some of
        # these near-misses as touches, so the pair filter must keep them
        ring = _snap_to_grid(_star(rng, cy, cx, 1.0, 10.0, n), max_level)[:-1]
        steps = rng.integers(-3, 4, ring.shape)
        ring = ring + steps * np.spacing(ring)
        return [np.vstack([ring, ring[:1]])], []
    if shape == "cell_rects":
        # 1-3 rects on the cell borders of one level, often sharing borders
        lv = int(rng.integers(base_level, max_level + 1))
        size = 180.0 / float(1 << lv)
        iy, ix = int((cy + 90.0) / size), int((cx + 180.0) / size)
        rects = []
        for _ in range(int(rng.integers(1, 4))):
            y, x = iy + int(rng.integers(0, 4)), ix + int(rng.integers(0, 4))
            h, w = int(rng.integers(1, 5)), int(rng.integers(1, 5))
            rects.append(K.rect_ring(y * size - 90.0, x * size - 180.0,
                                     (y + h) * size - 90.0, (x + w) * size - 180.0))
        return rects, []
    if shape == "dup_vertices":
        ring = _star(rng, cy, cx, 1.0, 10.0, n)[:-1]
        ring = np.repeat(ring, rng.integers(1, 4, len(ring)), axis=0)
        return [np.vstack([ring, ring[:1]])], []
    assert shape == "multi_outer"
    return [_star(rng, cy + dy, cx + dx, 0.5, 5.0, int(rng.integers(3, 20)))
            for dy, dx in rng.uniform(-6.0, 6.0, (int(rng.integers(2, 4)), 2))], []


def _rings_pdf(regions: dict):
    """region_id → (outers, inners) → a collected region_rings frame."""
    import pandas as pd

    rows = [
        (rid, j, role, [{"lat": float(a), "lon": float(o)} for a, o in ring])
        for rid, (outers, inners) in regions.items()
        for j, (role, ring) in enumerate([("outer", r) for r in outers] + [("inner", r) for r in inners])
    ]
    return pd.DataFrame(rows, columns=["region_id", "ring_id", "ring_role", "points"])


class TestBoundaryLocalCovering:
    """The boundary-local covering (candidate (cell, segment) pairs carried
    down the quadtree) returns the dense classifier's rows, in its order."""

    @pytest.mark.parametrize("shape", STORE_SHAPES)
    @pytest.mark.parametrize("seed", range(12))
    def test_equals_dense_classifier(self, shape, seed):
        rng = np.random.default_rng([seed, STORE_SHAPES.index(shape)])
        base = int(rng.integers(3, 7))
        top = base + int(rng.integers(0, 5))
        outers, inners = _random_store(shape, rng, base, top)
        got = K.adaptive_covering_cells(outers, inners, base, top)
        want = _dense_covering(outers, inners, base, top)
        np.testing.assert_array_equal(got[0], want[0])
        np.testing.assert_array_equal(got[1], want[1])

    @pytest.mark.parametrize("seed", range(6))
    def test_store_equals_dense_per_region(self, seed):
        """One ``covering_rows`` pass over a store of mixed random regions
        returns each region's dense rows, region by region."""
        rng = np.random.default_rng([seed, 99])
        base = int(rng.integers(3, 7))
        top = base + int(rng.integers(0, 5))
        regions = [_random_store(shape, rng, base, top) for shape in rng.permutation(STORE_SHAPES * 2)]
        region, keys, full = K.covering_rows(regions, base, top)
        dense = [_dense_covering(o, i, base, top) for o, i in regions]
        np.testing.assert_array_equal(region, np.repeat(np.arange(len(regions)), [len(k) for k, _ in dense]))
        np.testing.assert_array_equal(keys, np.concatenate([k for k, _ in dense]))
        np.testing.assert_array_equal(full, np.concatenate([f for _, f in dense]))

    def test_float_touch_outside_the_bbox(self):
        """A long edge ending 1e-20° west of the lon-0 grid line: its bbox
        misses the cells east of the line, yet Liang–Barsky's rounded
        entry parameter is exactly 1.0, so it reports the touch.  The
        padded pair filter keeps that pair, so the cell stays partial.
        (The second outer only widens the grid span east of the line.)"""
        tip = (1.3, -1e-20)
        outers = [
            np.array([[5.1, -60.3], list(tip), [-3.7, -61.1], [5.1, -60.3]]),
            K.rect_ring(20.0, 10.0, 21.0, 11.0),
        ]
        east = K.cell_key(np.array([tip[0]]), np.array([0.0]), 8)[0]
        got = K.adaptive_covering_cells(outers, [], 6, 8)
        want = _dense_covering(outers, [], 6, 8)
        assert east in set(want[0][~want[1]].tolist())
        np.testing.assert_array_equal(got[0], want[0])
        np.testing.assert_array_equal(got[1], want[1])

    @pytest.mark.parametrize("store", ["fixture", "oracle", "antimeridian", "scaling"])
    def test_candidate_tables_equal_dense(self, sf_smoke, store):
        """``build_cell_candidates`` over the engine's index equals the
        tables built over the dense classifier's rows, byte for byte."""
        import os
        import pickle

        import pandas as pd

        import __spark_entry__ as entry
        from libosmtools_spark.index import grid
        from libosmtools_spark.joins.mapjoin import build_cell_candidates

        if store in ("fixture", "scaling"):
            name = "region_rings" if store == "fixture" else "scaling_region_rings"
            pdf = pd.read_parquet(os.path.join(sf_smoke, f"{name}.parquet"))
        else:
            regions = entry.ORACLE_REGIONS if store == "oracle" else entry.ANTIM_REGIONS
            pdf = _rings_pdf({
                rid: ([np.asarray(p, dtype=np.float64) for role, p in rings if role == "outer"],
                      [np.asarray(p, dtype=np.float64) for role, p in rings if role == "inner"])
                for rid, rings in regions.items()
            })
        lookup = grid.rings_lookup(pdf)
        index = grid._covering_frame(lookup, 6, 10)
        dense = []
        for rid, (outers, inners) in lookup.items():
            keys, full = _dense_covering(outers, inners, 6, 10)
            dense.append(pd.DataFrame({"cell_key": keys, "region_id": np.int32(rid), "full": full}))
        dense = pd.concat(dense, ignore_index=True)
        pd.testing.assert_frame_equal(index, dense)
        assert pickle.dumps(build_cell_candidates(index, lookup)) == pickle.dumps(
            build_cell_candidates(dense, lookup)
        )

    def test_large_ring_pairs_are_boundary_linear(self):
        """A 20,000-vertex ring builds, and its base-level candidate pairs
        number Σ per-segment bbox cells (each short segment meets at most
        4 × 4 base cells), far below segments × base cells."""
        rng = np.random.default_rng(7)
        ring = _star(rng, 10.0, 20.0, 9.0, 11.0, 20_000)
        base, top = 6, 10
        span = K._grid_span([ring], base)[:4]
        segs = K._coverage_segments([ring])
        n_segs = len(segs[0])
        cells, seg = K._base_pairs(
            K._segment_boxes(segs), np.zeros(n_segs, dtype=np.int64), base,
            tuple(np.array([v]) for v in span), np.zeros(1, dtype=np.int64),
        )
        n_cells = (span[1] - span[0] + 1) * (span[3] - span[2] + 1)
        assert len(seg) <= 16 * n_segs < n_segs * n_cells // 4
        assert np.array_equal(np.unique(seg), np.arange(n_segs))
        assert cells.min() >= 0 and cells.max() < n_cells
        keys, full = K.adaptive_covering_cells([ring], [], base, top)
        levels = keys >> K._LEVEL_SHIFT
        assert (levels[~full] == top).all() and full.any()
        center = K.cell_keys_multi([10.0], [20.0], range(base, top + 1))
        assert any(np.isin(center[lv], keys[full]).any() for lv in center)


class TestCellKeysMultiProperty:
    @given(lat=lat_s, lon=lon_s)
    @settings(max_examples=300, deadline=None)
    @example(lat=90.0, lon=180.0)
    @example(lat=-90.0, lon=-180.0)
    @example(lat=np.nextafter(90.0, 0.0), lon=np.nextafter(180.0, -180.0))
    def test_multi_equals_per_level(self, lat, lon):
        """Shift-derived keys == per-level cell_key for every level subset
        (the nested-floor identity the flagship kernel relies on)."""
        levels = [0, 2, 6, 9, 10, 17, K.MAX_LEVEL]
        multi = K.cell_keys_multi([lat], [lon], levels)
        for L in levels:
            assert multi[L][0] == K.cell_key([lat], [lon], L)[0]
