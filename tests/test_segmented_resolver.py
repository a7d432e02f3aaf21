"""Differential tests of the segmented region resolver (no Spark).

``joins.mapjoin._resolve_masks`` resolves every boundary-cell point of a
batch in one vectorized pass over ``build_cell_candidates``' CSR of
clipped edges.  Its masks must equal a brute resolver that ray-casts each
point against every region's whole rings (``kernels.point_in_rings``), on
stores built to break it: holes, antimeridian-wrapped regions, more than
126 regions (three mask words), duplicate vertices, and points exactly on
vertices, on edges and on cell borders.
"""

from __future__ import annotations

import pickle

import numpy as np
import pandas as pd
import pytest

from libosmtools_spark.geom import kernels as K
from libosmtools_spark.index import grid
from libosmtools_spark.joins import mapjoin as M

BASE, MAX = 4, 7
#: a cell edge at the base level (11.25°) and at the finest level
STEPS = (180.0 / (1 << BASE), 180.0 / (1 << MAX))


def _rings_pdf(regions: dict) -> pd.DataFrame:
    """region_id → [(role, [(lat, lon), ...])] → a region_rings frame."""
    rows = [
        (rid, ring_id, role, [{"lat": float(a), "lon": float(o)} for a, o in pts])
        for rid, rings in regions.items()
        for ring_id, (role, pts) in enumerate(rings)
    ]
    return pd.DataFrame(rows, columns=["region_id", "ring_id", "ring_role", "points"])


def _star(rng, lat0, lon0, r_out, n):
    """A closed star ring; with n ≥ 8 its edges stay farther than 0.24 ×
    r_out from the center, so a hole of radius 0.2 × r_out nests inside."""
    ang = (np.arange(n) + rng.uniform(0.0, 0.8, n)) * (2 * np.pi / n)
    rad = r_out * rng.uniform(0.35, 1.0, n)
    pts = list(zip(lat0 + rad * np.sin(ang), lon0 + rad * np.cos(ang)))
    return pts + [pts[0]]


def _random_store(n_regions: int, seed: int) -> dict:
    """Overlapping random stars (every fourth with a hole, every fifth
    with duplicated vertices) plus grid-aligned rectangles whose edges lie
    on base- and finest-level cell borders."""
    rng = np.random.default_rng(seed)
    regions = {}
    for rid in range(n_regions):
        lat0, lon0 = rng.uniform(-12.0, 12.0), rng.uniform(-20.0, 20.0)
        if rid % 7 == 0:
            s = STEPS[rid % 2]
            a, b = rng.integers(-4, 4, 2)
            h, w = rng.integers(1, 5, 2)
            lo_lat, lo_lon = a * s, b * s
            hi_lat, hi_lon = lo_lat + h * s, lo_lon + w * s
            rect = [(lo_lat, lo_lon), (lo_lat, hi_lon), (hi_lat, hi_lon), (hi_lat, lo_lon), (lo_lat, lo_lon)]
            regions[rid] = [("outer", rect)]
            continue
        r = rng.uniform(1.0, 8.0)
        outer = _star(rng, lat0, lon0, r, int(rng.integers(8, 40)))
        if rid % 5 == 0:  # repeated vertices: zero-length edges
            outer = [p for p in outer[:-1] for _ in range(2)] + [outer[-1]]
        rings = [("outer", outer)]
        if rid % 4 == 0:
            rings.append(("inner", _star(rng, lat0, lon0, 0.2 * r, 6)))
        regions[rid] = rings
    return regions


def _antimeridian_store(seed: int) -> dict:
    """The driver's wrapped store (a crossing rectangle, one with a
    crossing hole, one stored in jump form, a near-the-line control) plus
    random stars straddling ±180°."""
    from __spark_entry__ import ANTIM_REGIONS

    rng = np.random.default_rng(seed)
    regions = dict(ANTIM_REGIONS)
    for rid in range(len(regions), len(regions) + 12):
        lat0, lon0 = rng.uniform(-50.0, 50.0), 180.0 + rng.uniform(-4.0, 4.0)
        r = rng.uniform(2.0, 9.0)
        rings = [("outer", _star(rng, lat0, lon0, r, 24))]
        if rid % 3 == 0:
            rings.append(("inner", _star(rng, lat0, lon0, 0.2 * r, 5)))
        regions[rid] = rings
    return regions


def _build(regions: dict):
    pdf = _rings_pdf(regions)
    lookup = grid.rings_lookup(pdf)
    index = grid.local_adaptive_cell_index(pdf, BASE, MAX)
    return lookup, index, M.build_cell_candidates(index, lookup)


def _norm(lon):
    return (np.asarray(lon, dtype=np.float64) + 180.0) % 360.0 - 180.0


def _points(regions: dict, seed: int):
    """Uniform points over the store's extent, every ring vertex, edge
    midpoints, points on cell borders at the base and finest levels, and
    a few points without coordinates."""
    rng = np.random.default_rng(seed)
    verts = np.array([p for rings in regions.values() for _, pts in rings for p in pts])
    lat_lo, lat_hi = verts[:, 0].min() - 2.0, verts[:, 0].max() + 2.0
    lon_lo, lon_hi = verts[:, 1].min() - 2.0, verts[:, 1].max() + 2.0
    n = 3000
    la = [rng.uniform(lat_lo, lat_hi, n), verts[:, 0]]
    lo = [rng.uniform(lon_lo, lon_hi, n), verts[:, 1]]
    for _, rings in regions.items():
        for _, pts in rings:
            p = np.asarray(pts)
            la.append((p[:-1, 0] + p[1:, 0]) / 2.0)
            lo.append((p[:-1, 1] + p[1:, 1]) / 2.0)
    for s in STEPS:
        ys = np.arange(np.floor(lat_lo / s), np.ceil(lat_hi / s) + 1) * s
        xs = np.arange(np.floor(lon_lo / s), np.ceil(lon_hi / s) + 1) * s
        k = 400
        la += [rng.choice(ys, k), rng.uniform(lat_lo, lat_hi, k), rng.choice(ys, k)]
        lo += [rng.uniform(lon_lo, lon_hi, k), rng.choice(xs, k), rng.choice(xs, k)]
    la.append(np.array([np.nan, 1.0, np.nan]))
    lo.append(np.array([1.0, np.nan, np.nan]))
    la = np.concatenate(la)
    lo = _norm(np.concatenate(lo))
    la = np.clip(la, -89.999, 89.999)
    return la, lo


def _brute_masks(la, lo, lookup, n_words):
    masks = np.zeros((len(la), n_words), dtype=np.int64)
    ok = ~np.isnan(la) & ~np.isnan(lo)
    for rid, (outers, inners) in lookup.items():
        hit = np.zeros(len(la), dtype=bool)
        hit[ok] = K.point_in_rings(la[ok], lo[ok], outers, inners)
        masks[hit, rid // 63] |= np.int64(1) << np.int64(rid % 63)
    return masks


def _resolve(la, lo, cand):
    keys = M._keys_of(la, lo, BASE)
    tabs = cand["levels"]
    return M._resolve_masks(la, lo, keys, tabs, None, sorted(tabs), cand["n_words"])


STORES = {
    "random130": lambda: _random_store(130, seed=11),
    "antimeridian": lambda: _antimeridian_store(seed=5),
}


@pytest.fixture(scope="module", params=sorted(STORES))
def store(request):
    regions = STORES[request.param]()
    lookup, index, cand = _build(regions)
    la, lo = _points(regions, seed=3)
    return regions, lookup, index, cand, la, lo


def test_store_shapes(store):
    """The stores hit what they are built for: boundary cells with several
    candidates, three mask words, wrapped frames."""
    regions, _, _, cand, _, _ = store
    parts = [t[2] for t in cand["levels"].values()]
    assert max(int(np.diff(p.cell_ptr).max(initial=0)) for p in parts) >= 3
    if len(regions) == 130:
        assert cand["n_words"] == 3
    else:
        assert any(float(p.lon_hi.max(initial=0.0)) > 180.0 for p in parts)


def test_masks_equal_brute_point_in_rings(store):
    _, lookup, _, cand, la, lo = store
    got = _resolve(la, lo, cand)
    want = _brute_masks(la, lo, lookup, cand["n_words"])
    bad = np.flatnonzero((got != want).any(axis=1))
    assert not len(bad), [(la[i], lo[i], got[i].tolist(), want[i].tolist()) for i in bad[:5]]
    assert want.any() and not want.all()


@pytest.mark.parametrize("chunk", [1, 7])
def test_chunk_seams(store, monkeypatch, chunk):
    """Any chunking of the (probe, edge) elements gives the same masks."""
    _, _, _, cand, la, lo = store
    rng = np.random.default_rng(chunk)
    sel = rng.choice(len(la), 1500, replace=False)
    la, lo = la[sel], lo[sel]
    want = _resolve(la, lo, cand)
    monkeypatch.setattr(K, "_PIP_CHUNK_ELEMS", chunk)
    np.testing.assert_array_equal(_resolve(la, lo, cand), want)


def test_per_cell_view_matches_clip_edges_for_cell(store):
    """``levels[lv][2][i]`` lists, per region whose boundary touches cell
    ``i``, the region's edges clipped by ``clip_edges_for_cell`` (the
    cell's lon window shifted into the region's frame) and the frame."""
    _, lookup, index, cand, _, _ = store
    ck = index["cell_key"].to_numpy(dtype=np.int64)
    part_rows = index[~index["full"].to_numpy(dtype=bool)]
    want_regions = part_rows.groupby("cell_key")["region_id"].apply(sorted).to_dict()
    edges = {
        r: np.vstack([K.ring_edges(x) for x in list(o) + list(i)]) for r, (o, i) in lookup.items()
    }
    frames = {r: (float(e[:, [1, 3]].min()), float(e[:, [1, 3]].max())) for r, e in edges.items()}
    seen = 0
    for lv, (keys, _, view, has_part) in cand["levels"].items():
        assert len(view) == len(keys) == len(has_part)
        assert set(keys) == set(ck[(ck >> K._LEVEL_SHIFT) == lv])
        for i, key in enumerate(keys):
            entries = view[i]
            assert bool(entries) == bool(has_part[i])
            if not entries:
                assert int(key) not in want_regions
                continue
            assert [e[0] for e in entries] == want_regions[int(key)]
            min_lat, max_lat, min_lon, max_lon = (float(v) for v in K.cell_bounds(np.int64(key)))
            for rid, cl, lon_lo, lon_hi in entries:
                assert (lon_lo, lon_hi) == frames[rid]
                c = (min_lon + max_lon) / 2.0
                shift = float(K.wrap_lons_to_frame(np.array([c]), lon_lo, lon_hi)[0]) - c
                want = K.clip_edges_for_cell(edges[rid], min_lat, max_lat, min_lon + shift)
                np.testing.assert_array_equal(cl, want)
                seen += 1
        with pytest.raises(IndexError):
            view[len(view)]
        assert len(list(view)) == len(view)
    assert seen == len(part_rows)


def test_candidates_pickle_round_trip(store):
    """The broadcast value survives pickling with every CSR array intact."""
    _, _, _, cand, la, lo = store
    back = pickle.loads(pickle.dumps(cand, protocol=pickle.HIGHEST_PROTOCOL))
    for lv, (keys, fm, view, hp) in cand["levels"].items():
        bk, bfm, bview, bhp = back["levels"][lv]
        for a, b in ((keys, bk), (fm, bfm), (hp, bhp)):
            np.testing.assert_array_equal(a, b)
        for name in M.PartialCells.__slots__:
            np.testing.assert_array_equal(getattr(view, name), getattr(bview, name))
    np.testing.assert_array_equal(_resolve(la, lo, back), _resolve(la, lo, cand))
