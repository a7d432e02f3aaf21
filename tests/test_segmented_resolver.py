"""Differential tests of the segmented region resolver (no Spark).

``joins.mapjoin._resolve_masks`` resolves every boundary-cell point of a
batch in one vectorized pass over ``build_cell_candidates``' CSR of
clipped edges.  Its masks must equal a brute resolver that ray-casts each
point against every region's whole rings (``kernels.point_in_rings``), on
stores built to break it: holes, antimeridian-wrapped regions, more than
126 regions (three mask words), duplicate vertices, and points exactly on
vertices, on edges and on cell borders.  The last test runs the same
stores through the engine: written to parquet and as a frame of rows,
pages carrying those points as ``geo:`` tokens get the same region sets
from ``flagship_map``, the relational ``spatial_join_adaptive`` and
``point_in_rings``.
"""

from __future__ import annotations

import pickle
import re

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
    index = grid._covering_frame(lookup, BASE, MAX)
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


def test_wrapped_region_frame_when_clip_ends_at_180():
    """A wrapped region (continuous frame 172..186; ``unwrap_rings``
    recentres a frame whose midpoint reaches 180) whose boundary cell just
    east of the line keeps only edges ending exactly at lon 180.0.
    A frame inferred from that clipped subset would lie inside
    [-180, 180], skip the probe shift and cast the ray 360° away; the
    resolver shifts by the owning region's frame and agrees with
    ``point_in_rings``."""
    hook = [(0.0, 172.0), (1.2, 180.0), (4.0, 180.0), (4.0, 186.0),
            (6.0, 186.0), (6.0, 172.0), (0.0, 172.0)]
    lookup, _, cand = _build({0: [("outer", hook)]})
    la, lo = np.array([1.0]), np.array([-179.5])  # frame lon 180.5
    # the probe's cell is a partial cell whose clipped edges end at 180.0
    lv = MAX
    keys, _, view, _ = cand["levels"][lv]
    i = int(np.searchsorted(keys, K.cell_key(la, lo, lv)[0]))
    assert keys[i] == K.cell_key(la, lo, lv)[0]
    (rid, clipped, lon_lo, lon_hi), = view[i]
    assert float(clipped[:, [1, 3]].max()) == 180.0 and (lon_lo, lon_hi) == (172.0, 186.0)
    got = _resolve(la, lo, cand)
    want = _brute_masks(la, lo, lookup, cand["n_words"])
    np.testing.assert_array_equal(got, want)
    assert not want.any()  # the eastward ray from 180.5 crosses no edge


#: page texts whose token no geocoder may read (or, the last, reads as the
#: valid 6-decimal prefix of its longitude)
GARBLED = [
    "no token at all",
    "geo:12.5,3.25",
    "geo:abc,def",
    "geo:1.123456;2.123456",
    "geo: 1.123456,2.123456",
    "geo:1.1234567,2.123456",
    "geo:--1.000000,2.000000",
    "geo:1.000000,",
    "geo:1.123456,2.1234567",
]


def _rounded(regions: dict) -> dict:
    """The store with every vertex on a 1e-5° grid, so its vertices and
    edge midpoints are exact in a 6-decimal ``geo:`` token."""
    return {
        rid: [(role, [(round(a, 5), round(o, 5)) for a, o in pts]) for role, pts in rings]
        for rid, rings in regions.items()
    }


def _region_sets(df, url_col="url", ids_col="region_ids") -> dict:
    return {r[url_col]: tuple(sorted(r[ids_col])) for r in df.collect()}


@pytest.mark.parametrize("name", sorted(STORES))
def test_engine_paths_agree_with_point_in_rings(spark, tmp_path, spy, name):
    """The parquet store (read on the driver) and the same rows as a
    frame (collected) give ``flagship_map`` the same region sets as the
    relational ``spatial_join_adaptive`` and brute ``point_in_rings``,
    page by page, garbled tokens included."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from libosmtools_spark.geom.columns import GEO_REGEX
    from libosmtools_spark.joins.spatial import geocode_pages, spatial_join_adaptive
    from libosmtools_spark.pipeline import SpatialEngine

    regions = _rounded(STORES[name]())
    pdf = _rings_pdf(regions)
    path = str(tmp_path / "region_rings.parquet")
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
    stores = {
        "parquet": spark.read.parquet(path),
        "rows": spark.createDataFrame(
            list(pdf.itertuples(index=False)),
            "region_id long, ring_id long, ring_role string, points array<struct<lat:double,lon:double>>",
        ),
    }
    la, lo = _points(regions, seed=3)
    texts = [
        f"p geo:{a:.6f},{o:.6f} q" if not (np.isnan(a) or np.isnan(o)) else "p no coordinates q"
        for a, o in zip(la, lo)
    ] + GARBLED
    urls = [f"u{i}" for i in range(len(texts))]
    pages = spark.createDataFrame(pd.DataFrame({"url": urls, "text": texts}))

    # brute: the tokens parsed in Python, every region's whole rings
    lookup = grid.rings_lookup(pdf)
    coords = np.full((len(texts), 2), np.nan)
    for i, t in enumerate(texts):
        m = re.search(GEO_REGEX, t, re.ASCII)
        if m:
            coords[i] = float(m[1]), float(m[2])
    ok = ~np.isnan(coords).any(axis=1)
    inside = np.zeros((len(texts), len(lookup)), dtype=bool)
    for j, (outers, inners) in enumerate(lookup.values()):
        inside[ok, j] = K.point_in_rings(coords[ok, 0], coords[ok, 1], outers, inners)
    rids = np.fromiter(lookup, dtype=np.int64)
    want = {u: tuple(rids[row].tolist()) for u, row in zip(urls, inside)}
    assert not any(want[u] for u in urls[-len(GARBLED) : -1])
    assert max(len(ids) for ids in want.values()) > 1 and min(len(ids) for ids in want.values()) == 0

    reads = spy(grid.pq, "read_table")
    for side, rings in stores.items():
        eng = SpatialEngine(spark, rings, BASE, MAX)
        assert _region_sets(eng.flagship_map(pages)) == want, side
    assert reads == [([path],)]  # the parquet store read on the driver, the rows collected
    pts = geocode_pages(pages).select("url", "lat", "lon")
    hits = spatial_join_adaptive(pts, eng.cell_index, eng.rings_bcast, BASE, MAX)
    rel = _region_sets(hits.groupBy("url").agg(F.collect_set("region_id").alias("region_ids")))
    assert rel == {u: ids for u, ids in want.items() if ids}
