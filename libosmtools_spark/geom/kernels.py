"""Pure-numpy geometry kernels (no Spark dependency).

This is the vectorized core of the engine: hierarchical cell-key encoding
(our h3/s2-free grid — the reference's index is likewise a plain uniform
lat/lon grid refined quadtree-style, see
/root/reference/src/OsmGridRegionTree.cpp:133-140), deterministic
coordinate snapping (snapPoints, /root/reference/src/OsmGridRegionTree.cpp:96-103),
ray-casting point-in-polygon with a half-open edge rule (the engine's
replacement for CGAL exact predicates,
/root/reference/include/osmtools/OsmTriangulationRegionStore.h:199-205),
geodesic distance, and cell-ring expansion (the adjacency contract of the
cell dual graph, /root/reference/src/OsmTriangulationRegionStore.cpp:382-429).

Everything here is deterministic, vectorized over numpy arrays, and safe to
call inside Arrow/pandas UDF batches.

Cell-key layout (int64, always positive):

    key = level * 2^55 + iy * 2^28 + ix

At level ``L`` the world (lat ∈ [-90, 90], lon ∈ [-180, 180)) is an
``2^L x 2^(L+1)`` grid (rows x cols), so cells are square in degrees:
``180 / 2^L`` per side.  Level 0 is 2 cells of 180°x180°.  Max level 26
(sub-centimeter) fits the bit budget: iy < 2^26 (27-bit field), ix < 2^27
(28-bit field).
"""

from __future__ import annotations

import numpy as np

# ---------------------------------------------------------------------------
# constants
# ---------------------------------------------------------------------------

SNAP_SCALE = 1_000_000  # 1e-6 degree fixed-point, mirrors sserialize GeoPoint
MAX_LEVEL = 26
_LEVEL_SHIFT = 55
_IY_SHIFT = 28

#: cell 0 is, by definition, "contained in no region"
#: (/root/reference/src/OsmTriangulationRegionStore.cpp:990-996, :1113-1114)
EMPTY_CELL_ID = 0

#: reference sentinel for faces of the infinite/outside domain
#: (/root/reference/src/OsmTriangulationRegionStore.cpp:761-762)
INFINITE_CELL_ID = 0xFFFFFFFF

EARTH_RADIUS_M = 6_371_008.8  # IUGG mean radius

# default refinement policy mirrors the reference ctor defaults:
# 2x2 split while the node's geodesic diagonal exceeds 250 m
# (/root/reference/src/OsmGridRegionTree.cpp:70)
DEFAULT_MIN_DIAG_M = 250.0


# ---------------------------------------------------------------------------
# snapping (G5)
# ---------------------------------------------------------------------------

def snap(coords):
    """Quantize coordinates to 1e-6 degrees.

    Mirrors OsmGridRegionTree::snapPoints
    (/root/reference/src/OsmGridRegionTree.cpp:96-103): every coordinate that
    enters a comparison is quantized first so PIP decisions are
    machine-independent.  round-half-even like numpy; applied identically at
    fixture generation and at query time.
    """
    a = np.asarray(coords, dtype=np.float64)
    return np.round(a * SNAP_SCALE) / SNAP_SCALE


def norm_lon(lon):
    """Normalize longitudes into [-180, 180)."""
    lon = np.asarray(lon, dtype=np.float64)
    return ((lon + 180.0) % 360.0) - 180.0


# ---------------------------------------------------------------------------
# cell keys (T13 / G4 encoding)
# ---------------------------------------------------------------------------

def cell_key(lat, lon, level: int):
    """Vectorized point → cell-key at ``level``.

    Pure arithmetic, O(1) per point — this deliberately removes the
    reference's point-location mutex cliff
    (/root/reference/include/osmtools/TriangulationGridLocater.h:134-140).
    Points are clamped to the valid domain (lat=90 lands in the top row).
    """
    if not 0 <= level <= MAX_LEVEL:
        raise ValueError(f"level must be in [0, {MAX_LEVEL}]")
    lat = np.asarray(lat, dtype=np.float64)
    lon = norm_lon(lon)
    nlat = np.int64(1) << level
    nlon = np.int64(2) << level
    iy = np.clip(np.floor((lat + 90.0) / 180.0 * nlat).astype(np.int64), 0, nlat - 1)
    ix = np.clip(np.floor((lon + 180.0) / 360.0 * nlon).astype(np.int64), 0, nlon - 1)
    return pack_key(level, iy, ix)


def cell_keys_multi(lat, lon, levels) -> dict:
    """{level: keys} for several probe levels from ONE float pass.

    Bit-identical to calling ``cell_key`` per level: the normalized
    fractions v are computed once, ``v * 2^L`` is an EXACT power-of-two
    scaling of the same rounded v for every L, so
    ``floor(v * 2^L) == floor(v * 2^Lmax) >> (Lmax - L)`` holds exactly
    (nested-floor identity over exact scalings; property-tested).  The
    adaptive index probes 4-5 levels per point — this replaces the per-level
    float pipeline (normalize, scale, floor, clip, two casts) with two int64
    shifts, roughly halving the key-derivation memory traffic in the
    flagship kernel's hot loop."""
    levels = sorted(int(L) for L in levels)
    if not levels:
        return {}
    for L in levels:
        if not 0 <= L <= MAX_LEVEL:
            raise ValueError(f"level must be in [0, {MAX_LEVEL}]")
    lat = np.asarray(lat, dtype=np.float64)
    lon = norm_lon(lon)
    Lm = levels[-1]
    nlat = np.int64(1) << Lm
    nlon = np.int64(2) << Lm
    iy = np.clip(np.floor((lat + 90.0) / 180.0 * nlat).astype(np.int64), 0, nlat - 1)
    ix = np.clip(np.floor((lon + 180.0) / 360.0 * nlon).astype(np.int64), 0, nlon - 1)
    out = {Lm: pack_key(Lm, iy, ix)}
    for L in levels[:-1]:
        k = Lm - L
        out[L] = pack_key(L, iy >> k, ix >> k)
    return out


def pack_key(level, iy, ix):
    level = np.int64(level)
    return (level << _LEVEL_SHIFT) | (np.asarray(iy, dtype=np.int64) << _IY_SHIFT) | np.asarray(ix, dtype=np.int64)


def unpack_key(key):
    """key → (level, iy, ix), vectorized."""
    key = np.asarray(key, dtype=np.int64)
    level = key >> _LEVEL_SHIFT
    iy = (key >> _IY_SHIFT) & ((np.int64(1) << (_LEVEL_SHIFT - _IY_SHIFT)) - 1)
    ix = key & ((np.int64(1) << _IY_SHIFT) - 1)
    return level, iy, ix


def cell_bounds(key):
    """key → (min_lat, max_lat, min_lon, max_lon), vectorized."""
    level, iy, ix = unpack_key(key)
    size = 180.0 / (np.int64(1) << level).astype(np.float64)
    min_lat = iy.astype(np.float64) * size - 90.0
    min_lon = ix.astype(np.float64) * size - 180.0
    return min_lat, min_lat + size, min_lon, min_lon + size


def cell_center(key):
    """key → (lat, lon) midpoint — the grid analog of the face centroid
    sample point (/root/reference/src/OsmTriangulationRegionStore.cpp:276-278)."""
    min_lat, max_lat, min_lon, max_lon = cell_bounds(key)
    return (min_lat + max_lat) / 2.0, (min_lon + max_lon) / 2.0


def cell_children(key):
    """One level down: the 2x2 children (quadtree split, reference default
    policy /root/reference/src/OsmGridRegionTree.cpp:70)."""
    level, iy, ix = unpack_key(key)
    level = int(np.asarray(level).reshape(-1)[0])
    if level >= MAX_LEVEL:
        raise ValueError("cannot subdivide beyond MAX_LEVEL")
    iy2, ix2 = iy * 2, ix * 2
    dy, dx = np.meshgrid([0, 1], [0, 1], indexing="ij")
    return pack_key(level + 1, (iy2[..., None] + dy.ravel()), (ix2[..., None] + dx.ravel())).ravel()


def cell_parent(key, levels_up: int = 1):
    level, iy, ix = unpack_key(key)
    lvl = level - levels_up
    return pack_key(0, iy >> levels_up, ix >> levels_up) | (lvl << _LEVEL_SHIFT)


def cell_ring(key: int, k: int):
    """All cells at the key's level with Chebyshev grid distance ≤ k
    (k=0 → the cell itself).  Longitude wraps; latitude clamps at the poles.

    This is the neighbor expansion the kNN operator walks — the grid-native
    version of the cell dual graph
    (/root/reference/src/OsmTriangulationRegionStore.cpp:382-429).
    Returns a 1-D int64 array (deduplicated, sorted).
    """
    level, iy, ix = unpack_key(np.int64(key))
    level, iy, ix = int(level), int(iy), int(ix)
    nlat = 1 << level
    nlon = 2 << level
    ys = np.arange(max(0, iy - k), min(nlat - 1, iy + k) + 1, dtype=np.int64)
    xs = np.arange(ix - k, ix + k + 1, dtype=np.int64) % nlon
    yy, xx = np.meshgrid(ys, xs, indexing="ij")
    keys = pack_key(level, yy.ravel(), xx.ravel())
    return np.unique(keys)


# ---------------------------------------------------------------------------
# distances
# ---------------------------------------------------------------------------

def haversine_m(lat1, lon1, lat2, lon2):
    """Great-circle distance in meters, vectorized.

    Stands in for the reference's GeodesicDistanceCalculator
    (DCT_GEODESIC_ACCURATE, /root/reference/src/CellCriteria.cpp:34)."""
    lat1, lon1, lat2, lon2 = (np.radians(np.asarray(a, dtype=np.float64)) for a in (lat1, lon1, lat2, lon2))
    dlat = lat2 - lat1
    dlon = lon2 - lon1
    h = np.sin(dlat / 2.0) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin(dlon / 2.0) ** 2
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.clip(h, 0.0, 1.0)))


def sq_euclid_deg(lat1, lon1, lat2, lon2):
    """Squared euclidean distance in snapped degree space.

    The kNN operator ranks by THIS metric (not haversine): products and sums
    of identical IEEE-754 doubles are bit-identical across engines, which
    makes kNN rankings reproducible in the DuckDB oracle.  Documented
    deviation from the reference's geodesic metric."""
    lat1, lon1, lat2, lon2 = (np.asarray(a, dtype=np.float64) for a in (lat1, lon1, lat2, lon2))
    dlat = lat1 - lat2
    dlon = lon1 - lon2
    return dlat * dlat + dlon * dlon


def wrap_sq_euclid_deg(lat1, lon1, lat2, lon2):
    """sq_euclid_deg with the longitude difference wrapped around ±180°
    (min(|Δlon|, 360−|Δlon|)) — the geodesically honest variant near the
    antimeridian.  Still built only from exact-or-correctly-rounded single
    float ops, so rankings reproduce bit-identically in the SQL oracle."""
    lat1, lon1, lat2, lon2 = (np.asarray(a, dtype=np.float64) for a in (lat1, lon1, lat2, lon2))
    dlat = lat1 - lat2
    dlon = np.abs(lon1 - lon2)
    dlon = np.minimum(dlon, 360.0 - dlon)
    return dlat * dlat + dlon * dlon


def cell_diag_m(key):
    """Geodesic diagonal of a cell — the refinement criterion quantity
    (FixedSizeDiagRefiner, /root/reference/src/OsmGridRegionTree.cpp:13-30)."""
    min_lat, max_lat, min_lon, max_lon = cell_bounds(key)
    return haversine_m(min_lat, min_lon, max_lat, max_lon)


# ---------------------------------------------------------------------------
# point-in-polygon (G6 exact refine)
# ---------------------------------------------------------------------------

#: target element count of the (points x edges) temporaries — keeps each
#: intermediate ≈512 KB so the ray cast's working set stays within a core's
#: PRIVATE cache instead of the shared L3 (the multiprocess-contention
#: microbench tools/pip_microbench.py, since deleted — recover it with
#: ``git show 0ecc20e:tools/pip_microbench.py`` — measured 4→16-proc
#: efficiency 0.95 at 65k elements vs 0.72 at 1M; the unchunked kernel was
#: measured 60.7 s vs 0.68 s on a 65k-point × 800-edge batch and did not
#: scale with cores).
_PIP_CHUNK_ELEMS = 65_536


def _ray_crossings(y, x, y1, x1, y2, x2):
    """Division-free ray-crossing predicate, elementwise over broadcast
    operands: ``x < x1 + (y-y1)/(y2-y1)*(x2-x1)`` cross-multiplied after
    scaling both sides by sign(y2-y1) — multiplying by ±1 is exact, so the
    strict `<` (the half-open boundary rule) is preserved for on-edge
    points, unlike a naive inequality flip which would turn `<` into `<=`
    on descending edges.  Measured ~15% faster than the division form
    under 16-way contention (by tools/pip_microbench.py, since deleted;
    recover it with ``git show 0ecc20e:tools/pip_microbench.py``); agrees
    with it exactly on vertex/edge points (exact products) and everywhere
    off-boundary."""
    straddle = (y1 <= y) != (y2 <= y)
    d = y2 - y1
    s = np.sign(d)
    lhs = (x - x1) * (d * s)          # (x - x1) * |d|
    rhs = (y - y1) * ((x2 - x1) * s)
    return straddle & (lhs < rhs)


def _point_in_ring_block(y, x, y1, x1, y2, x2):
    """Ray-cast parity of each row of a (points × edges) block."""
    return (_ray_crossings(y, x, y1, x1, y2, x2).sum(axis=1) % 2).astype(bool)


def point_in_ring(lats, lons, ring: np.ndarray):
    """Vectorized ray cast of n points against one closed ring.

    ``ring`` is (m, 2) float64 [[lat, lon], ...], first == last point
    (closedness enforced at extraction, /root/reference/src/AreaExtractor.cpp:59).
    Horizontal ray toward +lon; half-open edge rule ``lat1 <= y < lat2`` so a
    point exactly on a shared horizontal vertex is counted once — the
    determinism stand-in for CGAL's exact predicates.

    Points are processed in cache-sized chunks (see _PIP_CHUNK_ELEMS).
    Returns a boolean array of length n.
    """
    ys = np.asarray(lats, dtype=np.float64)
    xs = np.asarray(lons, dtype=np.float64)
    y1 = ring[:-1, 0][None, :]                         # (1,m-1)
    x1 = ring[:-1, 1][None, :]
    y2 = ring[1:, 0][None, :]
    x2 = ring[1:, 1][None, :]
    n = ys.shape[0]
    m = max(ring.shape[0] - 1, 1)
    chunk = max(64, _PIP_CHUNK_ELEMS // m)
    if n <= chunk:
        return _point_in_ring_block(ys[:, None], xs[:, None], y1, x1, y2, x2)
    out = np.empty(n, dtype=bool)
    for i in range(0, n, chunk):
        out[i : i + chunk] = _point_in_ring_block(
            ys[i : i + chunk, None], xs[i : i + chunk, None], y1, x1, y2, x2
        )
    return out


def ring_edges(ring: np.ndarray) -> np.ndarray:
    """(m,2) closed ring → (m-1, 4) edge array [y1, x1, y2, x2]."""
    return np.stack([ring[:-1, 0], ring[:-1, 1], ring[1:, 0], ring[1:, 1]], axis=1)


def clip_edges_for_cell(edges: np.ndarray, min_lat, max_lat, min_lon) -> np.ndarray:
    """Edges that can affect the ray-cast parity of ANY point inside the
    cell [min_lat, max_lat] × [min_lon, …):

    - an edge whose lat range misses the cell's lat band can never straddle
      a point latitude inside it;
    - an edge entirely WEST of the cell (both lons < min_lon) is never
      crossed by the eastward ray.

    This is the query-side counterpart of the definite/candidate split:
    large admin rings (thousands of edges) shrink to the handful of edges
    actually near the cell — the dominant PIP cost lever."""
    ylo = np.minimum(edges[:, 0], edges[:, 2])
    yhi = np.maximum(edges[:, 0], edges[:, 2])
    keep = (yhi > min_lat) & (ylo <= max_lat)
    west = np.maximum(edges[:, 1], edges[:, 3]) < min_lon
    return edges[keep & ~west]


def point_in_edges(lats, lons, edges: np.ndarray, frame: tuple | None = None):
    """Ray-cast parity against an explicit (k,4) edge set (same half-open
    rule as point_in_ring).  Callers are responsible for the edge set being
    parity-preserving for these points (see clip_edges_for_cell).  Probe
    lons are shifted into the REGION's continuous frame when the edges came
    from an antimeridian-wrapped region (identity otherwise).

    ``frame``: the owning region's (lon_lo, lon_hi) continuous frame.
    Callers holding the region should pass it: re-deriving the frame from a
    clipped edge SUBSET is wrong when the subset's max lon sits exactly at
    180.0 for a wrapped region — the `hi <= 180` identity check would then
    skip the probe shift and the parity would be cast against probes 360°
    away.  The subset-derived fallback remains for bare edge sets."""
    ys = np.asarray(lats, dtype=np.float64)
    xs = np.asarray(lons, dtype=np.float64)
    if edges.shape[0] == 0:
        return np.zeros(ys.shape[0], dtype=bool)
    if frame is not None:
        elo, ehi = frame
    else:
        elo = float(min(edges[:, 1].min(), edges[:, 3].min()))
        ehi = float(max(edges[:, 1].max(), edges[:, 3].max()))
    xs = wrap_lons_to_frame(xs, elo, ehi)
    y1 = edges[:, 0][None, :]
    x1 = edges[:, 1][None, :]
    y2 = edges[:, 2][None, :]
    x2 = edges[:, 3][None, :]
    n = ys.shape[0]
    m = edges.shape[0]
    chunk = max(64, _PIP_CHUNK_ELEMS // m)
    if n <= chunk:
        return _point_in_ring_block(ys[:, None], xs[:, None], y1, x1, y2, x2)
    out = np.empty(n, dtype=bool)
    for i in range(0, n, chunk):
        out[i : i + chunk] = _point_in_ring_block(
            ys[i : i + chunk, None], xs[i : i + chunk, None], y1, x1, y2, x2
        )
    return out


def point_in_rings(lats, lons, outer_rings, inner_rings=()):
    """PIP against a polygon-with-holes: inside any outer AND not inside any
    inner (/root/reference/include/osmtools/OsmGridRegionTree.h:34-63 —
    multipolygon = outer list + inner list).

    ``outer_rings`` / ``inner_rings``: sequences of (m,2) arrays in the
    continuous-frame convention (see unwrap_rings).  Probe lons are shifted
    into the rings' frame when the region wraps the antimeridian — identity
    (same array object) otherwise, so non-wrapped results stay bit-exact.
    """
    n = len(np.asarray(lats, dtype=np.float64))
    all_r = list(outer_rings) + list(inner_rings)
    if all_r:
        lo, hi = lon_frame(all_r)
        lons = wrap_lons_to_frame(lons, lo, hi)
    inside = np.zeros(n, dtype=bool)
    for ring in outer_rings:
        inside |= point_in_ring(lats, lons, ring)
    for ring in inner_rings:
        inside &= ~point_in_ring(lats, lons, ring)
    return inside


def segment_intersects_rect(y1, x1, y2, x2, min_lat, max_lat, min_lon, max_lon):
    """Vectorized segment-vs-axis-aligned-rectangle overlap test
    (Cohen–Sutherland style via Liang–Barsky clipping).  Used to classify a
    cell as 'full' (entirely inside a region — no boundary segment may cross
    it) vs 'partial' — the definite/candidate split of
    /root/reference/include/osmtools/OsmGridRegionTree.h:110-112.

    Inputs are arrays of segment endpoints; the rect bounds may be scalars
    or arrays — everything numpy-broadcasts (e.g. segments (s,1) against
    rects (1,c) for the batched quadtree cover).
    Returns boolean array: True where the segment touches the rect.
    """
    y1 = np.asarray(y1, dtype=np.float64)
    x1 = np.asarray(x1, dtype=np.float64)
    y2 = np.asarray(y2, dtype=np.float64)
    x2 = np.asarray(x2, dtype=np.float64)
    dy = y2 - y1
    dx = x2 - x1
    shape = np.broadcast(y1, x1, np.asarray(min_lat), np.asarray(min_lon)).shape
    t0 = np.zeros(shape, dtype=np.float64)
    t1 = np.ones(shape, dtype=np.float64)
    ok = np.ones(shape, dtype=bool)
    for p, q in (
        (-dx, x1 - min_lon),
        (dx, max_lon - x1),
        (-dy, y1 - min_lat),
        (dy, max_lat - y1),
    ):
        para_out = (p == 0) & (q < 0)
        ok &= ~para_out
        # over="ignore": q/p overflows to ±inf for denormal-tiny p — inf
        # participates correctly in the max/min clamps below, but the
        # warning would fail the property suite under -W error
        with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
            r = q / p
        enter = p < 0
        leave = p > 0
        t0 = np.where(enter, np.maximum(t0, r), t0)
        t1 = np.where(leave, np.minimum(t1, r), t1)
    return ok & (t0 <= t1)


def crosses_antimeridian(lon1, lon2):
    """True where a segment crosses the ±180° line — such segments are
    skipped in the reference's CDT segment extraction
    (/root/reference/src/OsmTriangulationRegionStore.cpp:819-822).  The
    reference applies this ONLY when extracting triangulation constraint
    segments; the region itself still participates in every query.  The
    coverage/PIP kernels below therefore do NOT use this guard — they
    handle wrapped regions via the continuous-frame convention
    (unwrap_rings) instead."""
    lon1 = norm_lon(lon1)
    lon2 = norm_lon(lon2)
    return np.abs(lon1 - lon2) > 180.0


# ---------------------------------------------------------------------------
# antimeridian handling: the continuous-frame convention
# ---------------------------------------------------------------------------
#
# A ring that crosses the ±180° line is represented in a CONTINUOUS
# longitude frame: consecutive vertices are always < 180° apart, so a
# Fiji-class ring runs e.g. 178 → 182 (not 178 → -178).  ``unwrap_rings``
# canonicalizes any input into this form (identity — same objects, zero
# copies — for rings already inside [-180, 180], which keeps every
# non-wrapped result bit-exact).  Coverage enumerates grid columns in the
# unwrapped frame and wraps the packed key's ix modulo nlon; query-time
# ray-casts shift probe lons into the ring's frame (wrap_lons_to_frame —
# again identity off the antimeridian).  Rings are assumed to span < 360°
# of longitude and to have true vertex steps < 180° (admin-boundary
# geometry; a ring legitimately wider than 180° per edge cannot be
# distinguished from a wrap).


def _unwrap_one(ring: np.ndarray) -> np.ndarray:
    """Make one ring's longitudes continuous (consecutive steps < 180°).
    Returns the input object unchanged when already continuous."""
    lons = ring[:, 1]
    d = np.diff(lons)
    if not (np.abs(d) > 180.0).any():
        return ring
    adj = np.cumsum(np.where(d > 180.0, -360.0, np.where(d < -180.0, 360.0, 0.0)))
    out = ring.copy()
    out[1:, 1] = lons[1:] + adj
    return out


def unwrap_rings(outer_rings, inner_rings=()):
    """Canonicalize a polygon-with-holes into the continuous-frame
    convention: every ring's lons continuous, all rings aligned to one
    common frame (holes shifted by ±360 next to their outer), the whole
    frame recentered so its midpoint lies in [-180, 180).

    Identity (same list elements, no copies) for geometry already inside
    [-180, 180] — the bit-exactness guarantee the oracle fixtures rely on.
    The cross-ring alignment below only runs when some ring actually wraps
    (an unwrap fired, or input lons exit [-180, 180]): a non-wrapped
    multipolygon whose rings legitimately sit > 180° apart in longitude
    (Guam + Alaska) must NOT have a ring shifted by 360 — each ring's
    ray-cast is frame-local, so mixed far-apart frames are fine as long as
    no shift perturbs the stored float magnitudes.
    """

    def _prep(r):
        a = np.asarray(r, dtype=np.float64)
        u = _unwrap_one(a)
        wrapped = (u is not a) or float(a[:, 1].min()) < -180.0 or float(a[:, 1].max()) > 180.0
        return u, wrapped

    prep_o = [_prep(r) for r in outer_rings]
    prep_i = [_prep(r) for r in inner_rings]
    outs = [u for u, _ in prep_o]
    inns = [u for u, _ in prep_i]
    if not outs and not inns:
        return outs, inns
    if not any(w for _, w in prep_o + prep_i):
        return outs, inns  # nothing wraps: identity, no cross-ring alignment
    ref = (outs or inns)[0]
    ref_mid = (float(ref[:, 1].min()) + float(ref[:, 1].max())) / 2.0

    def align(ring):
        mid = (float(ring[:, 1].min()) + float(ring[:, 1].max())) / 2.0
        k = np.round((ref_mid - mid) / 360.0)
        if k != 0.0:
            ring = ring.copy()
            ring[:, 1] += 360.0 * k
        return ring

    outs = [align(r) for r in outs]
    inns = [align(r) for r in inns]
    lo = min(float(r[:, 1].min()) for r in outs + inns)
    hi = max(float(r[:, 1].max()) for r in outs + inns)
    if lo >= -180.0 and hi <= 180.0:
        return outs, inns
    # recenter the frame midpoint into [-180, 180)
    k = np.floor(((lo + hi) / 2.0 + 180.0) / 360.0)
    if k != 0.0:
        outs = [np.concatenate([r[:, :1], r[:, 1:] - 360.0 * k], axis=1) for r in outs]
        inns = [np.concatenate([r[:, :1], r[:, 1:] - 360.0 * k], axis=1) for r in inns]
    return outs, inns


def lon_frame(rings) -> tuple[float, float]:
    """(min, max) longitude over a list of continuous-frame rings."""
    lo = min(float(r[:, 1].min()) for r in rings)
    hi = max(float(r[:, 1].max()) for r in rings)
    return lo, hi


def wrap_lons_to_frame(lons, lo: float, hi: float):
    """Shift each lon by the multiple of 360° that lands it nearest the
    frame midpoint.  Identity (the SAME array object — bit-exact) when the
    frame lies inside [-180, 180]: only antimeridian-wrapped geometry pays
    anything, and off-frame points get +0.0 exactly."""
    if lo >= -180.0 and hi <= 180.0:
        return lons
    mid = (lo + hi) / 2.0
    lons = np.asarray(lons, dtype=np.float64)
    return lons + 360.0 * np.round((mid - lons) / 360.0)


# ---------------------------------------------------------------------------
# region coverage (G4 index build kernel)
# ---------------------------------------------------------------------------

def _coverage_segments(all_rings):
    """(y1, x1, y2, x2) boundary-segment arrays of continuous-frame rings.
    No antimeridian guard here: in the continuous frame no segment jumps
    across the world, and dropping segments would (and, before round 4,
    did) erase whole wrapped regions from the index — the reference skips
    crossing segments only in CDT constraint extraction
    (/root/reference/src/OsmTriangulationRegionStore.cpp:819-822), not in
    region coverage."""
    return (
        np.concatenate([r[:-1, 0] for r in all_rings]),
        np.concatenate([r[:-1, 1] for r in all_rings]),
        np.concatenate([r[1:, 0] for r in all_rings]),
        np.concatenate([r[1:, 1] for r in all_rings]),
    )


def _grid_span(all_rings, level: int):
    """Unwrapped-frame grid span of the rings' bbox at ``level``:
    (iy_lo, iy_hi, ix_lo, ix_hi, nlat, nlon).  iy is clamped to the
    domain; ix is NOT — it indexes the continuous frame and may run past
    nlon-1 (or below 0) for wrapped regions; pack time wraps it modulo
    nlon.  The hi edges use ceil-1 so a bbox corner exactly ON a cell
    boundary does not pull in the touch-only next cell (this is what made
    lon=+180 wrap to column 0 and empty the whole range)."""
    pts = np.vstack(all_rings)
    min_lat, max_lat = pts[:, 0].min(), pts[:, 0].max()
    min_lon, max_lon = pts[:, 1].min(), pts[:, 1].max()
    nlat = np.int64(1) << level
    nlon = np.int64(2) << level
    # same float expression shape as cell_key (divide by the domain, then
    # multiply by the power-of-two count) — bit-identical binning
    iy_lo = int(np.clip(np.floor((min_lat + 90.0) / 180.0 * nlat), 0, nlat - 1))
    iy_hi = int(np.clip(np.ceil((max_lat + 90.0) / 180.0 * nlat) - 1, 0, nlat - 1))
    ix_lo = int(np.floor((min_lon + 180.0) / 360.0 * nlon))
    ix_hi = int(np.ceil((max_lon + 180.0) / 360.0 * nlon) - 1)
    iy_hi = max(iy_hi, iy_lo)
    ix_hi = max(ix_hi, ix_lo)
    if ix_hi - ix_lo + 1 > int(nlon):  # ≥360° of longitude: one full band
        ix_hi = ix_lo + int(nlon) - 1
    return iy_lo, iy_hi, ix_lo, ix_hi, nlat, nlon


def _classify_cells(iy, ix, level: int, outer_rings, inner_rings, segs):
    """(center_in, touched) for cells given by UNWRAPPED (iy, ix) arrays at
    ``level`` — all geometry in the rings' continuous frame.  Bounds use
    the exact float ops of cell_bounds/cell_center so in-range results are
    bit-identical to the packed-key path."""
    size = 180.0 / float(np.int64(1) << level)
    min_lat = iy.astype(np.float64) * size - 90.0
    max_lat = min_lat + size
    min_lon = ix.astype(np.float64) * size - 180.0
    max_lon = min_lon + size
    clat = (min_lat + max_lat) / 2.0
    clon = (min_lon + max_lon) / 2.0
    center_in = point_in_rings(clat, clon, outer_rings, inner_rings)
    seg_y1, seg_x1, seg_y2, seg_x2 = segs
    touched = np.zeros(iy.shape, dtype=bool)
    # batched segment-vs-rect: (segments × cell-chunk) broadcast, chunked
    # to bound temporaries (a per-cell Python loop dominated the build)
    ch = max(1, 4_000_000 // max(len(seg_y1), 1))
    for i0 in range(0, iy.size, ch):
        sl = slice(i0, min(i0 + ch, iy.size))
        touched[sl] = segment_intersects_rect(
            seg_y1[:, None], seg_x1[:, None], seg_y2[:, None], seg_x2[:, None],
            min_lat[sl][None, :], max_lat[sl][None, :],
            min_lon[sl][None, :], max_lon[sl][None, :],
        ).any(axis=0)
    return center_in, touched


def covering_cells(outer_rings, inner_rings, level: int):
    """Cells at ``level`` overlapping a polygon-with-holes, classified
    full/partial.

    Returns (keys: int64[], full: bool[]).  'full' means the whole cell is
    inside the region (all of it passes PIP without a geometry test at query
    time — the 'definite' list of
    /root/reference/include/osmtools/OsmGridRegionTree.h:109-120).
    Classification is conservative: a cell is 'full' only if its center is
    inside AND no boundary segment of any ring intersects the cell rect.

    Antimeridian-wrapped regions are handled via the continuous-frame
    convention (unwrap_rings): columns are enumerated in the unwrapped
    frame and the packed key's ix wraps modulo nlon, so a Fiji/Chukotka
    region covers cells on BOTH sides of ±180°.
    """
    outer_rings, inner_rings = unwrap_rings(outer_rings, inner_rings)
    all_rings = list(outer_rings) + list(inner_rings)
    iy_lo, iy_hi, ix_lo, ix_hi, _nlat, nlon = _grid_span(all_rings, level)
    ys = np.arange(iy_lo, iy_hi + 1, dtype=np.int64)
    xs = np.arange(ix_lo, ix_hi + 1, dtype=np.int64)
    yy, xx = np.meshgrid(ys, xs, indexing="ij")
    iy, ix = yy.ravel(), xx.ravel()
    if iy.size == 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=bool)

    segs = _coverage_segments(all_rings)
    center_in, touched = _classify_cells(iy, ix, level, outer_rings, inner_rings, segs)
    keys = pack_key(level, iy, ix % nlon)
    full = center_in & ~touched
    # a cell overlaps the region iff its center is inside OR boundary touches it
    overlap = center_in | touched
    return keys[overlap], full[overlap]


def adaptive_covering_cells(outer_rings, inner_rings, base_level: int, max_level: int):
    """Quadtree coverage: start at ``base_level``; FULL cells are kept as-is,
    PARTIAL cells are recursively subdivided until ``max_level`` — the
    reference's GridRegionTree recursion
    (/root/reference/src/OsmGridRegionTree.cpp:133-140, refinement predicate
    :13-30).  Index size is boundary-linear instead of area-quadratic.

    Returns (keys int64[], full bool[]) with keys at MIXED levels; the
    coverage cells partition the region (disjoint across levels), so a
    point matches at most one coverage cell per region.  The recursion runs
    entirely in the rings' continuous frame (unwrapped iy/ix — consistent
    across levels since child ix = 2·ix + dx commutes with the wrap); keys
    wrap modulo nlon only at pack time.
    """
    outer_rings, inner_rings = unwrap_rings(outer_rings, inner_rings)
    all_rings = list(outer_rings) + list(inner_rings)
    iy_lo, iy_hi, ix_lo, ix_hi, _nlat, nlon = _grid_span(all_rings, base_level)
    ys = np.arange(iy_lo, iy_hi + 1, dtype=np.int64)
    xs = np.arange(ix_lo, ix_hi + 1, dtype=np.int64)
    yy, xx = np.meshgrid(ys, xs, indexing="ij")
    iy, ix = yy.ravel(), xx.ravel()
    segs = _coverage_segments(all_rings)

    out_keys: list[np.ndarray] = []
    out_full: list[np.ndarray] = []
    level = base_level
    while True:
        if iy.size == 0:
            break
        center_in, touched = _classify_cells(iy, ix, level, outer_rings, inner_rings, segs)
        is_full = center_in & ~touched
        overlap = center_in | touched
        keys = pack_key(level, iy, ix % (np.int64(2) << level))
        out_keys.append(keys[is_full])
        out_full.append(np.ones(int(is_full.sum()), dtype=bool))
        part = overlap & ~is_full
        if level >= max_level:  # max_level partial leaves stay candidates
            out_keys.append(keys[part])
            out_full.append(np.zeros(int(part.sum()), dtype=bool))
            break
        # vectorized 2x2 split of every partial cell at once
        piy, pix = iy[part], ix[part]
        dy, dx = np.meshgrid([0, 1], [0, 1], indexing="ij")
        iy = ((piy * 2)[:, None] + dy.ravel()[None, :]).ravel()
        ix = ((pix * 2)[:, None] + dx.ravel()[None, :]).ravel()
        level += 1
    if not out_keys:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=bool)
    return np.concatenate(out_keys), np.concatenate(out_full)


def rect_ring(min_lat, min_lon, max_lat, max_lon) -> np.ndarray:
    """Closed 5-point CCW ring from a rect — GeoPolygon::fromRect
    (/root/reference/src/types.cpp:9-17)."""
    return np.array(
        [
            [min_lat, min_lon],
            [min_lat, max_lon],
            [max_lat, max_lon],
            [max_lat, min_lon],
            [min_lat, min_lon],
        ],
        dtype=np.float64,
    )
