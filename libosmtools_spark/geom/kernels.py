"""Pure-numpy geometry kernels (no Spark dependency).

This is the vectorized core of the engine: hierarchical cell-key encoding
(our h3/s2-free grid — the reference's index is likewise a plain uniform
lat/lon grid refined quadtree-style, see
/root/reference/src/OsmGridRegionTree.cpp:133-140), deterministic
coordinate snapping (snapPoints, /root/reference/src/OsmGridRegionTree.cpp:96-103),
ray-casting point-in-polygon with a half-open edge rule (the engine's
replacement for CGAL exact predicates,
/root/reference/include/osmtools/OsmTriangulationRegionStore.h:199-205),
antimeridian frames and the quadtree covering of the region store.
Distances and cell-ring expansion run JVM-side (``geom.columns``).

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


#: pad, in degrees, of each boundary segment's bbox in the covering's
#: (cell, segment) pair filter: far above the float error of
#: ``segment_intersects_rect`` at frame coordinates (|lon| < 540°, ulp
#: ~1e-13) and far below a MAX_LEVEL cell (~2.7e-6°), so a pair the filter
#: drops is one Liang–Barsky could never report as touching
_COVER_EPS = 1e-9


def _cell_rects(iy, ix, level: int):
    """(min_lat, max_lat, min_lon, max_lon) of cells given by UNWRAPPED
    (iy, ix) arrays at ``level``, in the rings' continuous frame — the
    float ops of cell_bounds, so in-range results are bit-identical to the
    packed-key path."""
    size = 180.0 / float(np.int64(1) << level)
    min_lat = iy.astype(np.float64) * size - 90.0
    min_lon = ix.astype(np.float64) * size - 180.0
    return min_lat, min_lat + size, min_lon, min_lon + size


def _segment_boxes(segs):
    """(lat_lo, lat_hi, lon_lo, lon_hi) of each segment's bbox padded by
    ``_COVER_EPS``."""
    y1, x1, y2, x2 = segs
    return (
        np.minimum(y1, y2) - _COVER_EPS,
        np.maximum(y1, y2) + _COVER_EPS,
        np.minimum(x1, x2) - _COVER_EPS,
        np.maximum(x1, x2) + _COVER_EPS,
    )


def _expand(counts):
    """(owner, offset) of each of Σ ``counts`` items: owner i holds
    ``counts[i]`` items, at offsets 0 … counts[i] - 1, in owner order."""
    owner = np.repeat(np.arange(len(counts), dtype=np.int64), counts)
    return owner, np.arange(owner.size, dtype=np.int64) - (np.cumsum(counts) - counts)[owner]


def _base_pairs(boxes, seg_region, level: int, spans, cell_start):
    """(cell, segment) candidate pairs of the base grid: each segment
    against the cells of its padded bbox widened by one cell (slack for
    the float binning), clipped to its region's span.  ``spans`` holds
    the per-region (iy_lo, iy_hi, ix_lo, ix_hi) arrays; ``cell`` is
    ``cell_start[region]`` plus the row-major index into the region's span
    grid, the order ``covering_rows`` enumerates it in.  The pair count is
    Σ per-segment bbox cells — boundary-linear, never segments × cells."""
    iy_lo, iy_hi, ix_lo, ix_hi = (a[seg_region] for a in spans)
    lat_lo, lat_hi, lon_lo, lon_hi = boxes
    nlat = float(np.int64(1) << level)
    nlon = float(np.int64(2) << level)
    y0 = np.clip(np.floor((lat_lo + 90.0) / 180.0 * nlat).astype(np.int64) - 1, iy_lo, iy_hi)
    y1 = np.clip(np.floor((lat_hi + 90.0) / 180.0 * nlat).astype(np.int64) + 1, iy_lo, iy_hi)
    x0 = np.clip(np.floor((lon_lo + 180.0) / 360.0 * nlon).astype(np.int64) - 1, ix_lo, ix_hi)
    x1 = np.clip(np.floor((lon_hi + 180.0) / 360.0 * nlon).astype(np.int64) + 1, ix_lo, ix_hi)
    nx = x1 - x0 + 1
    seg, off = _expand((y1 - y0 + 1) * nx)
    iy = y0[seg] + off // nx[seg]
    ix = x0[seg] + off % nx[seg]
    width = ix_hi - ix_lo + 1
    return cell_start[seg_region[seg]] + (iy - iy_lo[seg]) * width[seg] + (ix - ix_lo[seg]), seg


def _centers_inside(lat, lon, region, store):
    """``point_in_rings`` of each point against its own region's rings
    (``store`` as ``covering_rows`` builds it), for points that share few
    distinct latitudes (the cell centers of one level).  A point meets only
    the edges of its region that straddle its latitude: every other edge's
    ``_ray_crossings`` term is False, so each ring's crossing parity, and
    the result, are ``point_in_rings``' exactly, at (points × straddling
    edges) cost."""
    (y1, x1, y2, x2), seg_ring, ring_outer, edge_start, edge_count, (lo, hi) = store
    # wrap_lons_to_frame per region: identity where the frame lies in
    # [-180, 180], the same float ops elsewhere
    flo, fhi = lo[region], hi[region]
    wrap = np.flatnonzero((flo < -180.0) | (fhi > 180.0))
    if wrap.size:
        lon = lon.copy()
        mid = (flo[wrap] + fhi[wrap]) / 2.0
        lon[wrap] = lon[wrap] + 360.0 * np.round((mid - lon[wrap]) / 360.0)
    # one row per distinct (region, latitude), and its straddling edges
    order = np.lexsort((lat, region))
    first = np.ones(order.size, dtype=bool)
    first[1:] = (region[order][1:] != region[order][:-1]) | (lat[order][1:] != lat[order][:-1])
    row_of = np.empty(order.size, dtype=np.int64)
    row_of[order] = np.cumsum(first) - 1
    row_region, row_lat = region[order][first], lat[order][first]
    row, off = _expand(edge_count[row_region])
    edge = edge_start[row_region][row] + off
    straddle = (y1[edge] <= row_lat[row]) != (y2[edge] <= row_lat[row])
    row, edge = row[straddle], edge[straddle]
    per_row = np.bincount(row, minlength=row_lat.size)
    pt, off = _expand(per_row[row_of])
    edge = edge[(np.cumsum(per_row) - per_row)[row_of[pt]] + off]
    cross = _ray_crossings(lat[pt], lon[pt], y1[edge], x1[edge], y2[edge], x2[edge])
    # crossing parity per (point, ring)
    n_rings = np.int64(ring_outer.size)
    keys, n = np.unique(pt[cross] * n_rings + seg_ring[edge[cross]], return_counts=True)
    odd = keys[n % 2 == 1]
    odd_pt, odd_outer = odd // n_rings, ring_outer[odd % n_rings]
    in_outer = np.zeros(lat.size, dtype=bool)
    in_outer[odd_pt[odd_outer]] = True
    in_inner = np.zeros(lat.size, dtype=bool)
    in_inner[odd_pt[~odd_outer]] = True
    return in_outer & ~in_inner


#: (dy, dx) of a cell's 4 children, in the order the covering emits them
_CHILD_DY = np.array([0, 0, 1, 1], dtype=np.int64)
_CHILD_DX = np.array([0, 1, 0, 1], dtype=np.int64)


def covering_rows(regions, base_level: int, max_level: int):
    """Quadtree coverage of a region store: each region's cells start at
    ``base_level``; FULL cells are kept as-is, PARTIAL cells are
    recursively subdivided until ``max_level`` — the reference's
    GridRegionTree recursion (/root/reference/src/OsmGridRegionTree.cpp:133-140,
    refinement predicate :13-30).  Index size is boundary-linear instead
    of area-quadratic.  ``base_level == max_level`` is the flat
    single-level covering.

    ``regions``: a sequence of (outer rings, inner rings).  Returns
    (region int64[], keys int64[], full bool[]): ``region`` indexes
    ``regions``, keys are at MIXED levels.  A region's coverage cells
    partition it (disjoint across levels), so a point matches at most one
    coverage cell per region.  A cell is 'partial' iff a boundary segment
    of one of its region's rings touches its rect
    (``segment_intersects_rect``), and 'full' iff it is untouched and its
    center is inside (the 'definite' list of
    /root/reference/include/osmtools/OsmGridRegionTree.h:109-120); other
    cells are dropped.  Rows come region by region; within a region, level
    by level: each level's full cells in cell order, then, at
    ``max_level``, its partial leaves.

    Boundary-local: the touch test runs only on (cell, segment) pairs
    whose padded segment bbox meets the cell.  The base grid's pairs come
    from each segment's bbox cell range (``_base_pairs``); a partial
    cell's 4 children inherit its surviving pairs, so work follows the
    boundary.  The center ray cast runs only on untouched cells, against
    the edges straddling each center's latitude (``_centers_inside``).
    All regions go through each level together, so the per-level numpy
    calls are paid once per call, not once per region.

    Antimeridian-wrapped regions are handled via the continuous-frame
    convention (unwrap_rings): the recursion runs on unwrapped iy/ix
    (consistent across levels since child ix = 2·ix + dx commutes with the
    wrap), so a Fiji/Chukotka region covers cells on BOTH sides of ±180°;
    keys wrap modulo nlon only at pack time.
    """
    rings, ring_outer, ring_region, spans, frames = [], [], [], [], []
    for r, (outers, inners) in enumerate(regions):
        outers, inners = unwrap_rings(outers, inners)
        all_rings = list(outers) + list(inners)
        spans.append(_grid_span(all_rings, base_level)[:4])
        frames.append(lon_frame(all_rings))
        rings += all_rings
        ring_outer += [True] * len(outers) + [False] * len(inners)
        ring_region += [r] * len(all_rings)
    if not rings:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64), np.zeros(0, dtype=bool)
    seg_ring = np.repeat(np.arange(len(rings), dtype=np.int64), [len(r) - 1 for r in rings])
    seg_region = np.asarray(ring_region, dtype=np.int64)[seg_ring]
    segs = _coverage_segments(rings)
    seg_y1, seg_x1, seg_y2, seg_x2 = segs
    edge_count = np.bincount(seg_region, minlength=len(spans))
    # the rings as flat arrays: segments, each segment's ring, which rings
    # are outer, each region's (contiguous) edge range and lon frame
    store = (
        segs,
        seg_ring,
        np.asarray(ring_outer, dtype=bool),
        np.cumsum(edge_count) - edge_count,
        edge_count,
        tuple(np.asarray(f, dtype=np.float64) for f in zip(*frames)),
    )
    spans = tuple(np.asarray(a, dtype=np.int64) for a in zip(*spans))
    iy_lo, iy_hi, ix_lo, ix_hi = spans
    width = ix_hi - ix_lo + 1
    n_cells = (iy_hi - iy_lo + 1) * width
    cell_region, off = _expand(n_cells)
    iy = iy_lo[cell_region] + off // width[cell_region]
    ix = ix_lo[cell_region] + off % width[cell_region]
    boxes = _segment_boxes(segs)
    box_lat_lo, box_lat_hi, box_lon_lo, box_lon_hi = boxes
    pair_cell, pair_seg = _base_pairs(
        boxes, seg_region, base_level, spans, np.cumsum(n_cells) - n_cells
    )

    out_region: list[np.ndarray] = []
    out_keys: list[np.ndarray] = []
    out_full: list[np.ndarray] = []
    level = base_level
    while iy.size:
        min_lat, max_lat, min_lon, max_lon = _cell_rects(iy, ix, level)
        pc, ps = pair_cell, pair_seg
        lat0, lat1, lon0, lon1 = min_lat[pc], max_lat[pc], min_lon[pc], max_lon[pc]
        near = (
            (box_lat_lo[ps] <= lat1)
            & (box_lat_hi[ps] >= lat0)
            & (box_lon_lo[ps] <= lon1)
            & (box_lon_hi[ps] >= lon0)
        )
        pc, ps = pc[near], ps[near]
        hit = segment_intersects_rect(
            seg_y1[ps], seg_x1[ps], seg_y2[ps], seg_x2[ps],
            lat0[near], lat1[near], lon0[near], lon1[near],
        )
        touched = np.zeros(iy.size, dtype=bool)
        touched[pc[hit]] = True
        free = np.flatnonzero(~touched)
        is_full = np.zeros(iy.size, dtype=bool)
        is_full[free] = _centers_inside(
            (min_lat[free] + max_lat[free]) / 2.0,
            (min_lon[free] + max_lon[free]) / 2.0,
            cell_region[free],
            store,
        )
        keys = pack_key(level, iy, ix % (np.int64(2) << level))
        out_region.append(cell_region[is_full])
        out_keys.append(keys[is_full])
        out_full.append(np.ones(int(is_full.sum()), dtype=bool))
        if level >= max_level:  # max_level partial leaves stay candidates
            out_region.append(cell_region[touched])
            out_keys.append(keys[touched])
            out_full.append(np.zeros(int(touched.sum()), dtype=bool))
            break
        # vectorized 2x2 split of every partial cell at once; child j of
        # the k-th partial cell sits at 4k + j and inherits its pairs
        iy = ((iy[touched] * 2)[:, None] + _CHILD_DY).ravel()
        ix = ((ix[touched] * 2)[:, None] + _CHILD_DX).ravel()
        cell_region = np.repeat(cell_region[touched], 4)
        rank = np.cumsum(touched) - 1
        keep = touched[pc]
        pair_cell = ((rank[pc[keep]] * 4)[:, None] + np.arange(4)[None, :]).ravel()
        pair_seg = np.repeat(ps[keep], 4)
        level += 1
    region = np.concatenate(out_region)
    order = np.argsort(region, kind="stable")
    return region[order], np.concatenate(out_keys)[order], np.concatenate(out_full)[order]


def adaptive_covering_cells(outer_rings, inner_rings, base_level: int, max_level: int):
    """(keys int64[], full bool[]): ``covering_rows`` of one region (a
    polygon-with-holes)."""
    _, keys, full = covering_rows([(outer_rings, inner_rings)], base_level, max_level)
    return keys, full


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
