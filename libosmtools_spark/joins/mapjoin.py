"""Zero-shuffle flagship: the broadcast-store map-side spatial join.

The reference's query path is a per-point lookup against an in-memory
GridRegionTree (/root/reference/include/osmtools/OsmGridRegionTree.h:109-151)
— no data movement at all.  When the polygon store + cell index broadcast
(the normal case: the store is a dimension table), the Spark-faithful
translation is a single ``mapInArrow`` pass:

    pages → one text-in Arrow-batched map (RE2 geocode + cell keys +
    region resolution all inside the batch) → (url, cell_key, region_ids)

ZERO shuffles, embarrassingly parallel, scales linearly with executors.
``_resolve_masks`` is the engine's one region resolver: the flagship
(``map_spatial_join_text``), the cells dictionary (cells/assign.py) and
the lat/lon variant ``map_spatial_join`` — for callers whose coordinates
already exist as columns (streaming joins, oracle queries) — all resolve
through it.  The relational join (joins/spatial.py) is the fallback for
stores too large to broadcast.

The broadcast is ``build_cell_candidates``' per-level tables, nothing
else: the kernel never reads the rings.  Points in FULL cells take their
regions from one searchsorted + mask-row OR per level.  Points in PARTIAL
(boundary) cells ray-cast against each candidate region's edges pre-clipped
to the cell, stored flat per level (``PartialCells``: cell → (region,
frame) pairs → edges, CSR), so one segmented vector pass resolves every
boundary point of a batch with no per-cell Python loop (the flat per-cell
edge layout of *Raster Intervals*, SIGMOD 2023).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from libosmtools_spark.geom import kernels as K


class PartialCells:
    """One level's partial (boundary) candidates as CSR arrays, read-only.

    - ``cell_ptr`` int64[k+1]: cell ``i``'s candidate pairs are
      ``cell_ptr[i]:cell_ptr[i+1]`` (cells follow the level's sorted keys);
    - ``region`` int64[P], ``lon_lo`` / ``lon_hi`` float64[P]: each pair's
      region id and that REGION's continuous longitude frame;
    - ``edge_ptr`` int64[P+1]: pair ``p``'s edges are
      ``edges[edge_ptr[p]:edge_ptr[p+1]]``;
    - ``edges`` float64[E, 4]: ``[y1, x1, y2, x2]`` rows, each pair's
      region boundary clipped to the cell (kernels.clip_edges_for_cell).

    ``view[i]`` is cell ``i``'s ``[(region_id, edges, lon_lo, lon_hi),
    ...]`` list, or None when the cell has no partial candidate — the
    per-cell shape readers outside the resolver (perfbench/layers.py)
    iterate."""

    __slots__ = ("cell_ptr", "region", "lon_lo", "lon_hi", "edge_ptr", "edges")

    def __init__(self, cell_ptr, region, lon_lo, lon_hi, edge_ptr, edges):
        self.cell_ptr = cell_ptr
        self.region = region
        self.lon_lo = lon_lo
        self.lon_hi = lon_hi
        self.edge_ptr = edge_ptr
        self.edges = edges

    def __len__(self) -> int:
        return len(self.cell_ptr) - 1

    def __getitem__(self, i):
        if not 0 <= i < len(self):
            raise IndexError(i)
        a, b = int(self.cell_ptr[i]), int(self.cell_ptr[i + 1])
        if a == b:
            return None
        ep = self.edge_ptr
        return [
            (int(self.region[p]), self.edges[ep[p] : ep[p + 1]], float(self.lon_lo[p]), float(self.lon_hi[p]))
            for p in range(a, b)
        ]


def build_cell_candidates(cell_index_pdf: pd.DataFrame, rings: dict) -> dict:
    """Broadcast-ready per-LEVEL lookup tables from the cell-coverage index
    (dimension-scale; the index may hold mixed-level keys — the adaptive
    default) and the store's rings (region_id → (outers, inners), the
    continuous-frame ``rings_lookup``).

    Returns ``{"n_regions": int, "n_words": int, "levels": {level:
    (keys_sorted int64[k], full_masks int64[k, n_words], partial
    PartialCells[k], has_part bool[k])}}``:

    - ``full_masks[i]`` is the OR of the region bits FULLY covering cell
      ``keys_sorted[i]`` — the kernel resolves full hits with one batched
      searchsorted + mask-row OR, NO per-cell Python (a per-cell loop over
      the adaptive index's thousands of fine cells was pure interpreter
      overhead — measured 2× the whole flagship);
    - ``partial`` holds, per cell, one (region, lon_lo, lon_hi) pair per
      region whose boundary touches the cell, with that region's edges
      pre-clipped to the cell (kernels.clip_edges_for_cell, the cell's lon
      window shifted into the region's frame): a planet-size ring shrinks
      to the few edges near the cell, which is where the ray-cast cost
      goes.  (lon_lo, lon_hi) is the owning REGION's continuous longitude
      frame, so query-time probe shifting never re-derives a frame from the
      clipped subset (whose max lon can sit exactly at 180.0 for a wrapped
      region and defeat the identity check).  Parity over the combined
      outer+inner edge set is the even-odd rule — equivalent to
      inside(outer) ∧ ¬inside(hole) for nested holes (the region model).

    Rows are ordered by (cell key, region id), so the tables do not depend
    on the index's row order (driver-local and distributed builds give
    identical tables)."""
    ck = cell_index_pdf["cell_key"].to_numpy(dtype=np.int64)
    rid = cell_index_pdf["region_id"].to_numpy(dtype=np.int64)
    full = cell_index_pdf["full"].to_numpy(dtype=bool)
    n_regions = int(rid.max()) + 1 if len(rid) else 0
    n_words = max(1, (n_regions + 62) // 63)
    word = rid // 63
    bit_val = np.int64(1) << (rid % 63).astype(np.int64)

    # (edges, lon_lo, lon_hi) stacked once per REGION, not per cell
    region_edges: dict[int, tuple] = {}

    levels: dict[int, tuple] = {}
    lv_of = ck >> K._LEVEL_SHIFT
    for lv in np.unique(lv_of):
        m = lv_of == lv
        order = np.lexsort((rid[m], ck[m]))
        skeys = ck[m][order]
        srid = rid[m][order]
        sfull = full[m][order]
        sword = word[m][order]
        sbit = bit_val[m][order]
        uniq = np.unique(skeys)
        grp_idx = np.searchsorted(uniq, skeys)  # row → unique-cell index
        full_masks = np.zeros((len(uniq), n_words), dtype=np.int64)
        frows = np.flatnonzero(sfull)
        np.bitwise_or.at(full_masks, (grp_idx[frows], sword[frows]), sbit[frows])
        # one candidate pair per partial row, in (cell, region) order
        prows = np.flatnonzero(~sfull)
        p_g = grp_idx[prows]  # unique-cell index per pair
        p_r = srid[prows]  # owning region per pair
        lon_lo = np.empty(len(prows))
        lon_hi = np.empty(len(prows))
        pair_of = [np.empty(0, dtype=np.int64)]
        pair_edges = [np.empty((0, 4))]
        # clipped REGION-AT-A-TIME: each region does ONE vectorized
        # bounds + frame pass over all its cells and a chunked 2-D
        # (cells × edges) clip mask — no per-cell Python
        for r in np.unique(p_r):
            cached = region_edges.get(int(r))
            if cached is None:
                outers, inners = rings[int(r)]
                arr = np.vstack([K.ring_edges(rr) for rr in list(outers) + list(inners)])
                ylo = np.minimum(arr[:, 0], arr[:, 2])
                yhi = np.maximum(arr[:, 0], arr[:, 2])
                emax = np.maximum(arr[:, 1], arr[:, 3])
                elo = float(min(arr[:, 1].min(), arr[:, 3].min()))
                ehi = float(max(arr[:, 1].max(), arr[:, 3].max()))
                cached = region_edges[int(r)] = (arr, ylo, yhi, emax, elo, ehi)
            arr, ylo, yhi, emax, elo, ehi = cached
            rows_r = np.flatnonzero(p_r == r)
            lon_lo[rows_r] = elo
            lon_hi[rows_r] = ehi
            min_lat, max_lat, min_lon, max_lon = K.cell_bounds(uniq[p_g[rows_r]])
            # shift each cell's lon window into the region's continuous
            # frame (antimeridian-wrapped regions store lons past ±180;
            # identity — shift +0.0 — otherwise)
            c = (min_lon + max_lon) / 2.0
            cw = np.asarray(K.wrap_lons_to_frame(c, elo, ehi), dtype=np.float64)
            sh_min_lon = min_lon + (cw - c)
            # chunked (cells × edges) keep mask — clip_edges_for_cell's
            # predicate, evaluated for all cells at once
            step = max(1, 4_000_000 // max(len(arr), 1))
            for s in range(0, len(rows_r), step):
                ch = slice(s, s + step)
                keep2d = (
                    (yhi[None, :] > min_lat[ch, None])
                    & (ylo[None, :] <= max_lat[ch, None])
                    & (emax[None, :] >= sh_min_lon[ch, None])
                )
                j, e = np.nonzero(keep2d)  # row-major: each pair's edges in ring order
                pair_of.append(rows_r[ch][j])
                pair_edges.append(arr[e])
        pair_of = np.concatenate(pair_of)
        by_pair = np.argsort(pair_of, kind="stable")
        edge_ptr = np.zeros(len(prows) + 1, dtype=np.int64)
        np.cumsum(np.bincount(pair_of, minlength=len(prows)), out=edge_ptr[1:])
        cell_ptr = np.zeros(len(uniq) + 1, dtype=np.int64)
        np.cumsum(np.bincount(p_g, minlength=len(uniq)), out=cell_ptr[1:])
        partial = PartialCells(
            cell_ptr, p_r, lon_lo, lon_hi, edge_ptr, np.concatenate(pair_edges)[by_pair]
        )
        levels[int(lv)] = (uniq, full_masks, partial, np.diff(cell_ptr) > 0)
    return {"n_regions": n_regions, "n_words": n_words, "levels": levels}


def _masks_to_region_lists(masks: np.ndarray):
    """(n, n_words) int64 bitmasks → (offsets, values) int32 arrays for a
    ``pa.ListArray`` of ascending region ids per row.

    Vectorized via unique-mask dictionary decode: points in the same cell
    share the same mask, so distinct masks ≈ distinct occupied cells — the
    per-row work is a gather, and only the (small) unique set is decoded
    bit by bit.  This replaces the former JVM decode expression
    (filter/flatten/transform over sequence(0,62)), a NESTED higher-order
    function that Catalyst evaluates interpreted, outside whole-stage
    codegen — measured as a significant slice of the flagship wall at the
    scaling tier (63 CASE evaluations per row per mask word)."""
    n, n_words = masks.shape
    if n == 0:
        return np.zeros(1, dtype=np.int32), np.empty(0, dtype=np.int32)
    if n_words == 1:
        u, inv = np.unique(masks[:, 0], return_inverse=True)
        u = u[:, None]
    else:
        u, inv = np.unique(masks, axis=0, return_inverse=True)
    inv = inv.ravel()
    dec = []
    for row in u:
        ids = []
        for w in range(n_words):
            m = int(row[w])
            while m:
                low = m & -m
                ids.append(w * 63 + low.bit_length() - 1)
                m ^= low
        dec.append(np.asarray(ids, dtype=np.int32))
    ulen = np.fromiter((len(d) for d in dec), dtype=np.int64, count=len(dec))
    uoff = np.concatenate(([0], np.cumsum(ulen)))[:-1]
    flat = np.concatenate(dec)
    lens = ulen[inv]
    offs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    total = int(offs[-1])
    if total == 0:
        return offs.astype(np.int32), np.empty(0, dtype=np.int32)
    idx = np.repeat(uoff[inv], lens) + (
        np.arange(total, dtype=np.int64) - np.repeat(offs[:-1], lens)
    )
    return offs.astype(np.int32), flat[idx]


def _resolve_masks(la, lo, keys, tabs, rings, index_levels, n_words) -> np.ndarray:
    """The kernel core: (lat, lon, cell_key[-1 sentinel]) arrays → (n,
    n_words) int64 region bitmasks, from ``build_cell_candidates``' tables
    alone.  Per level, every point's key at that level is probed with one
    searchsorted: definite regions OR in as full-mask rows, and the points
    of partial cells ray-cast in one segmented pass (``_raycast_partial``).
    Pure integer/float vector ops — no Python-object strings, no per-cell
    Python loop.

    ``rings`` is not read: it stays in the positional signature for
    callers written against the whole-ring resolver (perfbench/layers.py
    passes the rings lookup); the engine's callers pass None."""
    n = len(keys)
    masks = np.zeros((n, n_words), dtype=np.int64)
    valid = keys >= 0
    vidx = np.flatnonzero(valid)
    la_v = la[vidx]
    lo_v = lo[vidx]
    # all probe-level keys from ONE float pass (bit-identical to
    # per-level cell_key; shifts derive the coarser levels)
    pkeys_by_level = (
        K.cell_keys_multi(la_v, lo_v, index_levels)
        if len(la_v)
        else {lv: np.empty(0, np.int64) for lv in index_levels}
    )
    for lv in index_levels:
        lkeys, full_masks, partial, has_part = tabs[lv]
        if not len(lkeys):
            continue
        pkeys = pkeys_by_level[lv]
        pos = np.searchsorted(lkeys, pkeys)
        pos[pos >= len(lkeys)] = len(lkeys) - 1
        hit = lkeys[pos] == pkeys
        hidx = vidx[hit]          # batch row of each matched point
        hpos = pos[hit]           # index-table row it matched
        # ---- FULL hits: one vectorized OR per mask word
        for w in range(n_words):
            masks[hidx, w] |= full_masks[hpos, w]
        # ---- PARTIAL cells: one segmented ray-cast
        pm = has_part[hpos]
        if pm.any():
            _raycast_partial(masks, la, lo, hidx[pm], hpos[pm], partial)
    return masks


def _ranges(starts: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Concatenated ``arange(s, s + c)`` for each (s, c) pair."""
    total = int(counts.sum())
    offs = np.cumsum(counts) - counts
    return np.arange(total, dtype=np.int64) + np.repeat(starts - offs, counts)


def _chunks(counts: np.ndarray, cap: int):
    """Consecutive ``(start, end)`` slices of ``counts`` whose sums stay
    within ``cap`` (a slice holds one item at least)."""
    ends = np.cumsum(counts)
    s = 0
    while s < len(counts):
        e = max(s + 1, int(np.searchsorted(ends, ends[s] - counts[s] + cap, side="right")))
        yield s, e
        s = e


def _raycast_partial(masks, la, lo, rows, cells, partial: PartialCells) -> None:
    """OR into ``masks`` the region bit of every (point, partial candidate)
    pair whose clipped edges the point crosses an odd number of times.

    ``rows`` are batch rows and ``cells`` their rows in the level table.
    Each point is repeated over its cell's pairs (a probe per pair), its
    lon shifted into the pair's region frame with exactly
    ``kernels.wrap_lons_to_frame``'s arithmetic (identity inside [-180,
    180]), and each probe meets its pair's edges through
    ``kernels._ray_crossings`` (the predicate of ``point_in_edges``, same
    operands), so hits are bit-identical to a per-cell ray-cast.  Probes
    are made for about ``kernels._PIP_CHUNK_ELEMS`` at a time, and their
    edges gathered in chunks of as many (probe, edge) elements, so memory
    does not grow with the batch."""
    cap = K._PIP_CHUNK_ELEMS
    p0 = partial.cell_ptr[cells]
    npair = partial.cell_ptr[cells + 1] - p0
    for a, b in _chunks(npair, cap):
        q_row = np.repeat(rows[a:b], npair[a:b])
        q_pair = _ranges(p0[a:b], npair[a:b])
        y = la[q_row]
        x = lo[q_row]
        flo = partial.lon_lo[q_pair]
        fhi = partial.lon_hi[q_pair]
        wrap = ~((flo >= -180.0) & (fhi <= 180.0))
        if wrap.any():
            xw = x[wrap]
            mid = (flo[wrap] + fhi[wrap]) / 2.0
            x[wrap] = xw + 360.0 * np.round((mid - xw) / 360.0)
        e0 = partial.edge_ptr[q_pair]
        ne = partial.edge_ptr[q_pair + 1] - e0
        odd = np.zeros(len(q_row), dtype=bool)
        for s, e in _chunks(ne, cap):
            cnt = ne[s:e]
            k = np.repeat(np.arange(e - s), cnt)  # chunk-local probe per element
            y1, x1, y2, x2 = partial.edges[_ranges(e0[s:e], cnt)].T
            cross = K._ray_crossings(y[s:e][k], x[s:e][k], y1, x1, y2, x2)
            odd[s:e] = np.bincount(k[cross], minlength=e - s) & 1
        hit = np.flatnonzero(odd)
        rid = partial.region[q_pair[hit]]
        np.bitwise_or.at(masks, (q_row[hit], rid // 63), np.int64(1) << (rid % 63))


#: flag column of map_spatial_join_text: first row of its cell key in the batch
BATCH_UNIQUE = "batch_unique"

#: named-group form of geom.columns.GEO_REGEX for pyarrow's extract_regex
#: (RE2 requires named captures; names change nothing about what matches)
_GEO_REGEX_NAMED = r"geo:(?P<glat>-?\d+\.\d{6}),(?P<glon>-?\d+\.\d{6})"


def _geocode_batch(text_col):
    """Arrow string column → (lat, lon) float64 numpy arrays (NaN = no
    geocode), computed with RE2 (pyarrow.compute.extract_regex) + Arrow's
    correctly-rounded string→double cast.

    Exactly geom.columns.geocode_cols: the pattern is the same byte
    pattern (\\d is ASCII [0-9] in both Java regex and RE2, search
    semantics both first-match), and both Double.parseDouble and Arrow's
    cast are correctly-rounded IEEE-754 conversions of the same digit
    strings — parity is asserted against the JVM path in
    tests/test_spatial_join.py and by the flagship goldens/oracles."""
    import pyarrow as pa
    import pyarrow.compute as pc

    m = pc.extract_regex(text_col, _GEO_REGEX_NAMED)
    la = pc.cast(pc.struct_field(m, "glat"), pa.float64()).to_numpy(zero_copy_only=False)
    lo = pc.cast(pc.struct_field(m, "glon"), pa.float64()).to_numpy(zero_copy_only=False)
    return la, lo


def _keys_of(la: np.ndarray, lo: np.ndarray, level: int) -> np.ndarray:
    """cell keys with -1 where coordinates are NaN (the kernel sentinel) —
    same bit layout as geom.columns.cell_key_col (parity-tested)."""
    keys = np.full(len(la), -1, dtype=np.int64)
    valid = ~np.isnan(la) & ~np.isnan(lo)
    if valid.any():
        keys[valid] = K.cell_key(la[valid], lo[valid], level)
    return keys


def map_spatial_join_text(
    pages: DataFrame,
    candidates_bcast,
    rings_bcast,
    level: int = 6,
) -> DataFrame:
    """pages(url, text) → (url, cell_key, region_ids, batch_unique): the
    zero-shuffle flagship kernel with geocode + cell-key derivation INSIDE
    the Arrow batch (RE2 + numpy) instead of JVM expressions upstream.

    Same results as ``with_cell_key(geocode_pages(pages))`` →
    ``map_spatial_join`` (see _geocode_batch for the parity argument); the
    win is the Python boundary: only (url, text) crosses into the worker —
    not (url, lat, lon, cell_key) — and the JVM regex pass disappears.
    Measured at the 25.6M-page scaling tier (local[4]): the JVM
    geocode+key stage alone was ~4.7 s and the identity Arrow round trip
    ~10.6 s; fusing them removes a whole JVM pass and 24 bytes/row of
    boundary traffic (guide §4.1: control how many columns cross).

    ``batch_unique`` (``BATCH_UNIQUE``) is true on the first row of each
    distinct cell key (NULL included) within its Arrow batch: filtering on
    it yields the cells-dictionary feed (build_cells_table_map, which
    collects it to the driver) at batches × occupied-cells rows, straight
    from this one pass over the pages.

    ``rings_bcast`` is not read and is not shipped to the workers: the
    candidate tables carry every edge the kernel ray-casts."""
    n_words = candidates_bcast.value["n_words"]
    url_type = dict(pages.dtypes)["url"]
    schema = f"url {url_type}, cell_key long, region_ids array<int>, {BATCH_UNIQUE} boolean"
    index_levels = sorted(candidates_bcast.value["levels"].keys())

    def run(batches):
        import pyarrow as pa

        tabs = candidates_bcast.value["levels"]
        for batch in batches:
            la, lo = _geocode_batch(batch.column("text"))
            keys = _keys_of(la, lo, level)
            masks = _resolve_masks(la, lo, keys, tabs, None, index_levels, n_words)
            offs, vals = _masks_to_region_lists(masks)
            first = np.zeros(len(keys), dtype=bool)
            first[np.unique(keys, return_index=True)[1]] = True
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("url"),
                    pa.array(keys, type=pa.int64()),
                    pa.ListArray.from_arrays(
                        pa.array(offs, type=pa.int32()), pa.array(vals, type=pa.int32())
                    ),
                    pa.array(first),
                ],
                ["url", "cell_key", "region_ids", BATCH_UNIQUE],
            )

    out = pages.select("url", "text").mapInArrow(run, schema)
    restore_key = F.when(F.col("cell_key") >= 0, F.col("cell_key"))
    return out.select("url", restore_key.alias("cell_key"), "region_ids", BATCH_UNIQUE)


def page_cell_keys_text(pages: DataFrame, level: int = 6) -> DataFrame:
    """pages(…, text) → distinct-ish (cell_key) rows (NULL for pages with
    no geocode), one text-only Arrow pass emitting each batch's UNIQUE
    keys — the occupied cells alone, without resolving regions (the
    benchmark's keys-pass layer, perfbench/layers.py; the flagship takes
    the same keys from its kernel pass, ``BATCH_UNIQUE``).  Callers
    .distinct() the (tiny) result; the batch-level np.unique just keeps
    the emitted rows at distinct-cell scale instead of corpus scale."""
    schema = "cell_key long"

    def run(batches):
        import pyarrow as pa

        for batch in batches:
            la, lo = _geocode_batch(batch.column("text"))
            keys = np.unique(_keys_of(la, lo, level))
            yield pa.RecordBatch.from_arrays([pa.array(keys, type=pa.int64())], ["cell_key"])

    out = pages.select("text").mapInArrow(run, schema)
    return out.select(F.when(F.col("cell_key") >= 0, F.col("cell_key")).alias("cell_key"))


def map_spatial_join(
    points: DataFrame,
    candidates_bcast,
    rings_bcast,
    id_col: str = "url",
    lat: str = "lat",
    lon: str = "lon",
    carry_cols: tuple = (),
) -> DataFrame:
    """points(id, lat, lon, cell_key) → (id, cell_key, region_ids array).

    Per Arrow batch: assign definite regions without a geometry test,
    ray-cast the boundary candidates (``_resolve_masks``), and OR each hit
    into a per-point int64 BITMASK (multi-word for stores >62 regions) —
    pure integer vector ops, no Python-object strings in the hot path
    (string assembly doubled CPU time at high thread counts from memory
    stalls).  Masks decode to sorted region-id arrays inside the batch
    (_masks_to_region_lists).  ``rings_bcast`` is not read, as in
    ``map_spatial_join_text``."""
    n_words = candidates_bcast.value["n_words"]
    dtypes = dict(points.dtypes)
    id_type = dtypes[id_col]
    # region_ids emitted DIRECTLY as an Arrow ListArray (offsets + int32
    # values buffers, fully vectorized via _masks_to_region_lists) — no
    # per-row Python list objects, and no JVM decode expression afterwards
    carry_schema = "".join(f", {c} {dtypes[c]}" for c in carry_cols)
    schema = f"{id_col} {id_type}, cell_key long{carry_schema}, region_ids array<int>"

    # The index may hold MIXED-LEVEL keys (the adaptive default): the
    # kernel probes the point's key at each level present in the index —
    # a region's coverage cells partition its area across levels, so each
    # (point, region) pair resolves at most once.  The per-level tables
    # arrive prebuilt from the driver (build_cell_candidates) so every
    # worker process consumes them zero-prep.
    index_levels = sorted(candidates_bcast.value["levels"].keys())

    def run(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        tabs = candidates_bcast.value["levels"]
        nan = pa.scalar(float("nan"), type=pa.float64())
        for batch in batches:
            # Arrow-native I/O (mapInArrow): the id column passes through as
            # an Arrow buffer — a pandas round-trip would materialize
            # millions of Python string objects per task, which dominated
            # allocator time at high thread counts.
            la = pc.fill_null(batch.column(lat).cast(pa.float64()), nan).to_numpy(
                zero_copy_only=False
            )
            lo = pc.fill_null(batch.column(lon).cast(pa.float64()), nan).to_numpy(
                zero_copy_only=False
            )
            # cell_key is NULL-free by construction (NULL → -1 sentinel
            # JVM-side below), so the int64 Arrow buffer converts straight
            # to int64 numpy; any float detour would silently round level-6
            # keys (~2.2e17 — past float64's 53-bit exact-integer range) and
            # corrupt the whole batch — the asarray int64 check raises
            # loudly if that ever regresses.
            keys = np.asarray(batch.column("cell_key").to_numpy(), dtype=np.int64)
            masks = _resolve_masks(la, lo, keys, tabs, None, index_levels, n_words)
            arrays = [batch.column(id_col), batch.column("cell_key")]
            names = [id_col, "cell_key"]
            for c in carry_cols:  # passthrough Arrow buffers (e.g. event time
                arrays.append(batch.column(c))  # for streaming windows)
                names.append(c)
            offs, vals = _masks_to_region_lists(masks)
            arrays.append(
                pa.ListArray.from_arrays(pa.array(offs, type=pa.int32()), pa.array(vals, type=pa.int32()))
            )
            names.append("region_ids")
            yield pa.RecordBatch.from_arrays(arrays, names)

    # NULL cell_key (geocode miss) → -1 sentinel so the Arrow column stays
    # int64 end-to-end (see the dtype note inside run); restored below.
    pts = points.select(
        id_col, lat, lon,
        F.coalesce(F.col("cell_key"), F.lit(-1).cast("long")).alias("cell_key"),
        *carry_cols,
    )
    out = pts.mapInArrow(run, schema)
    restore_key = F.when(F.col("cell_key") >= 0, F.col("cell_key"))
    return out.select(
        id_col, restore_key.alias("cell_key"), *carry_cols, "region_ids"
    )
