"""Zero-shuffle flagship: the broadcast-store map-side spatial join.

The reference's query path is a per-point lookup against an in-memory
GridRegionTree (/root/reference/include/osmtools/OsmGridRegionTree.h:109-151)
— no data movement at all.  When the polygon store + cell index broadcast
(the normal case: the store is a dimension table), the Spark-faithful
translation is a single ``mapInArrow`` pass:

    pages → one text-in Arrow-batched map (RE2 geocode + cell keys +
    region resolution all inside the batch: definite hits free via
    searchsorted + mask OR, boundary candidates ray-cast) →
    (url, cell_key, region_ids)

ZERO shuffles, embarrassingly parallel, scales linearly with executors.
``_resolve_masks`` is the engine's one region resolver: the flagship
(``map_spatial_join_text``), the cells dictionary (cells/assign.py) and
the lat/lon variant ``map_spatial_join`` — for callers whose coordinates
already exist as columns (streaming joins, oracle queries) — all resolve
through it.  The relational join (joins/spatial.py) is the fallback for
stores too large to broadcast.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from libosmtools_spark.geom import kernels as K


def build_cell_candidates(cell_index_pdf: pd.DataFrame, rings: dict | None = None) -> dict:
    """Broadcast-ready per-LEVEL lookup tables from the collected
    cell-coverage index (dimension-scale; the index may hold mixed-level
    keys — the adaptive default).

    Returns ``{"n_regions": int, "n_words": int, "levels": {level:
    (keys_sorted int64[k], full_masks int64[k, n_words], part_payload
    list[k], has_part bool[k])}}``:

    - ``full_masks[i]`` is the OR of the region bits FULLY covering cell
      ``keys_sorted[i]`` — the kernel resolves full hits with one batched
      searchsorted + mask-row OR, NO per-cell Python (a per-cell loop over
      the adaptive index's thousands of fine cells was pure interpreter
      overhead — measured 2× the whole flagship);
    - ``part_payload[i]`` lists ``(region_id, clipped_edges|None, lon_lo,
      lon_hi)`` for boundary (partial) candidates — the only per-cell work
      left, on a thin point-sparse minority of cells.  (lon_lo, lon_hi) is
      the owning REGION's continuous longitude frame, threaded through so
      query-time probe shifting never re-derives a frame from the clipped
      edge subset (whose max lon can sit exactly at 180.0 for a wrapped
      region and defeat the identity check).

    When ``rings`` (region_id → (outers, inners)) is given, each partial
    candidate's boundary is PRE-CLIPPED to the cell (kernels.
    clip_edges_for_cell): a planet-size ring shrinks to the few edges near
    the cell, which is where the ray-cast cost goes.  Parity over the
    combined outer+inner edge set is the even-odd rule — equivalent to
    inside(outer) ∧ ¬inside(hole) for nested holes (the region model)."""
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
        keys_lv = ck[m]
        order = np.argsort(keys_lv, kind="stable")
        skeys = keys_lv[order]
        srid = rid[m][order]
        sfull = full[m][order]
        sword = word[m][order]
        sbit = bit_val[m][order]
        uniq, starts = np.unique(skeys, return_index=True)
        grp_idx = np.searchsorted(uniq, skeys)  # row → unique-cell index
        full_masks = np.zeros((len(uniq), n_words), dtype=np.int64)
        frows = np.flatnonzero(sfull)
        np.bitwise_or.at(full_masks, (grp_idx[frows], sword[frows]), sbit[frows])
        part_payload: list = [None] * len(uniq)
        has_part = np.zeros(len(uniq), dtype=bool)
        prows = np.flatnonzero(~sfull)
        if len(prows):
            p_g = grp_idx[prows]  # unique-cell index per partial row
            p_r = srid[prows]  # owning region per partial row
            # per-row (clipped_edges, lon_lo, lon_hi), clipped REGION-AT-A-
            # TIME: the old per-row loop re-ran cell_bounds / frame shift /
            # a full O(region edges) comparison per boundary cell in Python
            # — O(boundary cells) interpreter iterations that became the one
            # driver-side scale cliff of the plan of record.  Here each
            # region does ONE vectorized bounds+frame pass over all its
            # cells and a chunked 2-D (cells × edges) clip mask; the only
            # per-cell step left is the boolean-index edge extraction.
            clipped: list = [None] * len(prows)
            if rings is not None:
                for r in np.unique(p_r):
                    cached = region_edges.get(int(r))
                    if cached is None:
                        outers, inners = rings[int(r)]
                        arr = np.vstack(
                            [K.ring_edges(rr) for rr in list(outers) + list(inners)]
                        )
                        ylo = np.minimum(arr[:, 0], arr[:, 2])
                        yhi = np.maximum(arr[:, 0], arr[:, 2])
                        emax = np.maximum(arr[:, 1], arr[:, 3])
                        elo = float(min(arr[:, 1].min(), arr[:, 3].min()))
                        ehi = float(max(arr[:, 1].max(), arr[:, 3].max()))
                        cached = region_edges[int(r)] = (arr, ylo, yhi, emax, elo, ehi)
                    arr, ylo, yhi, emax, elo, ehi = cached
                    rows_r = np.flatnonzero(p_r == r)
                    min_lat, max_lat, min_lon, max_lon = K.cell_bounds(
                        uniq[p_g[rows_r]].astype(np.int64)
                    )
                    # shift each cell's lon window into the region's
                    # continuous frame (antimeridian-wrapped regions store
                    # lons past ±180; identity — shift +0.0 — otherwise)
                    c = (min_lon + max_lon) / 2.0
                    cw = np.asarray(K.wrap_lons_to_frame(c, elo, ehi), dtype=np.float64)
                    sh_min_lon = min_lon + (cw - c)
                    # chunked (cells × edges) keep mask — same predicate as
                    # clip_edges_for_cell, evaluated for all cells at once
                    step = max(1, 4_000_000 // max(len(arr), 1))
                    for s in range(0, len(rows_r), step):
                        ch = slice(s, s + step)
                        keep2d = (
                            (yhi[None, :] > min_lat[ch, None])
                            & (ylo[None, :] <= max_lat[ch, None])
                            & (emax[None, :] >= sh_min_lon[ch, None])
                        )
                        for j, row_i in enumerate(rows_r[ch]):
                            clipped[row_i] = (arr[keep2d[j]], elo, ehi)
            # assemble per-cell payload lists in the original (key-sorted,
            # stable) row order — identical ordering to the old loop
            for i, row in enumerate(prows):
                g = p_g[i]
                cl, elo, ehi = clipped[i] if clipped[i] is not None else (None, -180.0, 180.0)
                if part_payload[g] is None:
                    part_payload[g] = []
                part_payload[g].append((int(p_r[i]), cl, elo, ehi))
                has_part[g] = True
        levels[int(lv)] = (uniq, full_masks, part_payload, has_part)
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
    n_words) int64 region bitmasks.  Rows are grouped by cell (np.unique —
    points in the same cell share one candidate set), definite regions OR
    in with one batched searchsorted + mask-row OR per level, and only
    boundary-cell points ray-cast (against edges pre-clipped to the cell).
    Pure integer/float vector ops — no Python-object strings."""
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
        lkeys, full_masks, part_payload, has_part = tabs[lv]
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
        # ---- PARTIAL cells: per-cell ray-cast (boundary-only)
        pm = has_part[hpos]
        if pm.any():
            p_idx = hidx[pm]
            p_pos = hpos[pm]
            order = np.argsort(p_pos, kind="stable")
            sp = p_pos[order]
            si = p_idx[order]
            uniq, starts = np.unique(sp, return_index=True)
            ends = np.append(starts[1:], len(sp))
            for u, s, e in zip(uniq, starts, ends):
                sel = si[s:e]
                la_sel = la[sel]  # copy once per cell, not per region
                lo_sel = lo[sel]
                for rid, cl, flo, fhi in part_payload[u]:
                    word, bit = divmod(rid, 63)
                    if cl is not None:
                        hits_ = K.point_in_edges(la_sel, lo_sel, cl, frame=(flo, fhi))
                    else:
                        outers, inners = rings[rid]
                        hits_ = K.point_in_rings(la_sel, lo_sel, outers, inners)
                    masks[sel[hits_], word] |= np.int64(1) << np.int64(bit)
    return masks


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
    from this one pass over the pages."""
    n_words = candidates_bcast.value["n_words"]
    url_type = dict(pages.dtypes)["url"]
    schema = f"url {url_type}, cell_key long, region_ids array<int>, {BATCH_UNIQUE} boolean"
    index_levels = sorted(candidates_bcast.value["levels"].keys())

    def run(batches):
        import pyarrow as pa

        tabs = candidates_bcast.value["levels"]
        rings = rings_bcast.value
        for batch in batches:
            la, lo = _geocode_batch(batch.column("text"))
            keys = _keys_of(la, lo, level)
            masks = _resolve_masks(la, lo, keys, tabs, rings, index_levels, n_words)
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

    Per Arrow batch: group point rows by cell (np.unique — points in the
    same cell share the same candidate set), assign definite regions
    without a geometry test, ray-cast the candidates, and OR each hit into
    a per-point int64 BITMASK (multi-word for stores >62 regions) — pure
    integer vector ops, no Python-object strings in the hot path (string
    assembly doubled CPU time at high thread counts from memory stalls).
    Masks decode to sorted region-id arrays inside the batch
    (_masks_to_region_lists)."""
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
        rings = rings_bcast.value
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
            masks = _resolve_masks(la, lo, keys, tabs, rings, index_levels, n_words)
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
