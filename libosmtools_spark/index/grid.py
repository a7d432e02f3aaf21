"""G4 — the cell-coverage index (the rebuild of ``addPolygonsToRaster``,
/root/reference/src/OsmGridRegionTree.cpp:133-140).

The reference lays a uniform grid over the global region bbox and refines
each node quadtree-style while its geodesic diagonal exceeds 250 m
(FixedSizeDiagRefiner, /root/reference/src/OsmGridRegionTree.cpp:13-30).
Here the index is ``cell_index(cell_key, region_id, full)``: for every
region, the cells at a chosen level overlapping it, classified

- ``full = true``  — the cell lies entirely inside the region: query points
  in it need **no geometry test** (the "definite" list of
  /root/reference/include/osmtools/OsmGridRegionTree.h:110-112);
- ``full = false`` — the region boundary touches the cell: query points go
  through the exact ray-cast refine (the "candidate" list).

Like the reference's GridRegionTree, the index is built once, in memory,
on the driver: the rings are collected and parsed once (``rings_lookup``),
and ``_covering_frame`` covers that lookup with ``kernels.covering_rows``.
The covering is boundary-local: a cell's touch test runs only against the
boundary segments near it, so its cost follows the boundary's cell count,
not segments × cells; and it covers a batch of regions per pass, so small
regions do not each pay its per-level numpy calls.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from libosmtools_spark.geom import kernels as K

CELL_INDEX_SCHEMA = "cell_key long, region_id int, full boolean"

#: boundary segments per ``kernels.covering_rows`` call: enough regions to
#: pay its per-level numpy calls once for many of them, few enough that
#: its (cell, segment) pair arrays stay small
COVERING_BATCH_SEGMENTS = 16_384


def _covering_frame(lookup: dict, base_level: int, max_level: int) -> pd.DataFrame:
    """cell_index rows of a ``rings_lookup``, region by region in its
    (region id) order, from ``kernels.covering_rows`` passes over batches
    of about ``COVERING_BATCH_SEGMENTS`` segments.  The lookup's rings are
    already in the continuous-longitude frame, which ``covering_rows``
    leaves as it is (``unwrap_rings`` is idempotent)."""
    rids = np.fromiter(lookup, dtype=np.int32, count=len(lookup))
    regions = list(lookup.values())
    n_segs = np.array([sum(len(r) - 1 for r in o + i) for o, i in regions], dtype=np.int64)
    batch = (np.cumsum(n_segs) - n_segs) // COVERING_BATCH_SEGMENTS
    parts = []
    for idx in np.split(np.arange(len(regions)), np.flatnonzero(np.diff(batch)) + 1):
        region, keys, full = K.covering_rows([regions[j] for j in idx], base_level, max_level)
        parts.append(pd.DataFrame({"cell_key": keys, "region_id": rids[idx][region], "full": full}))
    return pd.concat(parts, ignore_index=True)


def build_adaptive_cell_index(
    region_rings: DataFrame,
    base_level: int,
    max_level: int,
    rings_pdf: pd.DataFrame,
) -> DataFrame:
    """Multi-level cell_index(cell_key, region_id, full) with keys at mixed
    levels (kernels.covering_rows) — the production index shape:
    boundary-linear size, so even continent polygons stay broadcastable.
    ``base_level == max_level`` is the flat single-level covering.
    Query side: with_ancestor_keys + spatial_join_adaptive.

    ``rings_pdf`` is ``region_rings`` already collected; the rows are
    covered on the driver from its ``rings_lookup`` and returned as a
    driver-local frame (no Spark job)."""
    pdf = _covering_frame(rings_lookup(rings_pdf), base_level, max_level)
    return region_rings.sparkSession.createDataFrame(pdf, CELL_INDEX_SCHEMA)


def rings_lookup(region_rings_pdf: pd.DataFrame) -> dict:
    """Driver-side: region_id → (outer rings, inner rings) numpy arrays,
    in region id order, for the covering and the candidate tables.  The
    polygon store is dimension-scale (admin boundaries ~1e5 rings at
    planet scale — well under broadcast limits once encoded as float64
    arrays).

    Rings are canonicalized into the continuous-longitude frame
    (kernels.unwrap_rings — identity for non-wrapped regions) so the
    ray-cast kernels can frame-shift probe points of antimeridian-crossing
    regions; storage may hold either continuous or normalized lons."""
    out: dict[int, tuple[list, list]] = {}
    for rid, grp in region_rings_pdf.groupby("region_id"):
        outers, inners = [], []
        for role, points in zip(grp["ring_role"], grp["points"]):
            ring = np.array([(p["lat"], p["lon"]) for p in points], dtype=np.float64)
            (outers if role == "outer" else inners).append(ring)
        out[int(rid)] = K.unwrap_rings(outers, inners)
    return out
