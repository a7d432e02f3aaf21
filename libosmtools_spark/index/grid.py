"""G4 — the cell-coverage index (the rebuild of ``addPolygonsToRaster``,
/root/reference/src/OsmGridRegionTree.cpp:133-140).

The reference lays a uniform grid over the global region bbox and refines
each node quadtree-style while its geodesic diagonal exceeds 250 m
(FixedSizeDiagRefiner, /root/reference/src/OsmGridRegionTree.cpp:13-30).
Here the index is a DataFrame ``cell_index(cell_key, region_id, full)``:
for every region, the cells at a chosen level overlapping it, classified

- ``full = true``  — the cell lies entirely inside the region: query points
  in it need **no geometry test** (the "definite" list of
  /root/reference/include/osmtools/OsmGridRegionTree.h:110-112);
- ``full = false`` — the region boundary touches the cell: query points go
  through the exact ray-cast refine (the "candidate" list).

The adaptive build takes the rings its caller has already collected
(``SpatialEngine`` collects them once for the rings lookup): stores up
to ``LOCAL_INDEX_MAX_REGIONS`` regions are covered locally from that
frame, larger ones fan out one pandas group per region (``applyInPandas``),
so the build scales with the region count.  The covering
(``kernels.covering_rows``) is boundary-local: a cell's touch test runs
only against the boundary segments near it, so its cost follows the
boundary's cell count, not segments × cells; and it covers a batch of
regions per pass, so small regions do not each pay its per-level numpy
calls.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from libosmtools_spark.geom import kernels as K

CELL_INDEX_SCHEMA = "cell_key long, region_id int, full boolean"


def _rings_of_group(pdf: pd.DataFrame):
    outers, inners = [], []
    for role, points in zip(pdf["ring_role"], pdf["points"]):
        ring = np.array([(p["lat"], p["lon"]) for p in points], dtype=np.float64)
        (outers if role == "outer" else inners).append(ring)
    return outers, inners


#: boundary segments per ``kernels.covering_rows`` call: enough regions to
#: pay its per-level numpy calls once for many of them, few enough that
#: its (cell, segment) pair arrays stay small
COVERING_BATCH_SEGMENTS = 16_384


def _covering_frame(groups, base_level: int, max_level: int) -> pd.DataFrame:
    """cell_index rows of ``groups`` ((region_id, rings frame) pairs),
    region by region in group order, from ``kernels.covering_rows`` passes
    over batches of about ``COVERING_BATCH_SEGMENTS`` segments."""
    rids = np.array([int(rid) for rid, _ in groups], dtype=np.int32)
    regions = [_rings_of_group(pdf) for _, pdf in groups]
    n_segs = np.array([sum(len(r) - 1 for r in o + i) for o, i in regions], dtype=np.int64)
    batch = (np.cumsum(n_segs) - n_segs) // COVERING_BATCH_SEGMENTS
    parts = []
    for idx in np.split(np.arange(len(regions)), np.flatnonzero(np.diff(batch)) + 1):
        region, keys, full = K.covering_rows([regions[j] for j in idx], base_level, max_level)
        parts.append(pd.DataFrame({"cell_key": keys, "region_id": rids[idx][region], "full": full}))
    return pd.concat(parts, ignore_index=True)


def build_cell_index(region_rings: DataFrame, level: int) -> DataFrame:
    """region_rings(region_id, ring_id, ring_role, points) → cell_index.

    Distributed: one task per region group; inside each group the coverage
    computation is vectorized numpy (kernels.covering_rows at one level).
    """

    def per_region(pdf: pd.DataFrame) -> pd.DataFrame:
        return _covering_frame([(pdf["region_id"].iloc[0], pdf)], level, level)

    return region_rings.groupBy("region_id").applyInPandas(per_region, CELL_INDEX_SCHEMA)


#: region stores up to this many REGIONS build the adaptive index on the
#: driver (vectorized numpy straight from the already-collected rings —
#: measured 1.75 s single-core for the 45-region complex scaling store vs
#: 8.7 s wall for the distributed applyInPandas build at local[4], whose
#: cost is almost all shuffle + python-worker dispatch at dimension scale).
#: Larger stores keep the distributed per-region build.  The bound is
#: MEASURED, not asserted (by tools/spatial_crossover_probe.py, since
#: deleted; recover it with ``git show
#: 0ecc20e:tools/spatial_crossover_probe.py``; 64-vertex star stores,
#: 32 cores): driver-local vs distributed build walls were
#: 2.9/5.6 s at 512 regions, 5.1/6.4 at 1024, 8.3/6.3 at 2048, 13.3/6.2
#: at 4096 — the single-core local build crosses the (nearly flat,
#: fixed-cost-dominated) distributed build between 1k and 2k regions, so
#: the cap sits at the last size the local build wins.  Those walls were
#: measured with the dense segments × cells covering, one region at a
#: time; the boundary-local, batched covering cut the single-core local
#: build CPU (same stores, 4-vCPU VM, min of 3) from 2.0/4.0/7.9/16.1 s to
#: 0.4/0.7/1.7/2.9 s at 512/1024/2048/4096 regions.  The cap stays until
#: the distributed side is re-measured with it.
LOCAL_INDEX_MAX_REGIONS = 1024


def local_adaptive_cell_index(rings_pdf: pd.DataFrame, base_level: int, max_level: int):
    """The driver-local side of ``build_adaptive_cell_index``: the index
    rows as a pandas frame for stores of ≤ ``LOCAL_INDEX_MAX_REGIONS``
    regions, computed from the collected ``rings_pdf`` with no Spark job;
    None for larger stores (their index is built distributed)."""
    if rings_pdf["region_id"].nunique() > LOCAL_INDEX_MAX_REGIONS:
        return None
    return _covering_frame(list(rings_pdf.groupby("region_id")), base_level, max_level)


def build_adaptive_cell_index(
    region_rings: DataFrame,
    base_level: int,
    max_level: int,
    rings_pdf: pd.DataFrame,
) -> DataFrame:
    """Multi-level cell_index(cell_key, region_id, full) with keys at mixed
    levels (kernels.covering_rows) — the production index shape:
    boundary-linear size, so even continent polygons stay broadcastable.
    Query side: with_ancestor_keys + spatial_join_adaptive.

    ``rings_pdf`` is ``region_rings`` already collected: every caller
    collects the rings for the rings lookup (``rings_lookup``) anyway.
    Count-gated physical dispatch (identical rows either way, order aside —
    every consumer joins/aggregates or re-sorts): dimension-scale stores
    (≤ LOCAL_INDEX_MAX_REGIONS regions) compute the covering driver-side
    from ``rings_pdf`` (``local_adaptive_cell_index``), with no Spark job;
    larger stores fan out one pandas group of ``region_rings`` per
    region."""
    pdf = local_adaptive_cell_index(rings_pdf, base_level, max_level)
    if pdf is not None:
        return region_rings.sparkSession.createDataFrame(pdf, CELL_INDEX_SCHEMA)

    def per_region(pdf: pd.DataFrame) -> pd.DataFrame:
        return _covering_frame([(pdf["region_id"].iloc[0], pdf)], base_level, max_level)

    return region_rings.groupBy("region_id").applyInPandas(per_region, CELL_INDEX_SCHEMA)


def rings_lookup(region_rings_pdf: pd.DataFrame) -> dict:
    """Driver-side: region_id → (outer rings, inner rings) numpy arrays, for
    broadcasting into the PIP-refine UDF.  The polygon store is
    dimension-scale (admin boundaries ~1e5 rings at planet scale — well under
    broadcast limits once encoded as float64 arrays).

    Rings are canonicalized into the continuous-longitude frame
    (kernels.unwrap_rings — identity for non-wrapped regions) so the
    ray-cast kernels can frame-shift probe points of antimeridian-crossing
    regions; storage may hold either continuous or normalized lons."""
    out: dict[int, tuple[list, list]] = {}
    for rid, grp in region_rings_pdf.groupby("region_id"):
        outers, inners = _rings_of_group(grp)
        out[int(rid)] = K.unwrap_rings(outers, inners)
    return out

