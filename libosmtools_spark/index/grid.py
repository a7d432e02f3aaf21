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
(``SpatialEngine`` collects them once for the broadcast lookup): stores up
to ``LOCAL_INDEX_MAX_REGIONS`` regions are covered locally from that
frame, larger ones fan out one pandas group per region (``applyInPandas``),
so the build scales with the region count.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from libosmtools_spark.geom import kernels as K

CELL_INDEX_SCHEMA = "cell_key long, region_id int, full boolean"


def _rings_of_group(pdf: pd.DataFrame):
    outers, inners = [], []
    for _, row in pdf.iterrows():
        ring = np.array([[p["lat"], p["lon"]] for p in row["points"]], dtype=np.float64)
        (outers if row["ring_role"] == "outer" else inners).append(ring)
    return outers, inners


def build_cell_index(region_rings: DataFrame, level: int) -> DataFrame:
    """region_rings(region_id, ring_id, ring_role, points) → cell_index.

    Distributed: one task per region group; inside each group the coverage
    computation is vectorized numpy (kernels.covering_cells).
    """

    def per_region(pdf: pd.DataFrame) -> pd.DataFrame:
        rid = int(pdf["region_id"].iloc[0])
        outers, inners = _rings_of_group(pdf)
        keys, full = K.covering_cells(outers, inners, level)
        return pd.DataFrame(
            {"cell_key": keys.astype(np.int64), "region_id": np.int32(rid), "full": full}
        )

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
#: the cap sits at the last size the local build wins.
LOCAL_INDEX_MAX_REGIONS = 1024


def _adaptive_rows(rid: int, pdf: pd.DataFrame, base_level: int, max_level: int) -> pd.DataFrame:
    outers, inners = _rings_of_group(pdf)
    keys, full = K.adaptive_covering_cells(outers, inners, base_level, max_level)
    return pd.DataFrame(
        {"cell_key": keys.astype(np.int64), "region_id": np.int32(rid), "full": full}
    )


def local_adaptive_cell_index(rings_pdf: pd.DataFrame, base_level: int, max_level: int):
    """The driver-local side of ``build_adaptive_cell_index``: the index
    rows as a pandas frame for stores of ≤ ``LOCAL_INDEX_MAX_REGIONS``
    regions, computed from the collected ``rings_pdf`` with no Spark job;
    None for larger stores (their index is built distributed)."""
    if rings_pdf["region_id"].nunique() > LOCAL_INDEX_MAX_REGIONS:
        return None
    parts = [
        _adaptive_rows(rid, grp, base_level, max_level)
        for rid, grp in rings_pdf.groupby("region_id")
    ]
    return (
        pd.concat(parts, ignore_index=True)
        if parts
        else pd.DataFrame({"cell_key": [], "region_id": [], "full": []})
    )


def build_adaptive_cell_index(
    region_rings: DataFrame,
    base_level: int,
    max_level: int,
    rings_pdf: pd.DataFrame,
) -> DataFrame:
    """Multi-level cell_index(cell_key, region_id, full) with keys at mixed
    levels (kernels.adaptive_covering_cells) — the production index shape:
    boundary-linear size, so even continent polygons stay broadcastable.
    Query side: with_ancestor_keys + spatial_join_adaptive.

    ``rings_pdf`` is ``region_rings`` already collected: every caller
    collects the rings for the broadcast lookup (``rings_lookup``) anyway.
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
        return _adaptive_rows(int(pdf["region_id"].iloc[0]), pdf, base_level, max_level)

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

