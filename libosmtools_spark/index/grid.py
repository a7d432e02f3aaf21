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
on the driver: the rings are read as one Arrow table (``rings_table``:
the store's parquet files themselves when the frame is a bare local
parquet relation, else one collect) and parsed once (``rings_lookup``),
and ``_covering_frame`` covers that lookup with ``kernels.covering_rows``.
The covering is boundary-local: a cell's touch test runs only against the
boundary segments near it, so its cost follows the boundary's cell count,
not segments × cells; and it covers a batch of regions per pass, so small
regions do not each pay its per-level numpy calls.
"""

from __future__ import annotations

from urllib.parse import unquote, urlparse

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
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


#: the region store's columns, as the engine reads them
RINGS_COLUMNS = ("region_id", "ring_id", "ring_role", "points")

_JVM_PKG = "org.apache.spark.sql.execution.datasources."


def rings_table(region_rings: DataFrame) -> pa.Table:
    """The store's rings as one Arrow table.  A bare local parquet store
    (the analyzed plan is a parquet ``HadoopFsRelation`` with no partition
    columns or buckets, and every input file is a ``file:`` URI) is read
    on the driver with pyarrow, with no Spark job; any other frame
    (filtered, projected, unioned, built from rows) is collected with one
    ``toArrow`` job, so its own rows are what the engine builds."""
    plan = region_rings._jdf.queryExecution().analyzed()
    if plan.getClass().getName() == _JVM_PKG + "LogicalRelation":
        rel = plan.relation()
        if (
            rel.getClass().getName() == _JVM_PKG + "HadoopFsRelation"
            and rel.fileFormat().getClass().getName() == _JVM_PKG + "parquet.ParquetFileFormat"
            and not rel.partitionSchema().length()
            and not rel.bucketSpec().isDefined()
        ):
            uris = [urlparse(u) for u in region_rings.inputFiles()]
            if uris and all(u.scheme == "file" and u.netloc in ("", "localhost") for u in uris):
                return pq.read_table([unquote(u.path) for u in uris], columns=list(RINGS_COLUMNS))
    return region_rings.toArrow()


def rings_lookup(region_rings) -> dict:
    """Driver-side: region_id → (outer rings, inner rings) numpy arrays,
    in region id order and each region's rings in ring id order, for the
    covering and the candidate tables.  ``region_rings`` is anything
    ``pa.table`` takes (the engine's Arrow table, a pandas frame).  The
    polygon store is dimension-scale (admin boundaries ~1e5 rings at
    planet scale — well under broadcast limits once encoded as float64
    arrays).

    Each ring is a slice of one (vertices, 2) array gathered from the
    ``points`` list offsets and its flattened ``lat``/``lon`` children.
    Rings are canonicalized into the continuous-longitude frame
    (kernels.unwrap_rings — identity for non-wrapped regions) so the
    ray-cast kernels can frame-shift probe points of antimeridian-crossing
    regions; storage may hold either continuous or normalized lons."""
    t = pa.table(region_rings).select(list(RINGS_COLUMNS))
    t = t.sort_by([("region_id", "ascending"), ("ring_id", "ascending")])
    rids = t.column("region_id").to_numpy()
    outer = pc.equal(t.column("ring_role"), "outer").to_numpy(zero_copy_only=False)
    points = t.column("points").combine_chunks()
    off = points.offsets.to_numpy()
    xy = np.column_stack(
        [pc.struct_field(points.values, f).to_numpy(zero_copy_only=False) for f in ("lat", "lon")]
    ).astype(np.float64, copy=False)
    out: dict[int, tuple[list, list]] = {}
    _, starts = np.unique(rids, return_index=True)
    for lo, hi in zip(starts, np.r_[starts[1:], len(rids)]):
        outers, inners = [], []
        for j in range(lo, hi):
            (outers if outer[j] else inners).append(xy[off[j] : off[j + 1]])
        out[int(rids[lo])] = K.unwrap_rings(outers, inners)
    return out
