"""G6/T13 — the relational spatial join: point-in-polygon with cell prefilter.

Semantics are exactly the reference's two-phase query
(/root/reference/include/osmtools/OsmGridRegionTree.h:109-151):

1. descend the spatial index to the query point's cell → a *definite* set
   (regions fully covering the cell — no geometry test) and a *candidate*
   set (regions whose boundary touches the cell);
2. run exact ray-cast PIP only on the candidates;
3. the region set is the union.

Spark realization (``spatial_join_adaptive``): the index descent is a
**cell-key equi-join** against the adaptive mixed-level index (broadcast
when the index is small, a shuffle join otherwise), and the exact test is
one Arrow-vectorized pandas UDF over broadcast ring geometry.  This is the
engine's one relational fallback; while the region store broadcasts, the
flagship resolves regions with the ``mapInArrow`` kernel instead
(joins/mapjoin.py).

Skew note (dense urban cells): the equi-join replicates only *index* rows
per cell, and the candidate side explodes at most ``|regions overlapping the
cell|`` — bounded by the T6 contract (oversized cells get subdivided one
level deeper in the index; see cells/refine).  AQE skew-join splits any
remaining hot shuffle partitions.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from libosmtools_spark.geom import kernels as K
from libosmtools_spark.geom.columns import cell_key_col, geocode_cols


def with_cell_key(df: DataFrame, lat: str = "lat", lon: str = "lon", level: int = 6,
                  out: str = "cell_key") -> DataFrame:
    """Pure-arithmetic point→cell assignment (T13) — no UDF, codegen'd."""
    return df.withColumn(out, cell_key_col(F.col(lat), F.col(lon), level))


def geocode_pages(pages: DataFrame) -> DataFrame:
    """pages(url, …, text) → + (lat, lon) via JVM-side regexp extraction.
    Byte-identical `text` is carried through untouched (input_hint
    invariant)."""
    lat, lon = geocode_cols(F.col("text"))
    return pages.withColumn("lat", lat).withColumn("lon", lon)


def make_pip_udf(rings_bcast):
    """Vectorized PIP refine: (lat, lon, region_id) series → boolean series.

    One Arrow batch is grouped by region_id in pandas, then each region's
    points are tested in a single numpy ray-cast call — no per-row Python
    (input_hint requirement)."""

    @F.pandas_udf(T.BooleanType())
    def pip(lat: pd.Series, lon: pd.Series, region_id: pd.Series) -> pd.Series:
        rings = rings_bcast.value
        res = np.zeros(len(lat), dtype=bool)
        la = lat.to_numpy(dtype=np.float64)
        lo = lon.to_numpy(dtype=np.float64)
        rid_arr = region_id.to_numpy(dtype=np.int64)
        for rid in pd.unique(rid_arr):
            mask = rid_arr == rid
            outers, inners = rings[int(rid)]
            res[mask] = K.point_in_rings(la[mask], lo[mask], outers, inners)
        return pd.Series(res)

    return pip


def with_ancestor_keys(df: DataFrame, base_level: int, max_level: int,
                       lat: str = "lat", lon: str = "lon",
                       out: str = "cell_key") -> DataFrame:
    """One row per (point, level ∈ [base_level, max_level]) with the point's
    cell key at that level — the query side of the adaptive multi-level
    index.  The explode factor is (max_level - base_level + 1), a small
    constant; all key arithmetic stays JVM-side."""
    keys = F.array(*[cell_key_col(F.col(lat), F.col(lon), lv) for lv in range(base_level, max_level + 1)])
    return df.withColumn(out, F.explode(keys))


def spatial_join_adaptive(
    points: DataFrame,
    adaptive_index: DataFrame,
    rings_bcast,
    base_level: int,
    max_level: int,
    lat: str = "lat",
    lon: str = "lon",
    broadcast_index: bool = True,
) -> DataFrame:
    """points → (points.columns…, region_id) rows, one per containing
    region; points in no region produce no row.

    Points carry one PROBE key per level (with_ancestor_keys into
    ``_probe_key`` — any pre-existing ``cell_key`` column, e.g. the
    level-base dictionary key of the output contract, passes through
    untouched) and equi-join the mixed-level index; since a region's
    coverage cells partition its area across levels, each (point, region)
    pair matches at most once.  Definite hits skip geometry; the rest
    ray-cast against boundary edges of a much finer cell than a flat index
    would give.  ``base_level == max_level`` is the flat single-level join.

    ``broadcast_index=False`` is the plan for stores past broadcast size:
    the index is hinted ``shuffle_hash``, so both sides shuffle on the
    probe key even when the planner's size estimate would broadcast
    either one (AQE's skew-join splits hot cells)."""
    pts = with_ancestor_keys(points, base_level, max_level, lat, lon, out="_probe_key")
    idx = adaptive_index.select(
        F.col("cell_key").alias("_probe_key"), "region_id", "full"
    )
    idx = F.broadcast(idx) if broadcast_index else idx.hint("shuffle_hash")
    joined = pts.join(idx, "_probe_key", "inner").drop("_probe_key")
    definite = joined.filter(F.col("full")).drop("full")
    candidate = joined.filter(~F.col("full")).drop("full")
    pip = make_pip_udf(rings_bcast)
    refined = candidate.filter(pip(F.col(lat), F.col(lon), F.col("region_id")))
    return definite.unionByName(refined)
