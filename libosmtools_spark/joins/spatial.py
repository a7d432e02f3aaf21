"""G6/T13 — the flagship spatial join: point-in-polygon with cell prefilter.

Semantics are exactly the reference's two-phase query
(/root/reference/include/osmtools/OsmGridRegionTree.h:109-151):

1. descend the spatial index to the query point's cell → a *definite* set
   (regions fully covering the cell — no geometry test) and a *candidate*
   set (regions whose boundary touches the cell);
2. run exact ray-cast PIP only on the candidates;
3. the region set is the union.

Spark realization: the index descent is a **cell-key equi-join** (broadcast
when the index is small, shuffle+AQE otherwise), and the exact test is one
Arrow-vectorized pandas UDF over broadcast ring geometry.  Catalyst handles
pushdown/pruning; no custom rules.

Skew note (dense urban cells): the equi-join replicates only *index* rows
per cell, and the candidate side explodes at most ``|regions overlapping the
cell|`` — bounded by the T6 contract (oversized cells get subdivided one
level deeper in the index; see cells/refine).  AQE skew-join splits any
remaining hot shuffle partitions.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
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
        rid_arr = region_id.to_numpy(dtype=np.float64, na_value=np.nan)
        for rid in pd.unique(rid_arr):
            if np.isnan(rid):  # unmatched left-join rows → False
                continue
            mask = rid_arr == rid
            outers, inners = rings[int(rid)]
            res[mask] = K.point_in_rings(la[mask], lo[mask], outers, inners)
        return pd.Series(res)

    return pip


def spatial_join(
    points: DataFrame,
    cell_index: DataFrame,
    rings_bcast,
    level: int = 6,
    lat: str = "lat",
    lon: str = "lon",
    broadcast_index: bool = True,
) -> DataFrame:
    """points → (points.columns…, region_id) rows; one row per containing
    region.  Points in no region produce no row (callers needing the
    empty-set ⇒ cell 0 contract use cells/assign on top).

    ``broadcast_index=True`` is correct whenever the index fits the driver
    (the usual case: the polygon store is a dimension table).  With False the
    join shuffles on cell_key; AQE's skew-join splits hot cells.
    """
    pts = points if "cell_key" in points.columns else with_cell_key(points, lat, lon, level)
    idx = F.broadcast(cell_index) if broadcast_index else cell_index
    joined = pts.join(idx, "cell_key", "inner")

    definite = joined.filter(F.col("full")).drop("full")
    candidate = joined.filter(~F.col("full")).drop("full")

    pip = make_pip_udf(rings_bcast)
    refined = candidate.filter(pip(F.col(lat), F.col(lon), F.col("region_id")))

    return definite.unionByName(refined)


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
    """spatial_join against a mixed-level index: points carry one PROBE key
    per level (with_ancestor_keys into ``_probe_key`` — any pre-existing
    ``cell_key`` column, e.g. the level-base dictionary key of the output
    contract, passes through untouched) and equi-join the broadcast index;
    since a region's coverage cells partition its area across levels, each
    (point, region) pair matches at most once.  Definite hits skip
    geometry; the rest ray-cast against boundary edges of a much finer
    cell than the flat index would give."""
    pts = with_ancestor_keys(points, base_level, max_level, lat, lon, out="_probe_key")
    idx = adaptive_index.select(
        F.col("cell_key").alias("_probe_key"), "region_id", "full"
    )
    # broadcast_index=False: stores past broadcast size shuffle on the
    # probe key instead (AQE skew-join splits hot cells) — the same knob
    # as the flat spatial_join
    idx = F.broadcast(idx) if broadcast_index else idx
    joined = pts.join(idx, "_probe_key", "inner").drop("_probe_key")
    definite = joined.filter(F.col("full")).drop("full")
    candidate = joined.filter(~F.col("full")).drop("full")
    pip = make_pip_udf(rings_bcast)
    refined = candidate.filter(pip(F.col(lat), F.col(lon), F.col("region_id")))
    return definite.unionByName(refined)


def spatial_join_adaptive_left(
    points: DataFrame,
    adaptive_index: DataFrame,
    rings_bcast,
    base_level: int,
    max_level: int,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Left-outer adaptive variant (the one-shuffle flagship's join): every
    point survives with at least one row; failed/absent candidates carry
    region_id NULL.  To keep the downstream groupBy(point key) shuffle at
    ~1× the point count (not ×n_levels), non-matching probe rows are
    dropped EXCEPT each point's base-level row, which is kept as the
    guaranteed survivor: rows that matched no index row before the PIP
    (so they never cross the Arrow boundary), failed candidates after it.

    The PIP UDF is marked nondeterministic so that Catalyst keeps the
    second filter above its projection: pushed below it, the filter would
    inline the PIP predicate and the UDF would run twice (one
    ArrowEvalPython each)."""
    probe_arr = F.array(*[cell_key_col(F.col(lat), F.col(lon), lv)
                          for lv in range(base_level, max_level + 1)])
    pts = points.select(
        "*", F.posexplode(probe_arr).alias("_probe_pos", "_probe_key")
    ).withColumn("_is_base", F.col("_probe_pos") == 0).drop("_probe_pos")
    idx = adaptive_index.select(
        F.col("cell_key").alias("_probe_key"), "region_id", "full"
    )
    joined = pts.join(F.broadcast(idx), "_probe_key", "left").filter(
        F.col("region_id").isNotNull() | F.col("_is_base")
    )
    pip = make_pip_udf(rings_bcast).asNondeterministic()
    matched = F.col("region_id").isNotNull() & (
        F.col("full") | pip(F.col(lat), F.col(lon), F.col("region_id"))
    )
    return (
        joined.withColumn("region_id", F.when(matched, F.col("region_id")))
        .filter(F.col("region_id").isNotNull() | F.col("_is_base"))
        .drop("full", "_probe_key", "_is_base")
    )


def page_region_sets(page_hits: DataFrame, pages: DataFrame) -> DataFrame:
    """(url, region_id) hits → (url, region_ids sorted array) for every page,
    empty array when in no region (outer join back to the full page set)."""
    sets = page_hits.groupBy("url").agg(F.array_sort(F.collect_set("region_id")).alias("region_ids"))
    return (
        pages.select("url")
        .join(sets, "url", "left")
        .withColumn("region_ids", F.coalesce(F.col("region_ids"), F.array().cast("array<int>")))
    )
