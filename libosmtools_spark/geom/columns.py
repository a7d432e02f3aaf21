"""Spark Column expressions for the grid: cell keys, cell bounds, cell
rings, distances and the page geocode.

These stay entirely JVM-side (whole-stage codegen): cell-key assignment is
pure arithmetic, the deliberate replacement of the reference's mutex-guarded
point-location walk
(/root/reference/include/osmtools/TriangulationGridLocater.h:125-141).
The cell-key expression is the exact Column translation of
``geom.kernels.cell_key`` — parity is asserted in tests/test_spatial_join.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from libosmtools_spark.geom.kernels import _IY_SHIFT, _LEVEL_SHIFT


def norm_lon_col(lon: Column) -> Column:
    """Normalize longitude into [-180, 180) — pmod keeps the result
    non-negative, matching numpy's ``%`` semantics."""
    return F.pmod(lon + F.lit(180.0), F.lit(360.0)) - F.lit(180.0)


def cell_key_col(lat: Column, lon: Column, level: int) -> Column:
    """Point → int64 cell key at ``level``; identical bit layout to
    ``kernels.cell_key`` (level*2^55 + iy*2^28 + ix), clamped at domain
    edges."""
    nlat = 1 << level
    nlon = 2 << level
    lonn = norm_lon_col(lon)
    iy = F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(float(nlat)))
    ix = F.floor((lonn + F.lit(180.0)) / F.lit(360.0) * F.lit(float(nlon)))
    iy = F.greatest(F.lit(0), F.least(F.lit(nlat - 1), iy)).cast("long")
    ix = F.greatest(F.lit(0), F.least(F.lit(nlon - 1), ix)).cast("long")
    key = (F.lit(level).cast("long") * F.lit(1 << _LEVEL_SHIFT).cast("long")
           + iy * F.lit(1 << _IY_SHIFT).cast("long") + ix)
    # least/greatest IGNORE nulls in Spark, which would clamp a NULL
    # coordinate to the domain corner — force NULL key instead (→ cell 0)
    return F.when(lat.isNotNull() & lon.isNotNull(), key)


def cell_key_sql(lat_expr: str, lon_expr: str, level: int) -> str:
    """ANSI-SQL string form of ``cell_key_col`` — used verbatim in DuckDB
    oracle queries so the engine and the oracle share one definition."""
    nlat = 1 << level
    nlon = 2 << level
    lonn = f"((({lon_expr}) + 180.0) - floor((({lon_expr}) + 180.0) / 360.0) * 360.0 - 180.0)"
    iy = f"greatest(0, least({nlat - 1}, floor((({lat_expr}) + 90.0) / 180.0 * {nlat}.0)))"
    ix = f"greatest(0, least({nlon - 1}, floor(({lonn} + 180.0) / 360.0 * {nlon}.0)))"
    return (
        f"(CAST({level} AS BIGINT) * {1 << _LEVEL_SHIFT} "
        f"+ CAST({iy} AS BIGINT) * {1 << _IY_SHIFT} + CAST({ix} AS BIGINT))"
    )


def cell_bounds_cols(key: Column) -> tuple[Column, Column, Column, Column]:
    """key → (min_lat, max_lat, min_lon, max_lon) Columns."""
    level = F.shiftright(key, _LEVEL_SHIFT)
    iy = F.shiftright(key, _IY_SHIFT).bitwiseAND(F.lit((1 << (_LEVEL_SHIFT - _IY_SHIFT)) - 1).cast("long"))
    ix = key.bitwiseAND(F.lit((1 << _IY_SHIFT) - 1).cast("long"))
    size = F.lit(180.0) / F.pow(F.lit(2.0), level.cast("double"))
    min_lat = iy.cast("double") * size - F.lit(90.0)
    min_lon = ix.cast("double") * size - F.lit(180.0)
    return min_lat, min_lat + size, min_lon, min_lon + size


def ring_keys_col(key: Column, k: int) -> Column:
    """Chebyshev-ring neighbor keys (incl. self) as an array Column: every
    cell at the key's level within grid distance ``k`` — lon wraps, lat
    clamps (out-of-range rows dropped), deduplicated.  The grid-native cell
    dual graph (libosmtools src/OsmTriangulationRegionStore.cpp:382-429);
    keeps ring expansion inside whole-stage codegen (no Python in the kNN
    hot path)."""
    level = F.shiftright(key, _LEVEL_SHIFT)
    iy = F.shiftright(key, _IY_SHIFT).bitwiseAND(F.lit((1 << (_LEVEL_SHIFT - _IY_SHIFT)) - 1).cast("long"))
    ix = key.bitwiseAND(F.lit((1 << _IY_SHIFT) - 1).cast("long"))
    nlat = F.pow(F.lit(2.0), level.cast("double")).cast("long")
    nlon = nlat * F.lit(2).cast("long")
    base = level.cast("long") * F.lit(1 << _LEVEL_SHIFT).cast("long")

    offs = F.sequence(F.lit(-k), F.lit(k))
    nested = F.transform(
        offs,
        lambda dy: F.transform(
            offs,
            lambda dx: F.when(
                (iy + dy >= 0) & (iy + dy < nlat),
                base + (iy + dy) * F.lit(1 << _IY_SHIFT).cast("long") + F.pmod(ix + dx, nlon),
            ),
        ),
    )
    flat = F.flatten(nested)
    return F.array_distinct(F.filter(flat, lambda x: x.isNotNull()))


def sq_euclid_deg_col(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Squared euclidean distance in snapped degree space — the kNN ranking
    metric.

    kNN ranks by THIS metric (not haversine): products and sums of
    identical IEEE-754 doubles are bit-identical across engines, which
    makes kNN rankings reproducible in the DuckDB oracle.  Documented
    deviation from the reference's geodesic metric."""
    dlat = lat1 - lat2
    dlon = lon1 - lon2
    return dlat * dlat + dlon * dlon


def wrap_sq_euclid_deg_col(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """``sq_euclid_deg_col`` with the longitude difference wrapped around
    ±180° (min(|Δlon|, 360−|Δlon|)) — the geodesically honest variant near
    the antimeridian.  Still built only from exact-or-correctly-rounded
    single float ops, so rankings reproduce bit-identically in the SQL
    oracle.  No NULLs reach the F.least (both args derived from the same
    inputs), so its skip-NULL semantics cannot bite."""
    dlat = lat1 - lat2
    dlon = F.abs(lon1 - lon2)
    dlon = F.least(dlon, F.lit(360.0) - dlon)
    return dlat * dlat + dlon * dlon


def haversine_m_col(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in meters — stands in for the reference's
    GeodesicDistanceCalculator (DCT_GEODESIC_ACCURATE, libosmtools
    src/CellCriteria.cpp:34)."""
    from libosmtools_spark.geom.kernels import EARTH_RADIUS_M

    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    h = F.pow(F.sin(dlat / 2), F.lit(2.0)) + F.cos(rlat1) * F.cos(rlat2) * F.pow(F.sin(dlon / 2), F.lit(2.0))
    return F.lit(2.0 * EARTH_RADIUS_M) * F.asin(F.sqrt(F.least(F.lit(1.0), F.greatest(F.lit(0.0), h))))


#: regex extracting the embedded geocode from page text — the byte-identical
#: extraction contract (BASELINE.json input_hint)
GEO_REGEX = r"geo:(-?\d+\.\d{6}),(-?\d+\.\d{6})"


def geocode_cols(text: Column) -> tuple[Column, Column]:
    """Extract (lat, lon) from page text JVM-side (regexp_extract — no UDF).

    ONE regex execution per row, not two: the full match ``geo:LAT,LON`` is
    extracted once (whole-stage codegen subexpression elimination collapses
    the shared subtree) and the two groups are sliced out of it with plain
    string ops — the regex engine is the dominant per-row cost of the
    geocode stage (guide §1.2 per-task work).  Exactly equivalent to
    per-group extraction: on no match the regex yields '' and both slices
    try_cast to NULL; on a match LAT contains no ',' and the matched
    substring no second ':', so substring_index recovers the groups
    byte-identically.

    ``try_cast`` (not ``cast``): a page without a geocode yields NULL
    coordinates instead of failing the job under ANSI mode; NULL lat/lon
    propagates to a NULL cell_key, which resolves to cell 0 / empty region
    set downstream (the outside-domain contract,
    /root/reference/src/OsmTriangulationRegionStore.cpp:1113-1114)."""
    m = F.substring_index(F.regexp_extract(text, GEO_REGEX, 0), ":", -1)
    lat = F.substring_index(m, ",", 1).try_cast("double")
    lon = F.substring_index(m, ",", -1).try_cast("double")
    return lat, lon
