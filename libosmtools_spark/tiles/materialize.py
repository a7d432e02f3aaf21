"""Raster↔vector tile materialization + cell-graph operators (T9–T12,
plus the north-rule raster↔vector requirement).

- vector→raster: polygons exploded into covering cells — the G4 machinery
  (/root/reference/src/OsmGridRegionTree.cpp:133-140).
- raster→vector: cells grouped back into tile rectangles (the cell IS a
  rectangle on the uniform grid; a region's raster footprint is the union).
- cell dual graph: adjacent distinct cell-id pairs
  (/root/reference/src/OsmTriangulationRegionStore.cpp:382-429) — grid-
  native via ring-1 neighbor keys.
- dual-graph hop distances (T23) and diameter with endpoints (T7) on one
  core, on the driver: ONE job gates and fetches the edges as a CSR
  (``_local_csr``, at most LOCAL_BFS_MAX_EDGES + 1 rows), then
  ``hopsplit.csr_bfs`` / ``hopsplit.max_hop_pair`` walk it in memory, as
  the reference walks its arrangement.  The dual graph derives from the
  driver-built cells dictionary; a larger edge set raises ``ValueError``.
- cell sizes/representatives (T10, :280-292), center of mass (T11,
  :294-320), region→cells inverted index (T12,
  /root/reference/include/osmtools/OsmTriangulationRegionStore.h:538-553),
  per-cell stats (T22, :1088-1111).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from libosmtools_spark.cells.hopsplit import csr_adjacency, csr_bfs, max_hop_pair
from libosmtools_spark.geom.columns import cell_bounds_cols
from libosmtools_spark.index.grid import build_adaptive_cell_index


def vector_to_raster(region_rings: DataFrame, level: int) -> DataFrame:
    """region polygons → covering cells (cell_key, region_id, full) at one
    level: the engine's driver-side index build with ``max_level ==
    level``, exposed as the materialization operator.  Collects the rings
    (one Spark job) and returns a driver-local frame."""
    return build_adaptive_cell_index(region_rings, level, level, region_rings.toPandas())


def raster_to_vector(cells: DataFrame) -> DataFrame:
    """cells(cell_key, …) → one rectangle polygon per cell:
    (cell_key, min_lat, max_lat, min_lon, max_lon, ring array of 5 closed
    CCW points — GeoPolygon::fromRect contract,
    /root/reference/src/types.cpp:9-17)."""
    mn_lat, mx_lat, mn_lon, mx_lon = cell_bounds_cols(F.col("cell_key"))
    pt = lambda a, o: F.struct(a.alias("lat"), o.alias("lon"))  # noqa: E731
    return cells.select(
        "cell_key",
        mn_lat.alias("min_lat"),
        mx_lat.alias("max_lat"),
        mn_lon.alias("min_lon"),
        mx_lon.alias("max_lon"),
        F.array(
            pt(mn_lat, mn_lon),
            pt(mn_lat, mx_lon),
            pt(mx_lat, mx_lon),
            pt(mx_lat, mn_lon),
            pt(mn_lat, mn_lon),
        ).alias("ring"),
    )


def region_raster_footprint(cell_index: DataFrame) -> DataFrame:
    """per-region raster summary: covering-cell count, full/partial split,
    bbox of the footprint."""
    mn_lat, mx_lat, mn_lon, mx_lon = cell_bounds_cols(F.col("cell_key"))
    return (
        cell_index.withColumn("c_min_lat", mn_lat)
        .withColumn("c_max_lat", mx_lat)
        .withColumn("c_min_lon", mn_lon)
        .withColumn("c_max_lon", mx_lon)
        .groupBy("region_id")
        .agg(
            F.count("*").alias("n_cells"),
            F.sum(F.col("full").cast("int")).alias("n_full"),
            F.min("c_min_lat").alias("min_lat"),
            F.max("c_max_lat").alias("max_lat"),
            F.min("c_min_lon").alias("min_lon"),
            F.max("c_max_lon").alias("max_lon"),
        )
    )


def neighbor_keys_col(key):
    """Ring-1 neighbor keys excluding self — pure JVM arithmetic
    (geom.columns.ring_keys_col), no Python in the adjacency hot path."""
    from libosmtools_spark.geom.columns import ring_keys_col

    ring = ring_keys_col(key, 1)
    return F.filter(ring, lambda x: x != key)


def cell_dual_graph(cells: DataFrame) -> DataFrame:
    """cells(cell_key, cell_id) → distinct adjacent (cell_id_a < cell_id_b)
    pairs — T9's sorted distinct edge set
    (/root/reference/src/OsmTriangulationRegionStore.cpp:389-407).  Grid
    adjacency: ring-1 neighbor keys, restricted to cells present."""
    base = cells.select("cell_key", "cell_id")
    nbrs = (
        base.withColumn("n_key", F.explode(neighbor_keys_col(F.col("cell_key"))))
        .join(
            base.select(F.col("cell_key").alias("n_key"), F.col("cell_id").alias("n_cell_id")),
            "n_key",
        )
        .filter(F.col("cell_id") != F.col("n_cell_id"))
    )
    return (
        nbrs.select(
            F.least("cell_id", "n_cell_id").alias("cell_id_a"),
            F.greatest("cell_id", "n_cell_id").alias("cell_id_b"),
        )
        .distinct()
        .orderBy("cell_id_a", "cell_id_b")
    )


#: most dual-graph edges the graph operators fetch to the driver (the dual
#: graph derives from the driver-built cells dictionary — edges ≤ 8 ×
#: cells, dimension-scale by the same argument)
LOCAL_BFS_MAX_EDGES = 4_000_000

_DIAMETER_COLUMNS = ("n_nodes", "n_edges", "diameter", "endpoint_a", "endpoint_b")
_DIAMETER_SCHEMA = ", ".join(f"{c} long" for c in _DIAMETER_COLUMNS)


def _local_csr(dual_edges: DataFrame):
    """(nodes, indptr, indices, n_edges) of the undirected edge set.  ONE
    job both gates and fetches: limit(N+1).toPandas() returns all M rows
    when M ≤ N, and N+1 rows mean the graph is too big for the driver
    (``ValueError``).  ``nodes`` are the sorted endpoint ids; CSR node i
    is ``nodes[i]``."""
    pdf = (
        dual_edges.select("cell_id_a", "cell_id_b")
        .limit(LOCAL_BFS_MAX_EDGES + 1)
        .toPandas()
    )
    if len(pdf) > LOCAL_BFS_MAX_EDGES:
        raise ValueError(
            "the dual graph has more than LOCAL_BFS_MAX_EDGES = "
            f"{LOCAL_BFS_MAX_EDGES} edges; it derives from the dimension-scale "
            "cells dictionary and is walked on the driver"
        )
    a = pdf["cell_id_a"].to_numpy(dtype=np.int64)
    b = pdf["cell_id_b"].to_numpy(dtype=np.int64)
    nodes = np.unique(np.concatenate([a, b]))
    ai, bi = np.searchsorted(nodes, a), np.searchsorted(nodes, b)
    indptr, indices = csr_adjacency(
        len(nodes), np.concatenate([ai, bi]), np.concatenate([bi, ai])
    )
    return nodes, indptr, indices, len(pdf)


def cell_hop_distances(dual_edges: DataFrame, source_cell_id: int) -> DataFrame:
    """T23 — hop distances over the cell dual graph: (cell_id, hop) for
    every cell reachable from ``source_cell_id``, hop = BFS shortest path
    length (reference src/OsmTriangulationRegionStore.cpp:382-429 —
    the hop metric the reference's cell splitting and diameter checks
    walk).  Cells outside the source's component are absent.

    One ``hopsplit.csr_bfs`` on the driver over the fetched CSR; more
    than LOCAL_BFS_MAX_EDGES edges raise ``ValueError``."""
    nodes, indptr, indices, _ = _local_csr(dual_edges)
    start = int(np.searchsorted(nodes, source_cell_id))
    if start == len(nodes) or nodes[start] != source_cell_id:
        # a source with no edges reaches only itself
        out = pd.DataFrame({"cell_id": [source_cell_id], "hop": [0]})
    else:
        dist = csr_bfs(indptr, indices, start)
        found = dist >= 0
        out = pd.DataFrame({"cell_id": nodes[found], "hop": dist[found]})
    return dual_edges.sparkSession.createDataFrame(out, schema="cell_id long, hop long")


def cell_graph_diameter_endpoints(dual_edges: DataFrame) -> DataFrame:
    """T7 with the reference's ``calcDiameter(startNode, endNode)`` ENDPOINTS
    (reference include/osmtools/OsmTriangulationRegionStore.h:83):
    one row (n_nodes, n_edges, diameter, endpoint_a, endpoint_b), diameter
    the max eccentricity over all components (nodes = edge endpoints;
    isolated ids have no hops to measure).

    ``hopsplit.max_hop_pair`` runs on the driver over the fetched CSR:
    exact all-pairs BFS up to EXACT_DIAMETER_PRACTICAL nodes,
    with a PINNED tie rule — the lexicographically smallest ``(endpoint_a,
    endpoint_b)``, ``endpoint_a < endpoint_b``, among every pair at max
    eccentricity (the reference's first-found pair depends on thread
    interleaving; a deterministic rule is the Spark-reproducibility
    analog) — and the seeded double sweep above it, as the reference
    switches (reference src/OsmTriangulationRegionStore.cpp:100-132).
    More than LOCAL_BFS_MAX_EDGES edges raise ``ValueError``.  The row is
    a driver-local ``LocalRelation``: reading it runs no Spark job."""
    nodes, indptr, indices, n_edges = _local_csr(dual_edges)
    if len(nodes) == 0:
        row = (0, 0, 0, 0, 0)
    else:
        u, v, diam = max_hop_pair(indptr, indices)
        a, b = sorted((int(nodes[u]), int(nodes[v])))
        row = (len(nodes), n_edges, diam, a, b)
    return dual_edges.sparkSession.createDataFrame(
        pd.DataFrame([row], columns=_DIAMETER_COLUMNS), _DIAMETER_SCHEMA
    )


def cell_graph_diameter(dual_edges: DataFrame) -> DataFrame:
    """T7 — max-hop diameter of the cell dual graph with the reference's
    exact/approx size switch: one row (n_nodes, n_edges, diameter), the
    projection of ``cell_graph_diameter_endpoints``."""
    return cell_graph_diameter_endpoints(dual_edges).select(
        "n_nodes", "n_edges", "diameter"
    )


def cell_center_of_mass(point_cells_latlon: DataFrame) -> DataFrame:
    """T11: mean of member point coords per cell
    (/root/reference/src/OsmTriangulationRegionStore.cpp:294-320 — mean of
    face centroids; points are our faces' sample set).

    The mean is computed over EXACT integer micro-degree sums (coords are
    1e-6-snapped by the G5 contract, so round(lat·1e6) is the exact snap
    integer and the int64 sum is exact), finished by two IEEE divisions —
    the result is bit-identical in any engine and ANY partition/summation
    order, unlike a float avg() whose value varies run-to-run with Spark's
    partition order.  SQL mirror: (CAST(sum(CAST(round(lat*1000000.0) AS
    BIGINT)) AS DOUBLE) / count(*)) / 1000000.0."""
    lat_u = F.round(F.col("lat") * 1e6).cast("long")
    lon_u = F.round(F.col("lon") * 1e6).cast("long")
    agg = point_cells_latlon.groupBy("cell_id").agg(
        F.count("*").alias("n_points"),
        F.sum(lat_u).alias("_slat"),
        F.sum(lon_u).alias("_slon"),
    )
    n = F.col("n_points").cast("double")
    return agg.select(
        "cell_id",
        "n_points",
        (F.col("_slat").cast("double") / n / F.lit(1e6)).alias("com_lat"),
        (F.col("_slon").cast("double") / n / F.lit(1e6)).alias("com_lon"),
    )


def region_cells_inverted(cells: DataFrame) -> DataFrame:
    """T12: region_id → cells containing it (one row per pair)
    (/root/reference/include/osmtools/OsmTriangulationRegionStore.h:538-553)."""
    return cells.select("cell_key", "cell_id", F.explode("region_ids").alias("region_id"))


def cell_stats(point_cells: DataFrame) -> DataFrame:
    """T22: min/max/median/mean points per cell, cell 0 excluded
    (/root/reference/src/OsmTriangulationRegionStore.cpp:1088-1111).

    The median is Spark's exact linear-interpolation percentile — the same
    definition as DuckDB quantile_cont, so the driver oracle matches it
    exactly.  It runs over the per-cell sizes table (one row per cell,
    dimension-scale), not over the points.  The mean is sum(int)/count
    (exact integer sum, one IEEE division)."""
    sizes = point_cells.filter(F.col("cell_id") != 0).groupBy("cell_id").agg(
        F.count("*").alias("n")
    )
    return sizes.agg(
        F.min("n").alias("min_points"),
        F.max("n").alias("max_points"),
        F.expr("percentile(n, 0.5)").alias("median_points"),
        (F.sum("n").cast("double") / F.count("*").cast("double")).alias("mean_points"),
        F.count("*").alias("n_cells"),
    )


def _set_diam2(cla, clo) -> float:
    """Exact max squared euclidean (degree) distance of one point set.

    Convex hull first (Andrew's monotone chain): the farthest pair of a
    finite point set is a pair of hull vertices, so the pairwise max runs
    over the (tiny) hull instead of all n² pairs — same value, computed by
    the identical dlat²+dlon² expression, so the result is bit-equal to
    the old quadratic scan (the max pair's arithmetic is unchanged).
    NaN coordinates fall back to the legacy chunked quadratic scan to
    preserve its propagation semantics exactly."""
    import numpy as np

    n = len(cla)
    if n < 2:
        return 0.0
    # NaN check BEFORE the 2-point shortcut: the legacy scan's
    # max(0.0, nan) kept 0.0 for a NaN pair, and the fallback reproduces
    # that; a bare subtraction would return NaN instead
    if np.isnan(cla).any() or np.isnan(clo).any():
        best = 0.0
        chunk = max(1, 4_000_000 // n)
        for i0 in range(0, n, chunk):
            sl = slice(i0, i0 + chunk)
            d2 = (cla[sl, None] - cla[None, :]) ** 2 + (clo[sl, None] - clo[None, :]) ** 2
            best = max(best, float(d2.max()))
        return best
    if n == 2:
        return float((cla[0] - cla[1]) ** 2 + (clo[0] - clo[1]) ** 2)
    order = np.lexsort((cla, clo))
    xs, ys = clo[order], cla[order]

    def chain(idx):
        stack: list = []
        for i in idx:
            while len(stack) >= 2:
                a, b = stack[-2], stack[-1]
                if (xs[b] - xs[a]) * (ys[i] - ys[a]) - (ys[b] - ys[a]) * (xs[i] - xs[a]) <= 0:
                    stack.pop()
                else:
                    break
            stack.append(i)
        return stack

    hull = np.unique(np.concatenate([chain(range(n)), chain(range(n - 1, -1, -1))]))
    hy, hx = ys[hull], xs[hull]
    # hull size is usually tiny, but points in convex position keep it at
    # ~n — chunk the pairwise max like the legacy scan so the temporaries
    # stay bounded instead of allocating an h×h matrix
    h = len(hull)
    best = 0.0
    chunk = max(1, 4_000_000 // h)
    for i0 in range(0, h, chunk):
        sl = slice(i0, i0 + chunk)
        d2 = (hy[sl, None] - hy[None, :]) ** 2 + (hx[sl, None] - hx[None, :]) ** 2
        best = max(best, float(d2.max()))
    return best


def cell_diameter(point_cells_latlon: DataFrame) -> DataFrame:
    """(cell_key, n, diam2): exact per-cell point-set diameter (max squared
    euclidean degrees, the kNN metric).

    Per cell the farthest pair is found via convex hull + a pairwise max
    over hull vertices (_set_diam2) — O(n log n) instead of the former
    chunked all-pairs scan, exact same output.  The per-cell grouping (one
    task per cell) is unchanged, so the operator still exposes cell-size
    skew: a hot cell's work serializes on one task until
    cells/refine.refine_oversized bounds it — bench.py's skew probe
    measures that before/after (the analytic Σn² work_ratio evidences the
    bound; walls now measure the subquadratic operator)."""
    import numpy as np
    import pandas as pd

    # group by hash BUCKETS of cells, not per cell: one Arrow round-trip
    # per bucket with numpy sort-grouping inside (per-group applyInPandas
    # overhead at ~8k cells dwarfed the actual geometry), while each cell
    # still lands wholly in one task — the skew exposure is unchanged.
    n_buckets = 256

    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        keys = pdf["cell_key"].to_numpy(dtype=np.int64)
        la = pdf["lat"].to_numpy(dtype=np.float64)
        lo = pdf["lon"].to_numpy(dtype=np.float64)
        order = np.argsort(keys, kind="stable")
        keys, la, lo = keys[order], la[order], lo[order]
        uniq, starts = np.unique(keys, return_index=True)
        ends = np.append(starts[1:], len(keys))
        ns, diams = np.empty(len(uniq), dtype=np.int64), np.empty(len(uniq))
        for i, (s, e) in enumerate(zip(starts, ends)):
            ns[i] = e - s
            diams[i] = _set_diam2(la[s:e], lo[s:e])
        return pd.DataFrame({"cell_key": uniq, "n": ns, "diam2": diams})

    return (
        point_cells_latlon.filter(F.col("cell_key").isNotNull())
        .withColumn("_bkt", F.pmod(F.xxhash64("cell_key"), F.lit(n_buckets)))
        .groupBy("_bkt")
        .applyInPandas(per_bucket, "cell_key long, n long, diam2 double")
    )
