"""T4/T5 — cell-id assignment: dictionary-encoding of region sets.

The reference PIP-queries each face's centroid, interns the sorted region
list into a dense cell id, and pins the empty list to cell 0
(/root/reference/src/OsmTriangulationRegionStore.cpp:946-1086; empty-list=0
at :990-996).  Grid version: the cell's representative point is its center
(/root/reference/src/OsmTriangulationRegionStore.cpp:276-278 uses the face
centroid for the same purpose).

Dictionary order contract (deterministic, engine == oracle == golden):
cell ids are dense_rank over the **lexicographic order of the comma-joined
sorted region-id list**, with the empty list forced to 0 and non-empty lists
starting at 1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from libosmtools_spark.geom.columns import cell_center_cols
from libosmtools_spark.joins.spatial import spatial_join, spatial_join_adaptive


def cell_region_sets(
    cell_keys: DataFrame, cell_index: DataFrame, rings_bcast, level: int = 6,
    max_level: int | None = None,
) -> DataFrame:
    """distinct cell_key → (cell_key, region_ids sorted array): PIP of the
    cell center against the region store (T4's centroid query).

    ``max_level`` > level means ``cell_index`` is the adaptive mixed-level
    index (the engine default); the center query then probes ancestor keys
    per level.  Output is identical either way — the index shape only
    changes which centers skip the ray-cast."""
    clat, clon = cell_center_cols(F.col("cell_key"))
    centers = cell_keys.select("cell_key").distinct().withColumn("lat", clat).withColumn("lon", clon)
    if max_level is not None and max_level > level:
        hits = spatial_join_adaptive(centers, cell_index, rings_bcast, level, max_level)
    else:
        hits = spatial_join(centers, cell_index, rings_bcast, level=level)
    sets = hits.groupBy("cell_key").agg(F.array_sort(F.collect_set("region_id")).alias("region_ids"))
    return (
        centers.select("cell_key")
        .join(sets, "cell_key", "left")
        .withColumn("region_ids", F.coalesce(F.col("region_ids"), F.array().cast("array<int>")))
    )


def intern_cell_ids(cell_sets: DataFrame) -> DataFrame:
    """(cell_key, region_ids) → (cell_key, cell_id, region_ids).

    dense_rank over the canonical set string; empty ⇒ 0
    (/root/reference/src/OsmTriangulationRegionStore.cpp:990-996).  The
    window is over the *distinct set strings* (dimension-scale), not the
    cells table, so the single-partition window is bounded.
    """
    keyed = cell_sets.withColumn("set_key", F.concat_ws(",", F.col("region_ids")))
    distinct_sets = keyed.select("set_key").filter(F.col("set_key") != "").distinct()
    w = Window.orderBy("set_key")
    dict_df = distinct_sets.withColumn("cell_id", F.dense_rank().over(w))
    return (
        keyed.join(F.broadcast(dict_df), "set_key", "left")
        .withColumn("cell_id", F.coalesce(F.col("cell_id"), F.lit(0)))
        .select("cell_key", "cell_id", "region_ids")
    )


def build_cells_table(
    point_cells: DataFrame, cell_index: DataFrame, rings_bcast, level: int = 6,
    max_level: int | None = None,
) -> DataFrame:
    """distinct cells among points → the cells dictionary table
    (cell_key, cell_id, region_ids)."""
    return intern_cell_ids(
        cell_region_sets(point_cells, cell_index, rings_bcast, level, max_level)
    )


def build_cells_table_map(
    point_cells: DataFrame,
    candidates_bcast,
    rings_bcast,
    input_batch_unique: bool = False,
) -> DataFrame:
    """build_cells_table on the broadcast-kernel path (engine flagship
    default) — output identical to the join-based build (parity-tested).

    FUSED single-task build: the cells dictionary is dimension-scale BY
    CONTRACT (it is broadcast into the flagship join right after, and the
    reference holds the analogous cellIdToCellList in memory), yet the old
    pipeline spent five tiny distributed stages on it — distinct exchange,
    a centers mapInArrow stage, the set-string distinct, the dense_rank
    window (its own single-partition exchange), and the dictionary join —
    each paying fixed scheduling/boundary cost that together rivalled the
    flagship's whole fact pass at bench scale (measured: cells branch
    1.64 s vs 0.82 s for the 200k-page kernel pass).  Now ONE Arrow task
    on the repartition(1)-gathered distinct keys computes centers (the
    exact cell_center_cols arithmetic, same IEEE op order), resolves
    region sets with the same `_resolve_masks` kernel, and interns ids by
    the same contract: dense rank over the lexicographic order of the
    comma-joined sorted region-id strings, empty set pinned to 0.

    ``input_batch_unique=True`` skips the distinct exchange for callers
    whose input is already batch-deduplicated near dimension scale (the
    flagship kernel's batch-unique keys, SpatialEngine.kernel_cells, or
    page_cell_keys_text); corpus-scale callers keep distinct-first so the
    single-task gather never sees fact-table row counts."""
    import numpy as np

    from libosmtools_spark.geom import kernels as K
    from libosmtools_spark.joins.mapjoin import _masks_to_region_lists, _resolve_masks

    n_regions = candidates_bcast.value["n_regions"]
    n_words = max(1, (n_regions + 62) // 63)
    index_levels = sorted(candidates_bcast.value["levels"].keys())

    keys_df = point_cells.select("cell_key")
    if not input_batch_unique:
        keys_df = keys_df.distinct()

    def build(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        tabs = candidates_bcast.value["levels"]
        rings = rings_bcast.value
        parts = [
            pc.fill_null(b.column(0), -1).to_numpy(zero_copy_only=False).astype(np.int64)
            for b in batches
            if len(b)
        ]
        keys = np.unique(np.concatenate(parts)) if parts else np.empty(0, dtype=np.int64)
        n = len(keys)
        # centers via the EXACT cell_center_cols formula — same op order
        # (iy·size − 90.0) + size/2, so the doubles feeding the ray-cast
        # are bit-identical to the JVM-computed centers of the old path
        la = np.full(n, np.nan)
        lo = np.full(n, np.nan)
        valid = keys >= 0
        if valid.any():
            kv = keys[valid]
            level = kv >> K._LEVEL_SHIFT
            iy = (kv >> K._IY_SHIFT) & ((np.int64(1) << (K._LEVEL_SHIFT - K._IY_SHIFT)) - 1)
            ix = kv & ((np.int64(1) << K._IY_SHIFT) - 1)
            size = 180.0 / np.power(2.0, level.astype(np.float64))
            la[valid] = iy.astype(np.float64) * size - 90.0 + size / 2
            lo[valid] = ix.astype(np.float64) * size - 180.0 + size / 2
        masks = _resolve_masks(la, lo, keys, tabs, rings, index_levels, n_words)
        offs, vals = _masks_to_region_lists(masks)
        set_keys = [",".join(map(str, vals[offs[i] : offs[i + 1]])) for i in range(n)]
        # dense rank over lexicographically sorted non-empty set strings —
        # Python str order == Spark UTF8 binary order on ASCII digits/commas
        ranked = {s: r + 1 for r, s in enumerate(sorted({s for s in set_keys if s}))}
        cell_id = np.fromiter((ranked.get(s, 0) for s in set_keys), dtype=np.int32, count=n)
        out_keys = pa.array([None if k < 0 else int(k) for k in keys], type=pa.int64())
        yield pa.RecordBatch.from_arrays(
            [
                out_keys,
                pa.array(cell_id, type=pa.int32()),
                pa.ListArray.from_arrays(
                    pa.array(offs, type=pa.int32()), pa.array(vals, type=pa.int32())
                ),
            ],
            ["cell_key", "cell_id", "region_ids"],
        )

    return keys_df.repartition(1).mapInArrow(
        build, "cell_key long, cell_id int, region_ids array<int>"
    )


def assign_point_cell_ids(points_with_key: DataFrame, cells: DataFrame) -> DataFrame:
    """points (with cell_key) → + cell_id (coalesce 0: outside-arrangement
    contract, /root/reference/src/OsmTriangulationRegionStore.cpp:1113-1127)."""
    return (
        points_with_key.join(F.broadcast(cells.select("cell_key", "cell_id")), "cell_key", "left")
        .withColumn("cell_id", F.coalesce(F.col("cell_id"), F.lit(0)))
    )


def handle_cell_changes(points_with_key: DataFrame, cells: DataFrame, rebuild):
    """T20 repair — the handleCellChanges contract
    (/root/reference/src/OsmTriangulationRegionStore.cpp:927-943): after a
    geometry-mutating operation (snapping, re-refinement), the cell
    dictionary survives only if (a) every point still resolves to a known
    cell (every face hasCellId) and (b) the set of live cell ids still
    matches the dictionary (cellIds.size() == cellIdToCellList.size());
    otherwise the dictionary is cleared and rebuilt via ``rebuild()``.

    Returns (cells_df, rebuilt: bool)."""
    live = points_with_key.select("cell_key").distinct().join(
        cells.select("cell_key", "cell_id"), "cell_key", "left"
    )
    counts = live.agg(
        F.sum(F.col("cell_id").isNull().cast("int")).alias("n_unknown"),
        F.count_distinct(F.col("cell_id")).alias("n_live_ids"),
    ).collect()[0]
    n_dict = cells.select("cell_id").distinct().count()
    if (counts["n_unknown"] or 0) > 0 or counts["n_live_ids"] != n_dict:
        return rebuild(), True
    return cells, False
