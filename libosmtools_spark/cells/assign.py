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
starting at 1 (``intern_region_sets``).

One builder: ``build_cells_table_map`` collects the occupied cells' keys
to the driver, resolves each cell's center with the flagship's region
kernel (joins/mapjoin._resolve_masks) and interns the sets there, in
memory, as the reference does; no Python worker task runs for it.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def intern_region_sets(region_lists: Iterable[Sequence[int]]) -> np.ndarray:
    """Sorted region-id lists → int32 cell ids by the dictionary order
    contract: dense rank over the lexicographic order of the comma-joined
    lists, empty list pinned to 0 (the reference's
    OsmTriangulationRegionStore.cpp:990-996).  Python str order == Spark
    UTF8 binary order on ASCII digits and commas."""
    set_keys = [",".join(map(str, ids)) for ids in region_lists]
    ranked = {s: r + 1 for r, s in enumerate(sorted({s for s in set_keys if s}))}
    return np.fromiter((ranked.get(s, 0) for s in set_keys), dtype=np.int32, count=len(set_keys))


def build_cells_table_map(
    point_cells: DataFrame,
    candidates_bcast,
    rings_bcast,
    input_batch_unique: bool = False,
) -> DataFrame:
    """distinct cells among ``point_cells.cell_key`` → the cells dictionary
    (cell_key, cell_id, region_ids): the engine's one dictionary builder.

    The dictionary is dimension-scale BY CONTRACT (it is broadcast into the
    flagship join right after, and the reference holds the analogous
    cellIdToCellList in memory), so it is built on the driver: one job
    collects the keys (``toArrow``), and the driver computes cell centers
    (the midpoint, in the oracle SQL's op order), resolves their region
    sets with the flagship's ``_resolve_masks`` kernel and interns ids
    with ``intern_region_sets`` (``rings_bcast`` is not read: the
    candidate tables carry the clipped edges).  A NULL key (page
    without a geocode) gets the empty set and cell 0.  The call itself
    runs that job; the returned frame is a ONE-partition ``LocalRelation``
    (not one partition per core), so reading or broadcasting it starts no
    Python worker and runs one task, and writing it makes one file
    (Spark still collects a broadcast ``LocalTableScan`` in a small
    JVM-only job).

    ``input_batch_unique=True`` skips the distinct exchange for callers
    whose input is already deduplicated per task near dimension scale
    (the flagship kernel's task-unique keys, SpatialEngine.kernel_cells:
    tasks × occupied cells at most, whatever the Arrow batch size);
    corpus-scale callers keep distinct-first so the driver gather never
    sees fact-table row counts."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from libosmtools_spark.geom import kernels as K
    from libosmtools_spark.joins.mapjoin import _masks_to_region_lists, _resolve_masks

    keys_df = point_cells.select("cell_key")
    if not input_batch_unique:
        keys_df = keys_df.distinct()
    col = keys_df.toArrow().column(0)
    keys = np.unique(pc.fill_null(col, -1).to_numpy())
    n = len(keys)
    # centers in one fixed op order, (iy·size − 90.0) + size/2 — the
    # oracle SQL's CK_CLAT/CK_CLON order — so the doubles feeding the
    # ray-cast are bit-identical to the oracle's
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
    cand = candidates_bcast.value
    masks = _resolve_masks(la, lo, keys, cand["levels"], None, sorted(cand["levels"]), cand["n_words"])
    offs, vals = _masks_to_region_lists(masks)
    cell_id = intern_region_sets(vals[offs[i] : offs[i + 1]] for i in range(n))
    table = pa.table(
        {
            "cell_key": pa.array(keys, mask=~valid),
            "cell_id": pa.array(cell_id, type=pa.int32()),
            "region_ids": pa.ListArray.from_arrays(
                pa.array(offs, type=pa.int32()), pa.array(vals, type=pa.int32())
            ),
        }
    )
    return point_cells.sparkSession.createDataFrame(
        table, "cell_key long, cell_id int, region_ids array<int>"
    ).coalesce(1)


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
