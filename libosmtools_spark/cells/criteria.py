"""Mesh/tile refinement criteria + the fixpoint subdivision loop
(T16/T17/T18/T19 rebuilt on the grid).

The reference refines triangles until no face is "bad" under a pluggable
criterion, capped at 10,000 rounds
(/root/reference/include/osmtools/OsmTriangulationRegionStore.h:481-536);
the grid keeps the two cell-split criteria the driver queries use, which
bound the point count or the bbox diagonal of a cell (libosmtools
src/CellCriteria.cpp:6-97).

Grid analogs — each criterion is a function cells → boolean Column "is_bad";
the subdivision loop replaces every bad cell with its 4 children (T17's
midpoint insertion ≡ quadtree split) until the fixpoint.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from libosmtools_spark.geom.columns import cell_bounds_cols, haversine_m_col
from libosmtools_spark.geom.kernels import _LEVEL_SHIFT, DEFAULT_MIN_DIAG_M, MAX_LEVEL

#: reference round cap (OsmTriangulationRegionStore.h:513)
MAX_REFINE_ROUNDS = 10_000


def cell_diag_m_col(key: Column) -> Column:
    """Geodesic bbox diagonal of a cell (CellDiagonalCriteria quantity,
    /root/reference/src/CellCriteria.cpp:32-97)."""
    mn_lat, mx_lat, mn_lon, mx_lon = cell_bounds_cols(key)
    return haversine_m_col(mn_lat, mn_lon, mx_lat, mx_lon)


def diag_criterion(max_diag_m: float = DEFAULT_MIN_DIAG_M) -> "callable":
    """is_bad: cell diagonal exceeds max (default = the reference's 250 m
    refinement floor, /root/reference/src/OsmGridRegionTree.cpp:70)."""

    def is_bad(cells: DataFrame) -> Column:
        return cell_diag_m_col(F.col("cell_key")) > F.lit(max_diag_m)

    return is_bad


def count_criterion(max_count: int, count_col: str = "n_points") -> "callable":
    """is_bad: cell member count exceeds max (CellTriangleCountCriteria,
    /root/reference/src/CellCriteria.cpp:6-30)."""

    def is_bad(cells: DataFrame) -> Column:
        return F.col(count_col) > F.lit(max_count)

    return is_bad


def refine_until_good(
    cells: DataFrame,
    is_bad,
    max_level: int = MAX_LEVEL,
    max_rounds: int = 32,
    refresh=None,
) -> DataFrame:
    """cells(cell_key, …) → subdivided cells table: every bad cell replaced
    by its 2×2 children, iterated to fixpoint (T16's loop with the quadtree
    analog of T17's refine points).  Rounds bounded; the reference cap is
    MAX_REFINE_ROUNDS but 32 quadtree rounds already exceed MAX_LEVEL.

    ``refresh`` (optional): callable DataFrame → DataFrame applied after
    every split round.  Criteria over derived per-cell quantities (e.g.
    ``count_criterion``'s occupancy) need it — a split child INHERITS the
    parent's columns, so without a refresh the child would be judged on
    the parent's count and the loop would split all the way to
    ``max_level``.  The canonical refresh re-joins occupancy from a
    precomputed per-level count table (see ``__spark_entry__.
    q_refine_fixpoint``); a key-only criterion (``diag_criterion``)
    needs none."""
    from libosmtools_spark.session import release_local_checkpoint

    df = cells
    prev_ck = None
    for _ in range(min(max_rounds, MAX_REFINE_ROUNDS)):
        level = F.shiftright(F.col("cell_key"), _LEVEL_SHIFT)
        bad = is_bad(df) & (level < F.lit(max_level))
        marked = df.withColumn("_bad", bad)
        if marked.filter(F.col("_bad")).isEmpty():
            return marked.drop("_bad")
        good = marked.filter(~F.col("_bad")).drop("_bad")
        # children of bad cells: 2x2 split via key arithmetic
        level_c = F.shiftright(F.col("cell_key"), _LEVEL_SHIFT)
        iy = F.shiftright(F.col("cell_key"), 28).bitwiseAND(F.lit((1 << 27) - 1).cast("long"))
        ix = F.col("cell_key").bitwiseAND(F.lit((1 << 28) - 1).cast("long"))
        children = (
            marked.filter(F.col("_bad"))
            .drop("_bad")
            .withColumn("_dy", F.explode(F.array(F.lit(0), F.lit(1))))
            .withColumn("_dx", F.explode(F.array(F.lit(0), F.lit(1))))
            .withColumn(
                "cell_key",
                (level_c + 1) * F.lit(1 << _LEVEL_SHIFT).cast("long")
                + (iy * 2 + F.col("_dy")) * F.lit(1 << 28).cast("long")
                + (ix * 2 + F.col("_dx")),
            )
            .drop("_dy", "_dx")
        )
        df = good.unionByName(children)
        if refresh is not None:
            df = refresh(df)
        df = df.localCheckpoint()
        # the new round's checkpoint is eager, so the superseded round's
        # blocks can be released immediately — without this the loop
        # accumulates O(rounds) persisted block sets per call
        if prev_ck is not None:
            release_local_checkpoint(prev_ck)
        prev_ck = df
    return df
