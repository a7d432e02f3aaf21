"""T5/T6/T16 — cell refinement: connected components and skew-bounded
splitting.

- ``connected_components``: the reference's makeConnected splits each cell
  id into contiguous components over face adjacency (DFS relabel,
  /root/reference/src/OsmTriangulationRegionStore.cpp:517-591).  Grid
  version: component-min labels over the cell-key adjacency graph
  restricted to same-cell_id edges, computed by vectorized numpy on the
  driver.  The cells dictionary it reads is built on the driver in the
  first place, so one ``limit(LOCAL_CC_MAX_ROWS + 1)`` fetch bounds the
  gather, and a larger table is refused with a ``ValueError``.

- ``refine_oversized``: the reference's refineCells bounds per-cell size
  with pluggable criteria (CellTriangleCountCriteria,
  /root/reference/src/CellCriteria.cpp:6-30; CellDiagonalCriteria :32-97)
  via voronoi-style splitting (:593-759).  Grid version: any cell holding
  more than ``max_points`` points is subdivided one level deeper
  (quadtree), repeatedly, until bounded or ``max_level`` reached.  This is
  semantic-skew mitigation: dense urban tiles get deeper keys, so the
  downstream shuffle on cell_key is balanced — the same contract (bounded
  cell size), grid-native mechanism.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from libosmtools_spark.geom.columns import cell_key_col
from libosmtools_spark.geom.kernels import _LEVEL_SHIFT

#: most cells-table rows ``connected_components`` fetches to the driver —
#: the cells dictionary is DIMENSION-scale (it is built on the driver and
#: broadcast in the flagship join; the reference's makeConnected is
#: likewise an in-memory DFS,
#: reference src/OsmTriangulationRegionStore.cpp:517-591)
LOCAL_CC_MAX_ROWS = 2_000_000


def _local_component_labels(keys: np.ndarray, cids: np.ndarray, max_iter: int = 64) -> np.ndarray:
    """Component-min labels over the same-cell_id ring-1 grid adjacency,
    fully vectorized numpy: one neighbor-min sweep (np.minimum.at) + one
    pointer jump (label ← label(label)) per round → O(log diameter) rounds,
    microseconds per round at dimension scale.  ``keys`` must be sorted
    ascending."""
    n = len(keys)
    level = keys >> _LEVEL_SHIFT
    iy = (keys >> 28) & ((1 << 27) - 1)
    ix = keys & ((1 << 28) - 1)
    nlat = np.int64(1) << level
    nlon = nlat * 2
    srcs, dsts = [], []
    for dy in (-1, 0, 1):
        for dx in (-1, 0, 1):
            if dy == 0 and dx == 0:
                continue
            niy = iy + dy
            ok = (niy >= 0) & (niy < nlat)
            nix = (ix + dx) % nlon
            nkey = (level << _LEVEL_SHIFT) + (niy << 28) + nix
            pos = np.searchsorted(keys, nkey)
            pos[pos >= n] = n - 1
            hit = ok & (keys[pos] == nkey)
            src = np.flatnonzero(hit)
            dst = pos[src]
            same = cids[src] == cids[dst]
            srcs.append(src[same])
            dsts.append(dst[same])
    src = np.concatenate(srcs) if srcs else np.empty(0, dtype=np.int64)
    dst = np.concatenate(dsts) if dsts else np.empty(0, dtype=np.int64)
    lab = keys.copy()
    for _ in range(max_iter):
        old = lab
        lab = lab.copy()
        if len(src):
            np.minimum.at(lab, src, lab[dst])
        # pointer jump: labels are member keys, so their index is their
        # position in the sorted key array
        lab = lab[np.searchsorted(keys, lab)]
        if (lab == old).all():
            break
    return lab


def connected_components(cells: DataFrame) -> DataFrame:
    """cells(cell_key, cell_id) → (cell_key, cell_id, refined_cell_id).

    refined_cell_id is dense over (cell_id, component), so the
    refined→unrefined map of the reference
    (/root/reference/src/OsmTriangulationRegionStore.cpp:589) is just the
    cell_id column retained alongside.

    The cells dictionary is a dimension table built on the driver, so
    ONE limit(LOCAL_CC_MAX_ROWS + 1) job gates and fetches it and the
    labels are computed in memory (the reference's own makeConnected
    posture, a DFS over an in-memory triangulation).  A table of more
    than LOCAL_CC_MAX_ROWS rows raises ``ValueError``: the driver never
    holds more than that bound plus one row."""
    import pandas as pd

    pdf = cells.select("cell_key", "cell_id").limit(LOCAL_CC_MAX_ROWS + 1).toPandas()
    if len(pdf) > LOCAL_CC_MAX_ROWS:
        raise ValueError(
            f"the cells table has more than LOCAL_CC_MAX_ROWS = "
            f"{LOCAL_CC_MAX_ROWS} rows; the cells dictionary is "
            "dimension-scale and is labelled on the driver"
        )
    pdf = pdf.sort_values("cell_key")
    keys = pdf["cell_key"].to_numpy(dtype=np.int64)
    cids = pdf["cell_id"].to_numpy(dtype=np.int64)
    lab = _local_component_labels(keys, cids)
    # dense_rank over distinct (cell_id, label), cell 0 pinned to 0 (the
    # empty-region sentinel never splits —
    # reference src/OsmTriangulationRegionStore.cpp:996)
    pairs = np.stack([cids, lab], axis=1)
    # np.unique(axis=0) sorts rows lexicographically — the order of
    # DENSE_RANK() OVER (ORDER BY cell_id, label); inverse = rank-1
    _, inv = np.unique(pairs, axis=0, return_inverse=True)
    refined = np.where(cids == 0, 0, inv.astype(np.int64) + 1)
    out = pd.DataFrame(
        {"cell_key": keys, "cell_id": pdf["cell_id"].to_numpy(), "refined_cell_id": refined}
    )
    return cells.sparkSession.createDataFrame(out)


#: above this many hot cells the collected set stops being driver-safe
#: (at 10^12 rows / 8000 per cell the hot set can reach ~10^8) — switch to
#: the fully-distributed anti-join resolution with a LAZY hot-side plan
DEFAULT_MAX_HOT_CELLS = 100_000

#: up to this many hot cells the final keys are a pure literal-isin
#: expression (no joins at all); between this and DEFAULT_MAX_HOT_CELLS the
#: hot set still fits the driver but a 10k+-literal isin bloats the plan
#: (codegen size, plan serialization to every task) — that middle band
#: ships the collected hot rows as a BROADCAST side of the anti-join
LITERAL_MAX_HOT_CELLS = 10_000


def refine_oversized(
    points: DataFrame,
    max_points: int,
    max_level: int = 20,
    lat: str = "lat",
    lon: str = "lon",
    key_col: str = "cell_key",
    max_rounds: int = 16,
) -> DataFrame:
    """points(…, lat, lon, cell_key) → same rows with cell_key subdivided
    wherever a cell exceeded ``max_points`` (CellTriangleCountCriteria
    contract, /root/reference/src/CellCriteria.cpp:24-26) — quadtree
    semantics: a cell splits iff its count exceeds the bound, recursively,
    until bounded or ``max_level``.

    PRECONDITION: all input keys share one level (checked; ValueError on
    mixed levels).  The single-pass plan below pools per-level counts over
    all rows, which equals the recursive semantics only when every row
    starts at the same level — re-running the operator on its own refined
    output would otherwise over-split cells whose true occupancy is small.

    SINGLE-PASS plan (the iterative per-round loop cost more than the skew
    it cures: each round was a full aggregation + checkpoint job):

    1. one aggregation over (level, key-at-level) for every candidate
       level computes every cell count the recursion could ever consult
       (a child's count doesn't depend on whether its parent split, so
       all split decisions are determined by these unconditional counts);
    2. the HOT set (count > max_points) is the skew tail — usually
       dimension-scale.  Three bands by hot-set size:
       - ≤ LITERAL_MAX_HOT_CELLS: pure literal-isin expression — no loop,
         no shuffle, no join;
       - ≤ DEFAULT_MAX_HOT_CELLS: the collected hot rows ship as a BROADCAST
         anti-join side (a 10k+-literal isin bloats codegen and plan
         serialization; the broadcast costs one small table instead);
       - beyond: fully distributed — candidate (row, level) pairs
         anti-join the LAZY hot plan and a min-by-level agg picks each
         row's first safe level.  No driver materialization at any size.
       Both join bands return an EAGERLY MATERIALIZED result
       (localCheckpoint, like knn_ring) — the row-id linking the two scans
       of the input must be pinned (see _resolve_with_join), and callers in
       long-lived sessions release it via
       ``session.release_local_checkpoint``.

    ``max_rounds`` caps the refinement depth below ``max_level`` (the
    reference's loop bound, OsmTriangulationRegionStore.h:513)."""
    lvl0 = F.shiftright(F.col(key_col), _LEVEL_SHIFT)
    lv_row = points.select(F.min(lvl0).alias("lo"), F.max(lvl0).alias("hi")).first()
    if lv_row["lo"] is None:
        return points
    if int(lv_row["lo"]) != int(lv_row["hi"]):
        raise ValueError(
            "refine_oversized requires a uniform starting key level "
            f"(got levels {lv_row['lo']}..{lv_row['hi']}); the single-pass "
            "count pooling is only equivalent to the recursion for uniform input"
        )
    l0 = int(lv_row["lo"])
    # split decisions are consulted at levels l0 .. depth_cap-1; final keys
    # land in l0 .. depth_cap
    depth_cap = min(max_level, l0 + max_rounds)
    probe_levels = list(range(l0, depth_cap))
    if not probe_levels:
        return points
    lv_struct = F.array(*[
        F.struct(F.lit(L).alias("L"), cell_key_col(F.col(lat), F.col(lon), L).alias("k"))
        for L in probe_levels
    ])
    hot = (
        points.select(F.explode(lv_struct).alias("s"))
        .select(F.col("s.L").alias("L"), F.col("s.k").alias("k"))
        .groupBy("L", "k")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > max_points)
        .select("L", "k")
    )

    # ONE job decides the path: collect at most DEFAULT_MAX_HOT_CELLS+1 hot
    # rows — if the result fits, it IS the complete hot set (limit(N)
    # returns all M rows when M ≤ N); an overflow falls through to the
    # fully distributed resolution (which recomputes the hot agg lazily
    # inside the join — the rare, already-expensive case).  Both bounds are
    # read at call time.
    hot_rows = hot.limit(DEFAULT_MAX_HOT_CELLS + 1).collect()
    if len(hot_rows) > DEFAULT_MAX_HOT_CELLS:
        hot_rows = None

    if hot_rows is not None and len(hot_rows) <= LITERAL_MAX_HOT_CELLS:
        if not hot_rows:
            return points
        hot_by_level: dict[int, set] = {}
        for r in hot_rows:
            hot_by_level.setdefault(int(r["L"]), set()).add(int(r["k"]))
        cap = min(max(hot_by_level) + 1, depth_cap)
        # first non-hot level ≥ l0 (cap level is unconditionally final)
        branches = []
        for L in range(l0, cap + 1):
            key_l = cell_key_col(F.col(lat), F.col(lon), L)
            not_hot = (
                ~key_l.isin(list(hot_by_level[L])) if L in hot_by_level else F.lit(True)
            )
            branches.append(F.when(F.lit(L == cap) | not_hot, key_l))
        return points.withColumn(key_col, F.coalesce(*branches, F.col(key_col)))

    if hot_rows is not None:
        # middle band: the hot set fits the driver but would bloat the plan
        # as literals — ship it back as a broadcast anti-join side instead
        spark = points.sparkSession
        hot_df = F.broadcast(spark.createDataFrame(hot_rows, schema="L int, k long"))
        return _resolve_with_join(points, hot_df, probe_levels, depth_cap, lat, lon, key_col)

    # fully distributed resolution: hot=None tells _resolve_with_join to
    # re-derive the hot agg from ITS OWN pinned checkpoint (not this lazy
    # plan over the uncached input) so both join legs read one evaluation
    # even under nondeterministic upstream lineage; broadcast vs shuffle is
    # Catalyst/AQE's call, nothing driver-side grows with the hot count
    return _resolve_with_join(
        points, None, probe_levels, depth_cap, lat, lon, key_col, max_points=max_points
    )


def _resolve_with_join(
    points: DataFrame,
    hot: DataFrame | None,
    probe_levels: list,
    depth_cap: int,
    lat: str,
    lon: str,
    key_col: str,
    max_points: int | None = None,
) -> DataFrame:
    """Anti-join resolution shared by the broadcast middle band and the
    fully distributed band: explode each row into its (level, key)
    candidates (explode factor ≤ max_rounds), drop the hot ones, keep the
    first safe level per row.

    The row id that ties the candidate explode back to its source row is
    PINNED by an eager localCheckpoint before fan-out:
    monotonically_increasing_id is nondeterministic on re-evaluation (task
    retries, nondeterministic upstream lineage such as sample/limit), and
    the two join legs below would otherwise read two independent
    evaluations of the same uncached plan and silently mis-join.  In the
    fully distributed band (``hot is None``) the hot agg is likewise
    derived from the SAME pinned checkpoint (``max_points`` required), so
    split decisions always agree with the pinned rows — not just the row
    linkage.  The checkpointed id'd input is released once the (also
    checkpointed) result is materialized — the returned DataFrame owns one
    persisted block set; long-lived sessions release it via
    ``session.release_local_checkpoint``."""
    from libosmtools_spark.session import release_local_checkpoint

    rid = F.monotonically_increasing_id().alias("_rid")
    pts_id = points.select(F.struct(*points.columns).alias("_row"), rid).localCheckpoint(
        eager=True
    )
    if hot is None:
        assert max_points is not None
        lv_struct = F.array(*[
            F.struct(
                F.lit(L).alias("L"),
                cell_key_col(F.col("_row." + lat), F.col("_row." + lon), L).alias("k"),
            )
            for L in probe_levels
        ])
        hot = (
            pts_id.select(F.explode(lv_struct).alias("s"))
            .select(F.col("s.L").alias("L"), F.col("s.k").alias("k"))
            .groupBy("L", "k")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") > max_points)
            .select("L", "k")
        )
    final_struct = F.struct(
        F.lit(depth_cap).alias("L"),
        cell_key_col(F.col("_row." + lat), F.col("_row." + lon), depth_cap).alias("k"),
    )
    cand = pts_id.select(
        "_rid", F.explode(F.array_append(
            F.array(*[
                F.struct(
                    F.lit(L).alias("L"),
                    cell_key_col(F.col("_row." + lat), F.col("_row." + lon), L).alias("k"),
                )
                for L in probe_levels
            ]),
            final_struct,
        )).alias("s"),
    ).select("_rid", F.col("s.L").alias("L"), F.col("s.k").alias("k"))
    # the depth_cap candidate never appears in `hot` (not probed), so every
    # row keeps at least one candidate after the anti-join
    safe = cand.join(hot, ["L", "k"], "left_anti")
    first = safe.groupBy("_rid").agg(F.min(F.struct("L", "k")).alias("m"))
    out = pts_id.join(first, "_rid").select(
        F.col("_row").alias("_r"), F.col("m.k").alias("_new_key")
    )
    cols = [F.col("_r." + c).alias(c) for c in points.columns if c != key_col]
    out = (
        out.select(*cols, F.col("_new_key").alias(key_col))
        .select(*points.columns)
        .localCheckpoint(eager=True)
    )
    release_local_checkpoint(pts_id)
    return out
