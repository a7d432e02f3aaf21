"""Strict-parity cell splitting: hop-BFS voronoi growth inside one cell
(T6/T7/T8/T23), for runs where the reference's exact splitting semantics are
wanted instead of the grid-native quadtree split of cells/refine.py — and the
cell-graph core the dual-graph operators of tiles/materialize.py share.

The reference splits an oversized cell by picking far-apart generator faces
(max-hop BFS) and growing new cells by hop distance
(/root/reference/src/OsmTriangulationRegionStore.cpp:593-759).  Its diameter
computation switches from exact all-pairs BFS to a 10-run randomized
double-sweep above a size cutoff
(reference src/OsmTriangulationRegionStore.cpp:100-132) —
EXACT_DIAMETER_PRACTICAL here.

Graphs are CSR adjacency (``indptr``, ``indices``: node i's neighbours are
``indices[indptr[i]:indptr[i + 1]]``).  ``csr_bfs`` is the one hop-distance
BFS: each round gathers the whole frontier's neighbour ranges at once, so a
BFS costs O(V + E) numpy work.  ``max_hop_pair`` is the one all-pairs /
double-sweep diameter search.  Spark shape of the splitter: each cell's
member units (grid sub-cells one level deeper play the role of triangulation
faces) are grouped with ``applyInPandas`` and split over a per-group CSR.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from libosmtools_spark.geom import kernels as K

#: practical exact/approx diameter switch for numpy BFS (the reference's
#: EXACT_DIAMETER_MAX_UNITS = 50,000 faces,
#: reference include/osmtools/OsmTriangulationRegionStore.h:513, is
#: tuned for threaded C++; all-pairs at 50k units is not sensible in-UDF)
EXACT_DIAMETER_PRACTICAL = 2_000
#: double-sweep runs above the cutoff (reference: 10)
APPROX_DIAMETER_RUNS = 10
#: reference default: split up to this many generators per round (:593-759)
DEFAULT_SPLIT_PER_RUN = 2


def csr_adjacency(n: int, src: np.ndarray, dst: np.ndarray):
    """(indptr, indices) of the directed pairs src→dst over nodes 0..n-1.
    The stable sort keeps each node's neighbours in input order."""
    order = np.argsort(src, kind="stable")
    indptr = np.searchsorted(src[order], np.arange(n + 1))
    return indptr, dst[order]


def _local_adjacency(iys: np.ndarray, ixs: np.ndarray, nlon: int):
    """CSR 4-neighbourhood (lon wraps) of the units of one cell; each
    unit's neighbours come in (1,0),(-1,0),(0,1),(0,-1) order."""
    iys = np.asarray(iys, dtype=np.int64)
    ixs = np.asarray(ixs, dtype=np.int64)
    code = iys * nlon + ixs
    order = np.argsort(code)
    sorted_code = code[order]
    n = len(code)
    srcs, dsts = [], []
    for dy, dx in ((1, 0), (-1, 0), (0, 1), (0, -1)):
        want = (iys + dy) * nlon + (ixs + dx) % nlon
        pos = np.minimum(np.searchsorted(sorted_code, want), n - 1)
        hit = np.flatnonzero(sorted_code[pos] == want)
        srcs.append(hit)
        dsts.append(order[pos[hit]])
    return csr_adjacency(n, np.concatenate(srcs), np.concatenate(dsts))


def csr_bfs(indptr: np.ndarray, indices: np.ndarray, start: int) -> np.ndarray:
    """Hop distances from ``start``, -1 where unreachable (T23,
    /root/reference/src/OsmTriangulationRegionStore.cpp:431-452)."""
    dist = np.full(len(indptr) - 1, -1, dtype=np.int64)
    dist[start] = 0
    frontier = np.array([start], dtype=np.int64)
    hop = 0
    while len(frontier):
        hop += 1
        lo = indptr[frontier]
        cnt = indptr[frontier + 1] - lo
        # every frontier node's neighbour range, gathered in one index array
        ends = np.cumsum(cnt)
        idx = np.arange(ends[-1]) + np.repeat(lo - (ends - cnt), cnt)
        nbrs = np.unique(indices[idx])
        frontier = nbrs[dist[nbrs] < 0]
        dist[frontier] = hop
    return dist


def _multi_source_bfs(indptr, indices, sources: list[int]) -> tuple[np.ndarray, np.ndarray]:
    """(owner, dist) growth from several generators at once — the voronoi
    expansion of refineCells; ties go to the lower generator index
    (deterministic)."""
    n = len(indptr) - 1
    dist = np.full(n, -1, dtype=np.int64)
    owner = np.full(n, -1, dtype=np.int64)
    frontier = []
    for gi, s in enumerate(sorted(sources)):
        dist[s] = 0
        owner[s] = gi
        frontier.append(s)
    while frontier:
        nxt = []
        for u in frontier:  # frontier order preserves deterministic ties
            for v in indices[indptr[u]: indptr[u + 1]]:
                if dist[v] < 0:
                    dist[v] = dist[u] + 1
                    owner[v] = owner[u]
                    nxt.append(int(v))
        frontier = nxt
    return owner, dist


def max_hop_pair(indptr: np.ndarray, indices: np.ndarray) -> tuple[int, int, int]:
    """(u, v, diameter_hops) — T7's exact/approx switch.  Up to
    EXACT_DIAMETER_PRACTICAL nodes: exact all-pairs BFS, u the first node
    of max eccentricity and v its first farthest node (so u < v, the
    smallest such pair).  Above it: the seeded randomized double-sweep
    (a lower bound, exact on trees)."""
    n = len(indptr) - 1
    if n <= 1:
        return 0, 0, 0
    best = (0, 0, 0)
    if n <= EXACT_DIAMETER_PRACTICAL:
        for s in range(n):
            d = csr_bfs(indptr, indices, s)
            far = int(d.argmax())
            if d[far] > best[2]:
                best = (s, far, int(d[far]))
        return best
    rng = np.random.default_rng(42)
    for _ in range(APPROX_DIAMETER_RUNS):
        s = int(rng.integers(0, n))
        u = int(csr_bfs(indptr, indices, s).argmax())
        d2 = csr_bfs(indptr, indices, u)
        v = int(d2.argmax())
        if d2[v] > best[2]:
            best = (u, v, int(d2[v]))
    return best


def split_oversized_cells_hopbfs(
    point_cells: DataFrame,
    max_points: int,
    level: int = 6,
    sub_levels: int = 3,
    split_per_run: int = DEFAULT_SPLIT_PER_RUN,
) -> DataFrame:
    """points(…, lat, lon, cell_key, cell_id) → + ``refined_cell_id``.

    Oversized cells (> max_points members) are split by growing
    ``split_per_run + 1`` voronoi sub-cells from max-hop generators over the
    sub-grid adjacency ``sub_levels`` deeper — the reference's exact
    mechanism, expressed per-cell inside a grouped pandas UDF.  Small cells
    pass through with refined == original."""
    from libosmtools_spark.geom.columns import cell_key_col

    sub_level = level + sub_levels
    nlon_sub = 2 << sub_level
    # pure-Column sub-key (no UDF)
    with_sub = point_cells.withColumn("sub_key", cell_key_col(F.col("lat"), F.col("lon"), sub_level))

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in with_sub.schema.fields
    ) + ", refined_cell_id string"

    def split(pdf: pd.DataFrame) -> pd.DataFrame:
        cid = int(pdf["cell_id"].iloc[0])
        if len(pdf) <= max_points:
            pdf = pdf.copy()
            pdf["refined_cell_id"] = str(cid)
            return pdf
        units, inv = np.unique(pdf["sub_key"].to_numpy(), return_inverse=True)
        _, iys, ixs = K.unpack_key(units)
        indptr, indices = _local_adjacency(iys, ixs, nlon_sub)
        u, v, _ = max_hop_pair(indptr, indices)
        gens = [u, v]
        # extra generators: farthest from current set, greedily
        while len(gens) < split_per_run + 1 and len(gens) < len(units):
            _, dist = _multi_source_bfs(indptr, indices, gens)
            cand = int(dist.argmax())
            if dist[cand] <= 0:
                break
            gens.append(cand)
        owner, _ = _multi_source_bfs(indptr, indices, gens)
        owner[owner < 0] = 0  # disconnected units join generator 0
        pdf = pdf.copy()
        pdf["refined_cell_id"] = [f"{cid}.{int(o)}" for o in owner[inv]]
        return pdf

    return with_sub.groupBy("cell_id").applyInPandas(split, out_schema)
