"""Refinement criteria (T16-T19) and hop-BFS cell splitting (T6/T7/T23)."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from libosmtools_spark.geom.kernels import _LEVEL_SHIFT


def _plain_bfs(adj, start):
    """Independent per-node queue BFS over list-of-lists adjacency."""
    from collections import deque

    dist = [-1] * len(adj)
    dist[start] = 0
    q = deque([start])
    while q:
        u = q.popleft()
        for v in adj[u]:
            if dist[v] < 0:
                dist[v] = dist[u] + 1
                q.append(v)
    return dist


class TestBFSKernels:
    def grid_adj(self, w, h):
        from libosmtools_spark.cells.hopsplit import _local_adjacency

        ys, xs = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
        return _local_adjacency(ys.ravel(), xs.ravel(), nlon=10_000), ys.ravel(), xs.ravel()

    def test_bfs_distances_manhattan(self):
        from libosmtools_spark.cells.hopsplit import csr_bfs

        adj, ys, xs = self.grid_adj(5, 5)
        d = csr_bfs(*adj, 0)  # from (0,0)
        assert (d == ys + xs).all()

    def test_csr_bfs_matches_plain_bfs_on_random_graphs(self):
        """The vectorized frontier BFS equals a plain queue BFS on random
        sparse graphs, many of them disconnected (unreachable → -1)."""
        from libosmtools_spark.cells.hopsplit import csr_adjacency, csr_bfs

        rng = np.random.default_rng(7)
        disconnected = 0
        for _ in range(200):
            n = int(rng.integers(1, 40))
            m = int(rng.integers(0, 2 * n))
            a, b = rng.integers(0, n, size=(2, m))
            adj = [[] for _ in range(n)]
            for u, v in zip(a.tolist(), b.tolist()):
                adj[u].append(v)
                adj[v].append(u)
            csr = csr_adjacency(n, np.concatenate([a, b]), np.concatenate([b, a]))
            for s in range(n):
                want = _plain_bfs(adj, s)
                assert csr_bfs(*csr, s).tolist() == want
                disconnected += -1 in want
        assert disconnected > 0  # the sample really has unreachable nodes

    def test_local_adjacency_neighbour_order(self):
        """Each unit's neighbours come in (1,0),(-1,0),(0,1),(0,-1) order,
        with the lon wrap — the order _multi_source_bfs's ties depend on."""
        from libosmtools_spark.cells.hopsplit import _local_adjacency

        # 3×4 grid on a 4-wide wrapping row (nlon=4), units shuffled
        rng = np.random.default_rng(3)
        ys, xs = np.meshgrid(np.arange(3), np.arange(4), indexing="ij")
        perm = rng.permutation(12)
        iys, ixs = ys.ravel()[perm], xs.ravel()[perm]
        indptr, indices = _local_adjacency(iys, ixs, nlon=4)
        pos = {(int(y), int(x)): i for i, (y, x) in enumerate(zip(iys, ixs))}
        for i, (y, x) in enumerate(zip(iys, ixs)):
            want = [
                pos[(y + dy, (x + dx) % 4)]
                for dy, dx in ((1, 0), (-1, 0), (0, 1), (0, -1))
                if (y + dy, (x + dx) % 4) in pos
            ]
            assert indices[indptr[i]: indptr[i + 1]].tolist() == want

    def test_max_hop_pair_exact(self):
        from libosmtools_spark.cells.hopsplit import max_hop_pair

        adj, ys, xs = self.grid_adj(4, 3)
        u, v, diam = max_hop_pair(*adj)
        assert diam == (3 - 1) + (4 - 1)

    def test_max_hop_pair_approx_reasonable(self, monkeypatch, spy):
        from libosmtools_spark.cells import hopsplit as H

        adj, ys, xs = self.grid_adj(30, 30)
        calls = spy(H, "csr_bfs")
        _, _, exact = H.max_hop_pair(*adj)
        assert len(calls) == 900  # exact: one BFS per node
        calls.clear()
        monkeypatch.setattr(H, "EXACT_DIAMETER_PRACTICAL", 1)
        _, _, approx = H.max_hop_pair(*adj)
        assert len(calls) == 2 * H.APPROX_DIAMETER_RUNS  # the double sweep
        assert approx >= exact * 0.7  # double-sweep on a grid is near-exact

    def test_multi_source_partition(self):
        from libosmtools_spark.cells.hopsplit import _multi_source_bfs

        adj, ys, xs = self.grid_adj(10, 1)  # a path graph
        owner, dist = _multi_source_bfs(*adj, [0, 9])
        assert owner[0] == 0 and owner[9] == 1
        assert (owner >= 0).all()
        assert owner[4] == 0 and owner[5] == 1


class TestHopSplit:
    def test_splits_hot_cell(self, spark, sf_smoke):
        from libosmtools_spark.cells.assign import assign_point_cell_ids
        from libosmtools_spark.cells.hopsplit import split_oversized_cells_hopbfs
        from libosmtools_spark.joins.spatial import geocode_pages, with_cell_key
        from libosmtools_spark.pipeline import SpatialEngine

        eng = SpatialEngine.from_fixtures(spark, sf_smoke)
        pages = spark.read.parquet(os.path.join(sf_smoke, "pages.parquet"))
        pts = with_cell_key(geocode_pages(pages), level=eng.level).select(
            "url", "lat", "lon", "cell_key"
        )
        cells = eng.kernel_cells(eng.flagship_kernel(pages))
        pc = assign_point_cell_ids(pts, cells)
        out = split_oversized_cells_hopbfs(pc, max_points=200, level=6).toPandas()
        assert len(out) == pages.count()
        sizes = out.groupby("refined_cell_id").size()
        # the urban hotspot cell must have been split into >1 part
        hot = out.groupby("cell_id").size()
        for cid, n in hot.items():
            parts = out.loc[out.cell_id == cid, "refined_cell_id"].nunique()
            if n > 200:
                assert parts > 1, f"cell {cid} ({n} points) not split"
            else:
                assert parts == 1

    def test_deterministic(self, spark, sf_smoke):
        from libosmtools_spark.cells.assign import assign_point_cell_ids
        from libosmtools_spark.cells.hopsplit import split_oversized_cells_hopbfs
        from libosmtools_spark.joins.spatial import geocode_pages, with_cell_key
        from libosmtools_spark.pipeline import SpatialEngine

        eng = SpatialEngine.from_fixtures(spark, sf_smoke)
        pages = spark.read.parquet(os.path.join(sf_smoke, "pages.parquet")).limit(500)
        pts = with_cell_key(geocode_pages(pages), level=eng.level).select(
            "url", "lat", "lon", "cell_key"
        )
        cells = eng.kernel_cells(eng.flagship_kernel(pages))
        pc = assign_point_cell_ids(pts, cells)
        a = split_oversized_cells_hopbfs(pc, max_points=100, level=6).toPandas()
        b = split_oversized_cells_hopbfs(pc, max_points=100, level=6).toPandas()
        a = a.sort_values("url").reset_index(drop=True)
        b = b.sort_values("url").reset_index(drop=True)
        assert (a["refined_cell_id"] == b["refined_cell_id"]).all()


class TestCriteria:
    def test_diag_refinement_reaches_target(self, spark):
        from libosmtools_spark.cells.criteria import diag_criterion, refine_until_good
        from libosmtools_spark.geom.kernels import cell_key

        keys = [int(cell_key([48.0], [11.0], 4)[0]), int(cell_key([0.0], [0.0], 4)[0])]
        cells = spark.createDataFrame([(k,) for k in keys], "cell_key long")
        out = refine_until_good(cells, diag_criterion(200_000.0), max_level=12).toPandas()
        levels = out["cell_key"].to_numpy() >> _LEVEL_SHIFT
        assert levels.min() > 4  # everything got subdivided at least once
        from libosmtools_spark.geom.kernels import EARTH_RADIUS_M, cell_bounds

        # independent numpy haversine of each cell's bbox diagonal
        mn_lat, mx_lat, mn_lon, mx_lon = (np.radians(b) for b in cell_bounds(out["cell_key"].to_numpy()))
        h = np.sin((mx_lat - mn_lat) / 2) ** 2 + np.cos(mn_lat) * np.cos(mx_lat) * np.sin((mx_lon - mn_lon) / 2) ** 2
        diag = 2 * EARTH_RADIUS_M * np.arcsin(np.sqrt(h))
        assert diag.max() <= 200_000.0
        # and none was split past it: a parent's diagonal is about twice its child's
        assert diag.min() > 100_000.0

    def test_refine_fixpoint_count_refresh(self, spark):
        """refine_until_good with the count criterion + occupancy refresh
        (the T16 loop the driver oracles as ``refine_fixpoint``): the
        result is a fixpoint (no cell over the bound below max_level), a
        partition of the input points (counts sum exactly), and children
        only exist where an ancestor was over the bound."""
        import __spark_entry__ as entry

        out = entry.q_refine_fixpoint(spark, "/root/testdata/sf0.001").toPandas()
        levels = out["cell_key"].to_numpy() >> _LEVEL_SHIFT
        n = out["n_points"].to_numpy()
        # fixpoint: below max level nothing is over the bound
        assert (n[levels < entry.REFINE_MAX_LEVEL] <= entry.REFINE_MAX_COUNT).all()
        # partition: every point counted exactly once across surviving cells
        n_docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").count()
        assert int(n.sum()) == n_docs
        # keys unique; refined levels only appear via split ancestors
        assert out["cell_key"].is_unique
        assert levels.min() == entry.REFINE_BASE_LEVEL
        mask = levels > entry.REFINE_BASE_LEVEL
        keys = out["cell_key"].to_numpy()[mask]
        lv = levels[mask]
        iy = (keys >> 28) & ((1 << 27) - 1)
        ix = keys & ((1 << 28) - 1)
        pkeys = ((lv - 1) << _LEVEL_SHIFT) + (iy // 2 << 28) + ix // 2
        # no surviving cell's parent also survives (parents were replaced)
        assert not set(pkeys.tolist()) & set(out["cell_key"].tolist())

    def test_count_criterion_column(self, spark):
        from libosmtools_spark.cells.criteria import count_criterion

        df = spark.createDataFrame([(1, 10), (2, 300)], "cell_key long, n_points long")
        bad = df.filter(count_criterion(100)(df)).toPandas()
        assert list(bad["cell_key"]) == [2]


if __name__ == "__main__":
    import sys

    sys.exit(pytest.main([__file__, "-x", "-q"]))
