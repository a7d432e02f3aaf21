"""Tiles materialization (T9-T12, raster↔vector) and refinement (T5/T6)."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def engine(spark, sf_smoke):
    from libosmtools_spark.pipeline import SpatialEngine

    return SpatialEngine.from_fixtures(spark, sf_smoke)


@pytest.fixture(scope="module")
def pages(spark, sf_smoke):
    return spark.read.parquet(os.path.join(sf_smoke, "pages.parquet")).cache()


@pytest.fixture(scope="module")
def cells(engine, pages):
    return engine.kernel_cells(engine.flagship_kernel(pages)).cache()


@pytest.fixture(scope="module")
def points(engine, pages):
    """pages + (lat, lon, cell_key) by the JVM geocoder."""
    from libosmtools_spark.joins.spatial import geocode_pages, with_cell_key

    return with_cell_key(geocode_pages(pages), level=engine.level)


class TestRasterVector:
    def test_raster_to_vector_rects(self, cells, spark):
        from libosmtools_spark.tiles.materialize import raster_to_vector

        out = raster_to_vector(cells).toPandas()
        assert len(out) == cells.count()
        r = out.iloc[0]
        assert len(r["ring"]) == 5
        assert r["ring"][0] == r["ring"][-1]
        assert r["min_lat"] < r["max_lat"] and r["min_lon"] < r["max_lon"]
        # cell size at level 6 is 2.8125 deg
        assert abs((r["max_lat"] - r["min_lat"]) - 2.8125) < 1e-9

    def test_vector_to_raster_roundtrip_contains_points(self, spark, sf_smoke, engine, pages):
        from libosmtools_spark.tiles.materialize import vector_to_raster

        rings = spark.read.parquet(os.path.join(sf_smoke, "region_rings.parquet"))
        cov = vector_to_raster(rings, 6).toPandas()
        # urban region (9) fully covered: all pages with region 9 land in its cells
        keys = set(
            engine.flagship_kernel(pages)
            .filter(F.array_contains("region_ids", 9))
            .select("cell_key")
            .toPandas()["cell_key"]
        )
        cov9 = set(cov.loc[cov.region_id == 9, "cell_key"])
        assert keys <= cov9

    def test_footprint(self, spark, sf_smoke):
        from libosmtools_spark.tiles.materialize import region_raster_footprint, vector_to_raster

        rings = spark.read.parquet(os.path.join(sf_smoke, "region_rings.parquet"))
        idx = vector_to_raster(rings, 6)
        fp = region_raster_footprint(idx).toPandas().set_index("region_id")
        assert (fp["n_cells"] >= 1).all()
        assert (fp["n_full"] <= fp["n_cells"]).all()
        # footprint bbox contains the region bbox
        regs = spark.read.parquet(os.path.join(sf_smoke, "regions.parquet")).toPandas().set_index("region_id")
        for rid in regs.index:
            assert fp.loc[rid, "min_lat"] <= regs.loc[rid, "min_lat"] + 1e-9
            assert fp.loc[rid, "max_lat"] >= regs.loc[rid, "max_lat"] - 1e-9


class TestCellGraph:
    def test_dual_graph_edges(self, cells):
        from libosmtools_spark.tiles.materialize import cell_dual_graph

        edges = cell_dual_graph(cells).toPandas()
        assert (edges["cell_id_a"] < edges["cell_id_b"]).all()
        assert not edges.duplicated(["cell_id_a", "cell_id_b"]).any()

    def test_inverted_index(self, cells):
        from libosmtools_spark.tiles.materialize import region_cells_inverted

        inv = region_cells_inverted(cells).toPandas()
        pdf = cells.toPandas()
        expect = sum(len(r) for r in pdf["region_ids"])
        assert len(inv) == expect

    def test_sizes_com_stats(self, points, pages, cells):
        from libosmtools_spark.cells.assign import assign_point_cell_ids
        from libosmtools_spark.tiles.materialize import cell_center_of_mass, cell_stats

        pts = points.select("url", "lat", "lon", "cell_key")
        pc = assign_point_cell_ids(pts, cells).cache()
        com = cell_center_of_mass(pc.select("cell_id", "lat", "lon")).toPandas()
        assert com["n_points"].sum() == pages.count()
        assert com["com_lat"].between(-90, 90).all()
        stats = cell_stats(pc.select("url", "cell_id")).toPandas().iloc[0]
        assert stats["min_points"] >= 1
        assert stats["min_points"] <= stats["median_points"] <= stats["max_points"]


class TestRefine:
    def test_connected_components_splits_multi3(self, spark, engine, pages, cells):
        """Region 5 has 3 disjoint outer rectangles → its cell id must split
        into ≥3 refined components (the makeConnected contract)."""
        from libosmtools_spark.cells.refine import connected_components

        cc = connected_components(cells.select("cell_key", "cell_id")).toPandas()
        merged = cells.toPandas().merge(cc, on=["cell_key", "cell_id"])
        multi3 = merged[merged["region_ids"].map(lambda a: list(a) == [5])]
        if len(multi3) >= 3:
            assert multi3["refined_cell_id"].nunique() >= 3
        # invariants: refined ids dense, cell 0 stays 0
        z = merged[merged.cell_id == 0]
        assert (z["refined_cell_id"] == 0).all()
        # each refined id maps to exactly one unrefined id
        assert (merged.groupby("refined_cell_id")["cell_id"].nunique() == 1).all()

    def test_handle_cell_changes_repair(self, engine, points, cells):
        """T20 repair — handleCellChanges
        (/root/reference/src/OsmTriangulationRegionStore.cpp:927-943):
        unchanged geometry keeps the dictionary; moved points (unknown
        cells) trigger the clear-and-rebuild path."""
        from libosmtools_spark.cells.assign import build_cells_table_map, handle_cell_changes
        from pyspark.sql import functions as F

        pts = points.select("url", "cell_key")
        kept, rebuilt = handle_cell_changes(
            pts, cells, rebuild=lambda: (_ for _ in ()).throw(AssertionError("no rebuild"))
        )
        assert not rebuilt

        moved = pts.withColumn("cell_key", F.col("cell_key") + 10_000)  # unknown cells
        new_cells, rebuilt2 = handle_cell_changes(
            moved,
            cells,
            rebuild=lambda: build_cells_table_map(
                moved.select("cell_key"), engine.candidates_bcast, engine.rings_bcast
            ),
        )
        assert rebuilt2
        missing = moved.select("cell_key").distinct().join(
            new_cells, "cell_key", "left_anti"
        )
        assert missing.count() == 0

    def test_refine_oversized_bounds_counts(self, points, pages):
        from libosmtools_spark.cells.refine import refine_oversized
        from libosmtools_spark.geom.kernels import _LEVEL_SHIFT

        pts = points.select("url", "lat", "lon", "cell_key")
        refined = refine_oversized(pts, max_points=100, max_level=20)
        counts = refined.groupBy("cell_key").count().toPandas()
        assert counts["count"].max() <= 100
        # rows preserved
        assert counts["count"].sum() == pages.count()
        levels = (counts["cell_key"].to_numpy() >> _LEVEL_SHIFT)
        assert levels.max() > 6  # hotspots actually got subdivided


if __name__ == "__main__":
    import sys

    sys.exit(pytest.main([__file__, "-x", "-q"]))


class TestCellDiameter:
    def test_diameter_exact(self, spark):
        from libosmtools_spark.tiles.materialize import cell_diameter
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            [(1, 0.0, 0.0), (1, 3.0, 4.0), (1, 1.0, 1.0), (2, 5.0, 5.0), (None, 0.0, 0.0)],
            "cell_key long, lat double, lon double",
        )
        out = {r.cell_key: (r.n, r.diam2) for r in cell_diameter(df).collect()}
        assert out[1] == (3, 25.0)
        assert out[2] == (1, 0.0)
        assert None not in out  # null cells excluded

    def test_refine_bounds_quadratic_work(self, points):
        """The T6 contract the bench measures: after refine_oversized no
        cell exceeds the bound and the per-cell quadratic work Σn² drops."""
        from pyspark.sql import functions as F

        from libosmtools_spark.cells.refine import refine_oversized

        pts = points.select("lat", "lon", "cell_key")
        refined = refine_oversized(pts, max_points=50)

        def stats(df):
            r = (
                df.filter(F.col("cell_key").isNotNull())
                .groupBy("cell_key").agg(F.count("*").alias("n"))
                .agg(F.max("n").alias("mx"),
                     F.sum(F.col("n").cast("double") * F.col("n")).alias("w"))
                .collect()[0]
            )
            return int(r["mx"]), float(r["w"])

        mx0, w0 = stats(pts)
        mx1, w1 = stats(refined)
        assert mx0 > 50  # the fixture hotspot really is oversized
        assert mx1 <= 50 or w1 < w0  # bounded (or clipped at max_level) and less work
        assert w1 < w0
        assert refined.count() == pts.count()  # no row lost or duplicated


class TestRefineHotSetFallback:
    def _pts(self, spark, n, level=6):
        from libosmtools_spark.geom.columns import cell_key_col
        from pyspark.sql import functions as F

        base = spark.range(n).select(
            F.col("id"),
            ((F.col("id") * 9973 % 1700000) / 10000.0 - 85.0).alias("lat"),
            ((F.col("id") * 7919 % 3600000) / 10000.0 - 180.0).alias("lon"),
        )
        return base.withColumn("cell_key", cell_key_col(F.col("lat"), F.col("lon"), level))

    def test_mixed_level_input_rejected(self, spark):
        from pyspark.sql import functions as F

        from libosmtools_spark.cells.refine import refine_oversized
        from libosmtools_spark.geom.columns import cell_key_col

        pts = self._pts(spark, 100, level=6)
        mixed = pts.withColumn(
            "cell_key",
            F.when(F.col("id") % 2 == 0, F.col("cell_key")).otherwise(
                cell_key_col(F.col("lat"), F.col("lon"), 8)
            ),
        )
        with pytest.raises(ValueError, match="uniform starting key level"):
            refine_oversized(mixed, max_points=10)

    def test_join_path_equals_literal_path(self, spark, monkeypatch, spy):
        from pyspark.sql import functions as F

        from libosmtools_spark.cells import refine as R
        from libosmtools_spark.geom.columns import cell_key_col

        # clustered points (a ~2° patch) so cells really exceed the bound
        pts = (
            spark.range(5000)
            .select(
                F.col("id"),
                ((F.col("id") * 9973 % 1700) / 1000.0).alias("lat"),
                ((F.col("id") * 7919 % 3600) / 1000.0).alias("lon"),
            )
            .withColumn("cell_key", cell_key_col(F.col("lat"), F.col("lon"), 6))
            .cache()
        )
        pts.count()
        joins = spy(R, "_resolve_with_join")  # args[1]: the hot side, None if distributed
        monkeypatch.setattr(R, "DEFAULT_MAX_HOT_CELLS", 10**9)
        lit = R.refine_oversized(pts, max_points=20)
        assert joins == []
        # middle band: hot set fits the driver but exceeds the literal cap
        # → collected hot rows ship as a broadcast anti-join side
        monkeypatch.setattr(R, "LITERAL_MAX_HOT_CELLS", 0)
        mid = R.refine_oversized(pts, max_points=20)
        assert len(joins) == 1 and joins[0][1] is not None
        monkeypatch.setattr(R, "DEFAULT_MAX_HOT_CELLS", 0)
        jn = R.refine_oversized(pts, max_points=20)
        assert len(joins) == 2 and joins[1][1] is None
        a = {r["id"]: r["cell_key"] for r in lit.select("id", "cell_key").collect()}
        b = {r["id"]: r["cell_key"] for r in jn.select("id", "cell_key").collect()}
        c = {r["id"]: r["cell_key"] for r in mid.select("id", "cell_key").collect()}
        pts.unpersist()
        assert a == b
        assert a == c
        # the split actually happened (some keys moved past level 6)
        assert any((k >> 55) > 6 for k in a.values())

    def test_many_hot_cells_no_plan_explosion(self, spark, monkeypatch):
        """>10^5 hot cells: the distributed path must neither collect the
        hot set nor embed plan literals — and still bound every cell."""
        from pyspark.sql import functions as F

        from libosmtools_spark.cells import refine as R

        pts = self._pts(spark, 150_000, level=10)
        # max_points=0: every occupied cell is hot at the probed level →
        # hot rows ≈ distinct cells (> 10^5 at level 10 for 150k points)
        monkeypatch.setattr(R, "DEFAULT_MAX_HOT_CELLS", 10_000)
        refined = R.refine_oversized(pts, max_points=0, max_rounds=1)
        row = (
            refined.groupBy("cell_key").agg(F.count("*").alias("n"))
            .agg(F.count("*").alias("cells"), F.sum("n").alias("rows"))
            .collect()[0]
        )
        assert row["rows"] == 150_000  # all rows preserved
        levels = refined.select(
            F.shiftright("cell_key", 55).alias("lv")
        ).distinct().collect()
        assert {r["lv"] for r in levels} == {11}  # everyone split one level


class TestHopDistances:
    def _edges(self, spark, pairs):
        return spark.createDataFrame(pairs, "cell_id_a long, cell_id_b long")

    def _reference_bfs(self, pairs, src):
        """Independent dict-based BFS (different formulation)."""
        from collections import deque

        adj = {}
        for a, b in pairs:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        dist = {src: 0}
        q = deque([src])
        while q:
            u = q.popleft()
            for v in adj.get(u, ()):
                if v not in dist:
                    dist[v] = dist[u] + 1
                    q.append(v)
        return dist

    def test_local_and_loop_agree_with_reference(self, spark):
        """The driver CSR BFS equals an independent dict-and-deque BFS."""
        from libosmtools_spark.tiles import materialize as M

        rng = np.random.default_rng(13)
        # a random sparse graph + a disjoint component that must be absent
        pairs = sorted(
            {tuple(sorted(p)) for p in rng.integers(1, 40, size=(80, 2)) if p[0] != p[1]}
        )
        pairs += [(100, 101), (101, 102)]  # unreachable component
        pairs = [(int(a), int(b)) for a, b in pairs]
        want = self._reference_bfs(pairs, 1)
        edges = self._edges(spark, pairs)
        got = {r["cell_id"]: r["hop"] for r in M.cell_hop_distances(edges, 1).collect()}
        assert got == want
        assert 100 not in want  # disjoint component really excluded

    def test_isolated_source(self, spark):
        from libosmtools_spark.tiles import materialize as M

        edges = self._edges(spark, [(5, 6)])
        got = M.cell_hop_distances(edges, 99).collect()
        assert [(r["cell_id"], r["hop"]) for r in got] == [(99, 0)]


class TestCellGraphDiameter:
    def test_path_graph_exact(self, spark):
        """A 10-node path has diameter 9 (known closed form)."""
        from libosmtools_spark.tiles.materialize import cell_graph_diameter

        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(1, 10)], "cell_id_a long, cell_id_b long"
        )
        row = cell_graph_diameter(edges).collect()[0]
        assert (row["n_nodes"], row["n_edges"], row["diameter"]) == (10, 9, 9)

    def test_disconnected_takes_max_component(self, spark):
        from libosmtools_spark.tiles.materialize import cell_graph_diameter

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11)], "cell_id_a long, cell_id_b long"
        )
        row = cell_graph_diameter(edges).collect()[0]
        assert row["diameter"] == 3  # the 4-node path wins

    def test_approx_switch_lower_bounds(self, spark, monkeypatch, spy):
        """Above the cutoff the double-sweep runs; on a path graph the
        double-sweep is exact, so forcing cutoff=2 must still find 9."""
        from libosmtools_spark.cells import hopsplit as H
        from libosmtools_spark.tiles.materialize import cell_graph_diameter

        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(1, 10)], "cell_id_a long, cell_id_b long"
        )
        monkeypatch.setattr(H, "EXACT_DIAMETER_PRACTICAL", 2)
        ran = spy(H, "csr_bfs")
        row = cell_graph_diameter(edges).collect()[0]
        assert len(ran) == 2 * H.APPROX_DIAMETER_RUNS  # sweeps, not 10 BFS
        assert row["diameter"] == 9

    def test_empty(self, spark):
        from libosmtools_spark.tiles.materialize import cell_graph_diameter

        edges = spark.createDataFrame([], "cell_id_a long, cell_id_b long")
        row = cell_graph_diameter(edges).collect()[0]
        assert (row["n_nodes"], row["n_edges"], row["diameter"]) == (0, 0, 0)

class TestDiameterEndpoints:
    """calcDiameter(startNode, endNode) parity — the reference reports the
    argmax ENDPOINTS (include/osmtools/OsmTriangulationRegionStore.h:83);
    the repo pins a deterministic tie rule (lexicographically smallest
    sorted pair among all max-eccentricity pairs)."""

    def test_exact_path_and_tie_rule(self, spark):
        from libosmtools_spark.tiles.materialize import cell_graph_diameter_endpoints

        # path 1-2-3-4 plus a pendant 5 off node 2: eccentricity-3 pairs are
        # (1,4) and (4,5); the tie rule picks (1,4)
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (2, 5)], "cell_id_a long, cell_id_b long"
        )
        row = cell_graph_diameter_endpoints(edges).collect()[0]
        assert (row["n_nodes"], row["n_edges"], row["diameter"]) == (5, 4, 3)
        assert (row["endpoint_a"], row["endpoint_b"]) == (1, 4)

    def test_endpoints_match_diameter_query(self, spark):
        """Endpoint variant agrees with cell_graph_diameter's hop count on a
        two-component graph; endpoints land in the larger component."""
        from libosmtools_spark.tiles.materialize import (
            cell_graph_diameter,
            cell_graph_diameter_endpoints,
        )

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11)], "cell_id_a long, cell_id_b long"
        )
        d = cell_graph_diameter(edges).collect()[0]["diameter"]
        row = cell_graph_diameter_endpoints(edges).collect()[0]
        assert row["diameter"] == d == 3
        assert (row["endpoint_a"], row["endpoint_b"]) == (1, 4)

    def test_endpoints_match_brute_all_pairs(self, spark):
        """On random graphs (sparse ids, many disconnected) the local path's
        endpoints equal a brute all-pairs search with the pinned tie rule:
        the smallest sorted pair among every max-eccentricity pair."""
        from collections import deque

        from libosmtools_spark.tiles.materialize import cell_graph_diameter_endpoints

        def brute(pairs):
            adj = {}
            for a, b in pairs:
                adj.setdefault(a, set()).add(b)
                adj.setdefault(b, set()).add(a)
            best = (0, min(adj), min(adj))
            for s in sorted(adj):
                dist, q = {s: 0}, deque([s])
                while q:
                    u = q.popleft()
                    for v in adj[u]:
                        if v not in dist:
                            dist[v] = dist[u] + 1
                            q.append(v)
                for t, d in dist.items():
                    u, v = sorted((s, t))
                    if d > best[0] or (d == best[0] and (u, v) < best[1:]):
                        best = (d, u, v)
            return (len(adj), len(pairs), *best)

        rng = np.random.default_rng(11)
        for _ in range(25):
            n = int(rng.integers(2, 14))
            ids = np.sort(rng.choice(1000, size=n, replace=False))
            raw = rng.integers(0, n, size=(int(rng.integers(1, 2 * n)), 2))
            pairs = sorted(
                {(int(ids[min(a, b)]), int(ids[max(a, b)])) for a, b in raw if a != b}
            )
            if not pairs:
                continue
            edges = spark.createDataFrame(pairs, "cell_id_a long, cell_id_b long")
            got = tuple(cell_graph_diameter_endpoints(edges).collect()[0])
            assert got == brute(pairs), pairs

    def test_endpoints_past_exact_cutoff_take_the_sweep(self, spark, monkeypatch, spy):
        """Above EXACT_DIAMETER_PRACTICAL nodes the endpoints come from the
        same seeded double sweep as the diameter, not all-pairs BFS."""
        from libosmtools_spark.cells import hopsplit as H
        from libosmtools_spark.tiles.materialize import (
            cell_graph_diameter,
            cell_graph_diameter_endpoints,
        )

        # a path 1..10 plus a pendant 20 off node 5
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(1, 10)] + [(5, 20)],
            "cell_id_a long, cell_id_b long",
        )
        monkeypatch.setattr(H, "EXACT_DIAMETER_PRACTICAL", 5)
        ran = spy(H, "csr_bfs")
        row = cell_graph_diameter_endpoints(edges).collect()[0]
        assert len(ran) == 2 * H.APPROX_DIAMETER_RUNS  # sweeps, not 11 BFS
        assert tuple(row) == (11, 10, 9, 1, 10)
        assert cell_graph_diameter(edges).collect()[0]["diameter"] == 9


def _path_cells(spark, n):
    """n horizontally adjacent level-6 cells of one cell id: one component."""
    from libosmtools_spark.geom.kernels import cell_key

    keys = cell_key(np.zeros(n), -180.0 + 2.8125 * np.arange(n) + 0.1, 6)
    return spark.createDataFrame([(int(k), 1) for k in keys], "cell_key long, cell_id int")


def _path_edges(spark, n):
    """a path of n edges over cell ids 1..n+1."""
    return spark.createDataFrame(
        [(i, i + 1) for i in range(1, n + 1)], "cell_id_a long, cell_id_b long"
    )


#: operator → (module, bound constant, input builder, call, answer check)
_GATHERS = {
    "connected_components": (
        "cells.refine", "LOCAL_CC_MAX_ROWS", _path_cells,
        lambda mod, df: mod.connected_components(df),
        lambda rows: sorted({r["refined_cell_id"] for r in rows}) == [1] and len(rows) == 5,
    ),
    "cell_hop_distances": (
        "tiles.materialize", "LOCAL_BFS_MAX_EDGES", _path_edges,
        lambda mod, df: mod.cell_hop_distances(df, 1),
        lambda rows: {r["cell_id"]: r["hop"] for r in rows} == {i: i - 1 for i in range(1, 7)},
    ),
    "cell_graph_diameter_endpoints": (
        "tiles.materialize", "LOCAL_BFS_MAX_EDGES", _path_edges,
        lambda mod, df: mod.cell_graph_diameter_endpoints(df),
        lambda rows: [tuple(r) for r in rows] == [(6, 5, 5, 1, 6)],
    ),
}


@pytest.mark.parametrize("op", sorted(_GATHERS))
def test_driver_gather_bound_both_sides(spark, monkeypatch, op):
    """Each cell-graph operator fetches its input to the driver with one
    limit(N + 1) job: with the bound N at the input's 5 rows the driver
    walk answers; one row past the bound it raises ValueError naming it."""
    import importlib

    module, bound, build, call, check = _GATHERS[op]
    mod = importlib.import_module(f"libosmtools_spark.{module}")
    df = build(spark, 5)
    monkeypatch.setattr(mod, bound, 5)
    assert check(call(mod, df).collect())
    monkeypatch.setattr(mod, bound, 4)
    with pytest.raises(ValueError, match=f"{bound} = 4"):
        call(mod, df)
