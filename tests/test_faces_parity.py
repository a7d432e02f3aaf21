"""T2 faces-parity harness (SURVEY.md §2 T2).

The reference triangulates the region arrangement and assigns every FACE
the set of regions enclosing it (faces are homogeneous by construction —
constrained edges follow region boundaries); cell ids intern those sets
(/root/reference/src/OsmTriangulationRegionStore.cpp:946-1086).  The repo
replaces faces with grid cells under a documented contract: per-point
region lists and the interned dictionary must be semantically identical.

This harness checks that contract against an actual triangulation:

- fixture: regions built from unions of 1°-lattice squares, so a plain
  Delaunay triangulation of the lattice IS the constrained triangulation
  (no triangle can cross a region boundary — boundaries follow lattice
  edges and every triangle stays inside one square);
- faces: a self-contained Bowyer-Watson Delaunay (no scipy in this
  container) over the lattice;
- face region sets: an independent even-odd ray-cast (test-local, not the
  engine kernel) at face centroids;
- parity: for query points strictly inside faces, the ENGINE's per-point
  region sets equal the containing face's set, and the interned
  dictionaries (lex-ordered set strings, empty → 0) coincide 1:1.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# tiny Bowyer-Watson Delaunay (deterministic; integer-coordinate inputs)
# ---------------------------------------------------------------------------

def _circumcircle_contains(tri_pts: np.ndarray, p: np.ndarray) -> bool:
    """Strict in-circumcircle predicate via the standard 3x3 determinant,
    orientation-normalized.  Inputs here are small integers, so float64
    evaluation is exact."""
    a, b, c = tri_pts
    # ensure counter-clockwise orientation
    if (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0]) < 0:
        b, c = c, b
    m = np.array(
        [
            [a[0] - p[0], a[1] - p[1], (a[0] - p[0]) ** 2 + (a[1] - p[1]) ** 2],
            [b[0] - p[0], b[1] - p[1], (b[0] - p[0]) ** 2 + (b[1] - p[1]) ** 2],
            [c[0] - p[0], c[1] - p[1], (c[0] - p[0]) ** 2 + (c[1] - p[1]) ** 2],
        ],
        dtype=np.float64,
    )
    return float(np.linalg.det(m)) > 1e-9


def delaunay(points: np.ndarray) -> list[tuple[int, int, int]]:
    """Bowyer-Watson over (n, 2) points → triangles as sorted index
    triples.  O(n²) — a test fixture generator, not an operator."""
    n = len(points)
    lo = points.min(axis=0) - 10.0
    hi = points.max(axis=0) + 10.0
    span = float((hi - lo).max()) * 4
    mid = (lo + hi) / 2.0
    super_pts = np.array(
        [
            [mid[0] - 2 * span, mid[1] - span],
            [mid[0] + 2 * span, mid[1] - span],
            [mid[0], mid[1] + 2 * span],
        ]
    )
    pts = np.vstack([points, super_pts])
    s0, s1, s2 = n, n + 1, n + 2
    tris: list[tuple[int, int, int]] = [(s0, s1, s2)]
    for i in range(n):
        p = pts[i]
        bad = [t for t in tris if _circumcircle_contains(pts[list(t)], p)]
        # boundary = edges belonging to exactly one bad triangle
        edge_count: dict[tuple[int, int], int] = {}
        for t in bad:
            for e in ((t[0], t[1]), (t[1], t[2]), (t[0], t[2])):
                e = tuple(sorted(e))
                edge_count[e] = edge_count.get(e, 0) + 1
        tris = [t for t in tris if t not in bad]
        for e, cnt in sorted(edge_count.items()):
            if cnt == 1:
                tris.append(tuple(sorted((e[0], e[1], i))))
    return sorted(t for t in tris if max(t) < n)


# ---------------------------------------------------------------------------
# independent even-odd PIP (test-local; NOT the engine kernel)
# ---------------------------------------------------------------------------

def _inside(py: float, px: float, ring: list[tuple[float, float]]) -> bool:
    hit = False
    for (y1, x1), (y2, x2) in zip(ring[:-1], ring[1:]):
        if (y1 > py) != (y2 > py):
            xcross = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
            if xcross > px:
                hit = not hit
    return hit


def _rect_ring(y0, x0, y1, x1):
    return [(y0, x0), (y0, x1), (y1, x1), (y1, x0), (y0, x0)]


#: regions as unions of whole lattice squares (boundaries on lattice edges)
REGIONS = {
    0: _rect_ring(11.0, 11.0, 13.0, 13.0),  # 2x2 block
    1: _rect_ring(10.0, 12.0, 12.0, 14.0),  # overlaps region 0 in [11,12]x[12,13]
}


def _region_set(py: float, px: float) -> tuple[int, ...]:
    return tuple(sorted(r for r, ring in REGIONS.items() if _inside(py, px, ring)))


def _intern(sets: list[tuple[int, ...]]) -> dict[tuple[int, ...], int]:
    """The shared dictionary rule: dense rank over the lexicographic order
    of the comma-joined sorted region list; empty pinned to 0."""
    distinct = sorted({",".join(map(str, s)) for s in sets if s})
    out = {(): 0}
    for i, key in enumerate(distinct, start=1):
        out[tuple(int(x) for x in key.split(","))] = i
    return out


@pytest.fixture(scope="module")
def faces_and_queries():
    lat = np.arange(10, 15, dtype=np.float64)
    lon = np.arange(10, 15, dtype=np.float64)
    grid = np.array([(y, x) for y in lat for x in lon])
    tris = delaunay(grid)
    assert len(tris) == 32  # 16 unit squares x 2 triangles each
    faces = []
    queries = []  # (qid, lat, lon, face_idx)
    qid = 0
    for fi, t in enumerate(tris):
        v = grid[list(t)]
        centroid = v.mean(axis=0)
        fset = _region_set(*centroid)
        # homogeneity: a second strictly-interior sample agrees
        interior = 0.5 * v[0] + 0.25 * v[1] + 0.25 * v[2]
        assert _region_set(*interior) == fset, "fixture violates homogeneity"
        faces.append({"face": t, "centroid": centroid, "set": fset})
        for p in (centroid, interior):
            queries.append((qid, float(p[0]), float(p[1]), fi))
            qid += 1
    return faces, queries


class TestFacesParity:
    def test_face_dictionary_has_overlap_and_empty(self, faces_and_queries):
        faces, _ = faces_and_queries
        sets = {f["set"] for f in faces}
        # the fixture exercises empty, single-region, and overlap faces
        assert () in sets and (0,) in sets and (1,) in sets and (0, 1) in sets

    def test_grid_point_sets_match_faces(self, spark, faces_and_queries):
        """Engine per-point region sets == containing face's set, for every
        query point strictly inside a face."""
        from libosmtools_spark.joins.spatial import spatial_join_adaptive, with_cell_key
        from libosmtools_spark.pipeline import SpatialEngine

        faces, queries = faces_and_queries
        rings_rows = [
            (rid, 0, "outer", [{"lat": float(y), "lon": float(x)} for y, x in ring])
            for rid, ring in REGIONS.items()
        ]
        rings_df = spark.createDataFrame(
            rings_rows,
            "region_id int, ring_id int, ring_role string, "
            "points array<struct<lat:double,lon:double>>",
        )
        eng = SpatialEngine(spark, rings_df, 6, 10)
        pts = with_cell_key(
            spark.createDataFrame(
                [(q, la, lo) for q, la, lo, _ in queries], "qid long, lat double, lon double"
            ),
            level=6,
        )
        hits = spatial_join_adaptive(pts, eng.cell_index, eng.rings_bcast, 6, 10)
        got = {
            r["qid"]: tuple(sorted(r["rs"]))
            for r in hits.groupBy("qid")
            .agg(F.collect_set("region_id").alias("rs"))
            .collect()
        }
        for q, _la, _lo, fi in queries:
            assert got.get(q, ()) == faces[fi]["set"], f"query {q} vs face {fi}"

    def test_interned_dictionaries_coincide(self, faces_and_queries):
        """The face-derived dictionary and the engine's intern_region_sets
        produce the same set→id mapping (the T4 rule both sides pin)."""
        from libosmtools_spark.cells.assign import intern_region_sets

        faces, _ = faces_and_queries
        sets = [f["set"] for f in faces]
        face_dict = _intern(sets)
        engine_dict = dict(zip(sets, intern_region_sets(sets).tolist()))
        assert engine_dict == face_dict
        # empty face set pinned to cell 0 on both sides
        assert face_dict[()] == 0


if __name__ == "__main__":
    import sys

    sys.exit(pytest.main([__file__, "-x", "-q"]))
