"""kNN ring-expansion vs brute-force golden (FIXTURES.md §4 golden_knn)."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from libosmtools_spark.knn.ring import BRUTE_THRESHOLD


@pytest.fixture(scope="module")
def pages_pts(spark, sf_smoke):
    from libosmtools_spark.joins.spatial import geocode_pages

    pages = spark.read.parquet(os.path.join(sf_smoke, "pages.parquet"))
    return geocode_pages(pages).select("url", "lat", "lon").cache()


@pytest.mark.parametrize(
    "method, n_rows, path",
    [
        ("ring", None, "ring"),
        ("brute", None, "brute"),
        # both sides of the count gate; n_rows skips the dispatch count job
        ("auto", BRUTE_THRESHOLD, "brute"),
        ("auto", BRUTE_THRESHOLD + 1, "ring"),
    ],
    ids=["ring", "brute", "auto-at-threshold", "auto-past-threshold"],
)
def test_knn_matches_golden(spark, sf_smoke, pages_pts, monkeypatch, method, n_rows, path):
    from libosmtools_spark.knn import ring
    from libosmtools_spark.knn.ring import knn_join, knn_neighbor_lists

    taken = []
    for name in ("knn_brute", "knn_ring"):
        impl = getattr(ring, name)
        monkeypatch.setattr(
            ring, name, lambda *a, _n=name, _f=impl, **kw: taken.append(_n) or _f(*a, **kw)
        )
    rows = knn_join(pages_pts, "url", k=5, level=6, method=method, n_rows=n_rows)
    assert taken == [f"knn_{path}"]
    got = knn_neighbor_lists(rows, "url").toPandas()
    want = spark.read.parquet(os.path.join(sf_smoke, "golden_knn.parquet")).toPandas()
    got["neighbor_ids"] = got["neighbor_ids"].map(tuple)
    want = want.rename(columns={"neighbor_urls": "neighbor_ids"})
    want["neighbor_ids"] = want["neighbor_ids"].map(tuple)
    g = got.sort_values("url").reset_index(drop=True)
    w = want.sort_values("url").reset_index(drop=True)
    pd.testing.assert_frame_equal(g, w)


def test_knn_row_shape(spark, pages_pts):
    from libosmtools_spark.knn.ring import knn_join

    rows = knn_join(pages_pts.limit(200), "url", k=3, level=6)
    pdf = rows.toPandas()
    # every query id has exactly k=3 ranked rows, ranks 1..3
    counts = pdf.groupby("url")["rank"].agg(["count", "min", "max"])
    assert (counts["count"] == 3).all()
    assert (counts["min"] == 1).all()
    assert (counts["max"] == 3).all()
    # no self matches
    assert (pdf["url"] != pdf["neighbor_id"]).all()


if __name__ == "__main__":
    import sys

    sys.exit(pytest.main([__file__, "-x", "-q"]))


def test_knn_wrap_metric_crosses_antimeridian(spark):
    """Under metric='wrap', a neighbor just across ±180° outranks a flat-
    space-nearer one; ring and brute paths agree exactly."""
    import numpy as np

    from libosmtools_spark.geom.kernels import wrap_sq_euclid_deg
    from libosmtools_spark.knn.ring import knn_join

    rows = [
        (1, 0.0, 179.8),    # query: east of the line
        (2, 0.0, -179.9),   # 0.3° away ACROSS the line
        (3, 0.0, 178.0),    # 1.8° away, same side
        (4, 0.0, 170.0),
        (5, 10.0, 179.8),
        (6, -10.0, -179.8),
        (7, 0.0, 0.0),
    ]
    pts = spark.createDataFrame(rows, "doc_id long, lat double, lon double")
    brute = knn_join(pts, "doc_id", k=3, metric="wrap", method="brute")
    ring = knn_join(pts, "doc_id", k=3, metric="wrap", method="ring")
    b = {(r.doc_id, r.rank): r.neighbor_id for r in brute.collect()}
    r_ = {(r.doc_id, r.rank): r.neighbor_id for r in ring.collect()}
    assert b == r_
    # the across-the-line point is the query's top neighbor under wrap
    assert b[(1, 1)] == 2
    # sanity vs the numpy kernel: wrapped distance really is smaller
    assert wrap_sq_euclid_deg(0.0, 179.8, 0.0, -179.9) < wrap_sq_euclid_deg(0.0, 179.8, 0.0, 178.0)
    # the flat metric would have ranked the same-side point first
    flat = knn_join(pts, "doc_id", k=3, metric="flat", method="brute")
    fb = {(r.doc_id, r.rank): r.neighbor_id for r in flat.collect()}
    assert fb[(1, 1)] == 3
