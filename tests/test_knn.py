"""kNN ring-expansion vs brute-force golden (FIXTURES.md §4 golden_knn)."""

import os

import pandas as pd
import pytest


@pytest.fixture(scope="module")
def pages_pts(spark, sf_smoke):
    from libosmtools_spark.joins.spatial import geocode_pages

    pages = spark.read.parquet(os.path.join(sf_smoke, "pages.parquet"))
    return geocode_pages(pages).select("url", "lat", "lon").cache()


@pytest.mark.parametrize(
    "threshold_delta, path",
    [
        (None, "ring"),  # knn_ring called directly
        (None, "brute"),  # knn_join at the default threshold
        # both sides of the gate: BRUTE_THRESHOLD at / one below the count
        (0, "brute"),
        (-1, "ring"),
    ],
    ids=["ring", "brute", "auto-at-threshold", "auto-past-threshold"],
)
def test_knn_matches_golden(spark, sf_smoke, pages_pts, monkeypatch, threshold_delta, path):
    from libosmtools_spark.knn import ring

    taken = []
    for name in ("knn_brute", "knn_ring"):
        impl = getattr(ring, name)
        monkeypatch.setattr(
            ring, name, lambda *a, _n=name, _f=impl, **kw: taken.append(_n) or _f(*a, **kw)
        )
    if threshold_delta is not None:
        monkeypatch.setattr(ring, "BRUTE_THRESHOLD", pages_pts.count() + threshold_delta)
    if threshold_delta is None and path == "ring":
        rows = ring.knn_ring(pages_pts, "url", k=5, level=6)
    else:
        rows = ring.knn_join(pages_pts, "url", k=5, level=6)
    assert taken == [f"knn_{path}"]
    pdf = rows.toPandas().sort_values(["url", "rank"])
    got = pdf.groupby("url")["neighbor_id"].agg(tuple).rename("neighbor_ids").reset_index()
    want = spark.read.parquet(os.path.join(sf_smoke, "golden_knn.parquet")).toPandas()
    want = want.rename(columns={"neighbor_urls": "neighbor_ids"})
    want["neighbor_ids"] = want["neighbor_ids"].map(tuple)
    g = got.sort_values("url").reset_index(drop=True)
    w = want.sort_values("url").reset_index(drop=True)
    pd.testing.assert_frame_equal(g, w)


def test_q_knn_gates_and_fetches_in_one_job(spark):
    """q_knn's dispatch runs no count(): the bounded fetch that gates the
    brute path is its broadcast corpus.  Calling and reading q_knn at
    sf0.001 runs 5 Spark jobs; a count() gate ahead of a separate fetch
    ran 8 (the count's shuffle stage, aggregate and result jobs)."""
    import __spark_entry__ as entry
    from tests.test_entry import SF_DIR

    sc, group = spark.sparkContext, "q-knn-jobs"
    sc.setJobGroup(group, group)
    try:
        rows = entry.q_knn(spark, SF_DIR).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rows
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 5


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
    from pyspark.sql import functions as F

    from libosmtools_spark.geom.columns import wrap_sq_euclid_deg_col
    from libosmtools_spark.knn.ring import knn_join, knn_ring

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
    brute = knn_join(pts, "doc_id", k=3, metric="wrap")
    ring = knn_ring(pts, "doc_id", k=3, metric="wrap")
    b = {(r.doc_id, r.rank): r.neighbor_id for r in brute.collect()}
    r_ = {(r.doc_id, r.rank): r.neighbor_id for r in ring.collect()}
    assert b == r_
    # the across-the-line point is the query's top neighbor under wrap
    assert b[(1, 1)] == 2
    # sanity vs the JVM metric: wrapped distance really is smaller
    d = (
        spark.createDataFrame([(2, -179.9), (3, 178.0)], "id long, lon double")
        .select("id", wrap_sq_euclid_deg_col(F.lit(0.0), F.lit(179.8), F.lit(0.0), F.col("lon")).alias("d"))
        .collect()
    )
    d = {r.id: r.d for r in d}
    assert d[2] == pytest.approx(0.09) and d[3] == pytest.approx(3.24)
    assert d[2] < d[3]
    # the flat metric would have ranked the same-side point first
    flat = knn_join(pts, "doc_id", k=3, metric="flat")
    fb = {(r.doc_id, r.rank): r.neighbor_id for r in flat.collect()}
    assert fb[(1, 1)] == 3
