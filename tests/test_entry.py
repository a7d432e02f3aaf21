"""Driver-contract smoke: entry() runs; a sample of queries matches the
DuckDB oracles at sf0.001 (the full sweep lives in tools/check_oracles.py
and runs at sf0.01 in the driver)."""

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    return con


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def _match(spark, duck, name, sf_dir=SF_DIR):
    spdf = entry.queries()[name](spark, sf_dir).toPandas()
    opdf = duck.sql(entry.oracle_sql()[name]).df()
    cols = sorted(spdf.columns)
    assert cols == sorted(opdf.columns)
    assert len(spdf) == len(opdf)
    s = sorted(map(tuple, spdf[cols].map(_norm).itertuples(index=False)))
    o = sorted(map(tuple, opdf[cols].map(_norm).itertuples(index=False)))
    assert s == o, f"{name}: first diff {next((a, b) for a, b in zip(s, o) if a != b)}"


def test_entry_smoke(spark):
    out = entry.entry(spark)
    assert out.count() > 0
    assert set(out.columns) == {"url", "cell_key", "cell_id", "region_ids"}


@pytest.mark.parametrize(
    "name",
    ["pip_region_rows", "pip_region_sets", "cell_assign", "cells_dict", "knn",
     "vector_to_raster", "token_count", "fingerprint", "events_window", "sessionize",
     "pip_antimeridian", "flagship_antimeridian", "refine_fixpoint",
     "cell_repair", "events_window_stream", "stream_first_event"],
)
# stream_region_counts is absent above: its oracle pins the sf0.01 fixture
# goldens (like flagship_page_cells) — covered by tools/check_oracles.py
# at sf0.01, the driver's tier
def test_oracle_match(spark, duck, name):
    _match(spark, duck, name)


def test_stream_drains_leave_no_sink_view(spark, duck):
    """Every streaming drain returns driver-local rows and drops its
    memory-sink view: three calls of events_window_stream register nothing
    in the session catalog, and the three streaming queries keep their
    oracle outputs (stream_region_counts at sf0.01, the tier its goldens
    pin)."""
    before = {t.name for t in spark.catalog.listTables()}
    for _ in range(3):
        assert entry.queries()["events_window_stream"](spark, SF_DIR).count() > 0
    assert {t.name for t in spark.catalog.listTables()} == before
    _match(spark, duck, "events_window_stream")
    _match(spark, duck, "stream_first_event")
    sf01 = "/root/testdata/sf0.01"
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf01}/{t}.parquet')")
    _match(spark, con, "stream_region_counts", sf01)
    assert {t.name for t in spark.catalog.listTables()} == before


def test_session_caches_registered_and_clearable(spark, monkeypatch):
    """One engine cache: each named store is one SpatialEngine per session,
    whose candidate tables are built once.  The caches are registered with
    the session module and empty out on clear_session_caches (the
    stop_spark hook) — a process cycling many sessions does not accumulate
    dead broadcasts; rebuilding afterwards works."""
    from libosmtools_spark import session as S
    from libosmtools_spark.joins import mapjoin as M

    built = []
    real = M.build_cell_candidates
    monkeypatch.setattr(M, "build_cell_candidates", lambda *a: built.append(1) or real(*a))
    S.clear_session_caches()
    engines = {s: entry._engine(spark, s) for s in entry._STORES}
    assert set(engines) == {"oracle", "antimeridian"}
    assert engines["oracle"] is not engines["antimeridian"]
    for s, eng in engines.items():
        assert entry._engine(spark, s) is eng
        assert entry._engine(spark, s).candidates_bcast is eng.candidates_bcast
    assert len(built) == len(engines)
    entry._doc_cells_dict(spark, SF_DIR)
    assert all(any(c is d for c in S._SESSION_CACHES) for d in (entry._ENGINE_CACHE, entry._CELLS_CACHE))
    assert len(entry._ENGINE_CACHE) == 2 and len(entry._CELLS_CACHE) == 1
    S.clear_session_caches()
    assert not entry._ENGINE_CACHE and not entry._CELLS_CACHE
    rebuilt = entry._engine(spark, "oracle")  # rebuild after eviction works
    assert rebuilt is not engines["oracle"]
    assert rebuilt.cell_index.count() == engines["oracle"].cell_index.count() > 0
    assert len(entry._ENGINE_CACHE) == 1


def test_all_queries_have_unique_names(spark):
    qs = entry.queries()
    assert len(qs) >= 25
    # every oracle key exists in queries
    assert set(entry.oracle_sql()) <= set(qs)


def test_diameter_loop_runs_no_more_jobs_than_diameter(spark, duck):
    """cell_graph_diameter_loop is the diameter's twin on the same driver
    walk: with the shared cells dictionary built, it runs no more Spark
    jobs than cell_graph_diameter (a distributed double sweep over the
    same 6-node graph ran ~140) and matches the same oracle."""
    sc = spark.sparkContext
    entry._doc_cells_dict(spark, SF_DIR)

    def jobs(name):
        group = f"jobs-{name}"
        sc.setJobGroup(group, group)
        try:
            entry.queries()[name](spark, SF_DIR).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs("cell_graph_diameter_loop") <= jobs("cell_graph_diameter")
    _match(spark, duck, "cell_graph_diameter_loop")


def test_diameter_row_reads_without_a_job(spark, duck):
    """The diameter's one-row result is a driver-local LocalRelation:
    reading it runs no Spark job (a parallelized row ran one task per
    core), and the query still matches its oracle."""
    sc = spark.sparkContext
    entry._doc_cells_dict(spark, SF_DIR)
    df = entry.queries()["cell_graph_diameter"](spark, SF_DIR)
    group = "jobs-diameter-read"
    sc.setJobGroup(group, group)
    try:
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(rows) == 1
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    _match(spark, duck, "cell_graph_diameter")


def test_engine_build_runs_one_job(spark, monkeypatch):
    """Building a query store's engine runs one Spark job, the ``toArrow``
    collect of its rings; the covering, the candidate tables and the
    broadcast are built on the driver.  (The store is built from Python
    lists, not read from parquet, so it takes the collect side of
    ``index.grid.rings_table``: the Arrow collect of a ``LocalRelation``
    goes through an RDD, as a parallelized list's does.)"""
    monkeypatch.setattr(entry, "_ENGINE_CACHE", {})
    sc = spark.sparkContext
    group = "jobs-engine-build"
    sc.setJobGroup(group, group)
    try:
        eng = entry._engine(spark, "oracle")
        eng.candidates_bcast
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-x", "-q"]))
