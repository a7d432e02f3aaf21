"""End-to-end parity of the flagship spatial join vs the brute-force golden
oracles (SURVEY.md §5 items 2/5; north_star: identical join output rows and
tile-to-cell assignments per url)."""

import os

import numpy as np
import pandas as pd
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
    """The flagship's cells dictionary over the fixture pages."""
    return engine.kernel_cells(engine.flagship_kernel(pages)).cache()


def _sorted_records(pdf, key):
    return pdf.sort_values(key).reset_index(drop=True)


def _flagship_rows(df):
    """url → (cell_key, cell_id, region_ids) as exact Python values (in
    pandas, a NULL key would turn the column float64 and round level-6
    keys)."""
    rows = df.select("url", "cell_key", "cell_id", "region_ids").collect()
    out = {r.url: (r.cell_key, r.cell_id, tuple(r.region_ids)) for r in rows}
    assert len(out) == len(rows), "one row per url"
    return out


def _read_goldens(sf_dir):
    names = ("golden_page_regions", "golden_page_cells")
    return {n: pd.read_parquet(os.path.join(sf_dir, f"{n}.parquet")) for n in names}


def _golden_flagship_rows(golden):
    """golden_page_regions ⋈ golden_page_cells on url, as _flagship_rows
    (``golden`` maps names to frames, as synth.golden_frames returns)."""
    m = golden["golden_page_regions"].merge(
        golden["golden_page_cells"], on="url", validate="one_to_one"
    )
    return {
        u: (int(k), int(c), tuple(int(x) for x in ids))
        for u, k, c, ids in zip(m["url"], m["cell_key"], m["cell_id"], m["region_ids"])
    }


class TestColumnKernelParity:
    def test_cell_key_col_matches_numpy(self, spark):
        import numpy as np

        from libosmtools_spark.geom import kernels as K
        from libosmtools_spark.geom.columns import cell_key_col

        rng = np.random.default_rng(5)
        lat = K.snap(rng.uniform(-90, 90, 2000))
        lon = K.snap(rng.uniform(-180, 180, 2000))
        pdf = pd.DataFrame({"lat": lat, "lon": lon})
        for level in (0, 4, 6, 12):
            got = (
                spark.createDataFrame(pdf)
                .select(cell_key_col(F.col("lat"), F.col("lon"), level).alias("k"))
                .toPandas()["k"]
                .to_numpy()
            )
            want = K.cell_key(lat, lon, level)
            assert (got == want).all(), f"level {level}"

    def test_cell_key_sql_matches_in_duckdb(self, spark):
        import duckdb
        import numpy as np

        from libosmtools_spark.geom import kernels as K
        from libosmtools_spark.geom.columns import cell_key_sql

        rng = np.random.default_rng(6)
        lat = K.snap(rng.uniform(-90, 90, 2000))
        lon = K.snap(rng.uniform(-180, 180, 2000))
        df = pd.DataFrame({"lat": lat, "lon": lon})  # noqa: F841 (used via duckdb scan)
        got = duckdb.sql(
            f"select {cell_key_sql('lat', 'lon', 6)} as k from df"
        ).df()["k"].to_numpy()
        assert (got == K.cell_key(lat, lon, 6)).all()


class TestPageRegionsParity:
    def test_every_page_has_a_row(self, engine, pages):
        assert engine.flagship_kernel(pages).count() == pages.count()

    def test_byte_identical_text(self, pages):
        """input_hint invariant: the JVM geocoder carries text through
        untouched."""
        from libosmtools_spark.joins.spatial import geocode_pages

        out = geocode_pages(pages).select("url", "text")
        diff = out.join(pages.select("url", F.col("text").alias("t0")), "url").filter(
            F.col("text") != F.col("t0")
        )
        assert diff.count() == 0

    def test_flagship_from_html_extraction(self, engine, pages):
        """The north-star's actual input path: geocode pages from text
        EXTRACTED from the html binary.  Extraction must be byte-identical
        to the stored text on every row, and the join output over the
        html-derived frame must equal the join output over the original."""
        from libosmtools_spark.pipeline import pages_from_html

        extracted = pages_from_html(pages)
        bad = (
            extracted.select("url", "text")
            .join(pages.select("url", F.col("text").alias("t0")), "url")
            .filter(F.col("text") != F.col("t0"))
        )
        assert bad.count() == 0
        a = engine.flagship_kernel(extracted).select("url", "region_ids")
        b = engine.flagship_kernel(pages).select("url", "region_ids")
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


class TestRelationalFallbackParity:
    @pytest.mark.parametrize("broadcast_index", [True, False])
    def test_region_sets_match_golden(self, engine, pages, sf_smoke, broadcast_index):
        """The one relational fallback, spatial_join_adaptive, with the cell
        index broadcast and shuffled: every page's region set equals the
        brute-force golden (pages in no region produce no row)."""
        from libosmtools_spark.joins.spatial import geocode_pages, spatial_join_adaptive

        pts = geocode_pages(pages).select("url", "lat", "lon")
        hits = spatial_join_adaptive(
            pts, engine.cell_index, engine.rings_bcast, engine.level, engine.max_level,
            broadcast_index=broadcast_index,
        )
        sets = hits.groupBy("url").agg(F.array_sort(F.collect_set("region_id")).alias("ids"))
        got = {r.url: tuple(r.ids) for r in sets.collect()}
        golden = _golden_flagship_rows(_read_goldens(sf_smoke))
        assert got == {u: ids for u, (_, _, ids) in golden.items() if ids}


class TestCellsParity:
    def test_cells_dictionary_matches_golden(self, cells, sf_smoke, spark):
        got = cells.toPandas()
        want = spark.read.parquet(os.path.join(sf_smoke, "golden_cells.parquet")).toPandas()
        got["region_ids"] = got["region_ids"].map(lambda a: tuple(a))
        want["region_ids"] = want["region_ids"].map(lambda a: tuple(int(x) for x in a))
        pd.testing.assert_frame_equal(
            _sorted_records(got, "cell_key"),
            _sorted_records(want, "cell_key"),
            check_dtype=False,
        )


class TestInvariants:
    """Spark translation of selfTest()
    (/root/reference/src/OsmTriangulationRegionStore.cpp:1227-1281)."""

    def test_cell_id_space_gap_free(self, cells):
        pdf = cells.toPandas()
        nonzero = sorted(pdf.loc[pdf.cell_id > 0, "cell_id"].unique())
        assert nonzero == list(range(1, len(nonzero) + 1))

    def test_empty_set_iff_cell_zero(self, cells):
        pdf = cells.toPandas()
        for _, row in pdf.iterrows():
            assert (len(row["region_ids"]) == 0) == (row["cell_id"] == 0)

    def test_cellid_regionset_bijection(self, cells):
        pdf = cells.toPandas()
        pdf["k"] = pdf["region_ids"].map(lambda a: tuple(a))
        grp = pdf.groupby("cell_id")["k"].nunique()
        assert (grp == 1).all()
        grp2 = pdf.groupby("k")["cell_id"].nunique()
        assert (grp2 == 1).all()

    def test_region_lists_sorted_strictly_ascending(self, cells):
        pdf = cells.toPandas()
        for ids in pdf["region_ids"]:
            assert list(ids) == sorted(set(ids))

    def test_selftest_violations_all_zero(self, cells):
        """The relational T21 suite (run.selftest.selftest_violations, the
        driver's selftest_invariants query) reports zero violations on a
        healthy store."""
        from libosmtools_spark.run.selftest import selftest_violations

        out = selftest_violations(cells).toPandas()
        assert set(out["check_name"]) == {
            "cell_ids_dense", "cell_key_unique", "empty_set_iff_cell0",
            "region_ids_sorted_distinct", "set_id_bijection",
        }
        assert (out["n_violations"] == 0).all()

    def test_selftest_catches_corruption(self, spark):
        """Non-vacuous: each class of corruption flips its check."""
        from libosmtools_spark.run.selftest import selftest_violations

        schema = "cell_key long, cell_id long, region_ids array<int>"
        # gap in ids (3 skipped), duplicate key, cell0 with regions,
        # unsorted list, one set under two ids
        bad = spark.createDataFrame(
            [
                (1, 1, [5]),
                (2, 2, [7, 5]),      # unsorted
                (2, 4, [5]),         # dup key; id 4 shares set [5] with id 1; gap: no 3
                (3, 0, [9]),         # cell 0 with a region set
            ],
            schema,
        )
        got = selftest_violations(bad).toPandas().set_index("check_name")["n_violations"]
        assert got["cell_ids_dense"] == 1
        assert got["cell_key_unique"] == 1
        assert got["empty_set_iff_cell0"] == 1
        assert got["region_ids_sorted_distinct"] == 1
        assert got["set_id_bijection"] >= 1

    def test_selftest_point_consistency(self, spark):
        from libosmtools_spark.run.selftest import selftest_violations

        cells = spark.createDataFrame(
            [(10, 1, [5]), (11, 2, [6])], "cell_key long, cell_id long, region_ids array<int>"
        )
        pts = spark.createDataFrame(
            [(10, 1), (11, 2), (99, 0), (10, 2)], "cell_key long, cell_id long"
        )  # last row disagrees with the dictionary
        out = selftest_violations(cells, pts).toPandas().set_index("check_name")
        assert out.loc["points_match_dict", "n_violations"] == 1


class TestFlagshipMapParity:
    def test_map_join_equals_shuffle_flagship(self, engine, pages):
        """Zero-shuffle flagship_map ≡ the shuffle path (spatial_join_adaptive
        with the cell index shuffled, grouped per url), region set for
        region set; the shuffle path has no row for a page in no region."""
        from libosmtools_spark.joins.spatial import geocode_pages, spatial_join_adaptive

        pts = geocode_pages(pages).select("url", "lat", "lon")
        hits = spatial_join_adaptive(
            pts, engine.cell_index, engine.rings_bcast, engine.level, engine.max_level,
            broadcast_index=False,
        )
        sets = hits.groupBy("url").agg(F.array_sort(F.collect_set("region_id")).alias("ids"))
        want = {r.url: tuple(r.ids) for r in sets.collect()}
        got = {u: ids for u, (_, _, ids) in _flagship_rows(engine.flagship_map(pages)).items()}
        assert len(got) == pages.count()
        assert {u: ids for u, ids in got.items() if ids} == want

    def test_map_join_null_cellkey_shares_batch(self, engine, pages, spark, sf_smoke):
        """Regression: a geocode-less page (NULL cell_key) in the SAME Arrow
        batch as valid pages must not corrupt the batch.  Before the -1
        sentinel fix, one NULL made pandas deliver cell_key as float64;
        level-6 keys exceed float64's 53-bit integer range, so every key in
        the batch rounded and the whole batch lost its region sets."""
        no_geo = spark.createDataFrame(
            [("page://no-geocode", None, None, "no coordinates in this text", None)],
            pages.schema,
        )
        mixed = pages.unionByName(no_geo).coalesce(1)  # ONE partition → one batch
        got = _flagship_rows(engine.flagship_map(mixed))
        assert got.pop("page://no-geocode") == (None, 0, ())
        assert got == _golden_flagship_rows(_read_goldens(sf_smoke))

    def test_map_join_matches_golden(self, engine, pages, sf_smoke):
        """flagship_map ≡ golden_page_regions ⋈ golden_page_cells, row for
        row on all four columns."""
        golden = _golden_flagship_rows(_read_goldens(sf_smoke))
        assert _flagship_rows(engine.flagship_map(pages)) == golden

    def test_one_pages_scan_per_call(self, spark, engine, sf_smoke):
        """All the jobs of one flagship_map call (its dictionary-feed
        collect and the returned frame) scan the pages parquet once."""
        from tools.dump_plans import scans_per_call

        path = os.path.join(sf_smoke, "pages.parquet")
        pages = spark.read.parquet(path)
        assert scans_per_call(spark, lambda: engine.flagship_map(pages), path) == 1

    def test_one_python_pass_per_call(self, spark, engine, sf_smoke):
        """All the jobs of one flagship_map call run one Python pass, the
        kernel: the cells dictionary is built on the driver, not in a
        second mapInArrow."""
        from tools.dump_plans import python_passes_per_call

        pages = spark.read.parquet(os.path.join(sf_smoke, "pages.parquet"))
        assert python_passes_per_call(spark, lambda: engine.flagship_map(pages)) == 1

    def test_one_job_per_call(self, spark, engine, sf_smoke):
        """A flagship_map call runs exactly one Spark job before its frame
        is read: the dictionary-feed collect, which runs the kernel."""
        pages = spark.read.parquet(os.path.join(sf_smoke, "pages.parquet"))
        engine.candidates_bcast  # built on first use, by a job of its own
        sc, group = spark.sparkContext, "flagship-map-call"
        sc.setJobGroup(group, group)
        try:
            engine.flagship_map(pages)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def _dictionary_specs():
    """Region 0 apart; region 1 a background strip holding twelve disjoint
    regions 2..13: occupied cells carry the 14 distinct sets {0}, {1} and
    {1, k}, so the set-string order ("1,10" < "1,2") differs from the
    numeric one."""
    from libosmtools_spark.geom import kernels as K

    R = K.rect_ring
    rects = [R(-40.0, -40.0, -30.0, -30.0), R(0.0, 0.0, 10.0, 100.0)]
    rects += [R(1.0, 8.0 * j + 1.0, 9.0, 8.0 * j + 7.0) for j in range(12)]
    return [
        {"region_id": i, "name": f"r{i}", "rings": [("outer", K.snap(r))], "tags": {}}
        for i, r in enumerate(rects)
    ]


def _dictionary_pages(shift: int = 0) -> pd.DataFrame:
    """(url, text): several pages in every region, pages outside all
    regions, without a geo: token and with a garbled one.  ``shift``
    rotates the texts against the urls."""
    pts = [(-35.0, -35.0), (5.0, 97.5), (50.0, 50.0)]
    pts += [(5.0 + d, 8.0 * j + 4.0 + d) for j in range(12) for d in (-0.5, 0.0, 0.5)]
    texts = [f"page near geo:{a:.6f},{o:.6f} end" for a, o in pts] * 3
    texts += ["no coordinates here", "geo:12.5,x garbled"] * 4
    texts = texts[shift:] + texts[:shift]
    return pd.DataFrame({"url": [f"u{i}" for i in range(len(texts))], "text": texts})


def _brute_flagship(pdf: pd.DataFrame, level: int):
    """Brute-force reference over _dictionary_specs: (flagship rows as
    _flagship_rows, cells dictionary rows).  synth.golden_frames (all-pairs
    PIP of every page and of every occupied cell's K.cell_center) covers the
    geocoded pages; the others get the NULL key and cell 0."""
    from libosmtools_spark.data.synth import extract_geo, golden_frames

    geo = ~np.isnan(extract_geo(pdf["text"])[0])
    golden = golden_frames(pdf[geo].reset_index(drop=True), _dictionary_specs(), level)
    rows = {u: (None, 0, ()) for u in pdf["url"][~geo]}
    rows.update(_golden_flagship_rows(golden))
    gc = golden["golden_cells"]
    cells = {
        (int(k), int(c), tuple(int(x) for x in ids))
        for k, c, ids in zip(gc["cell_key"], gc["cell_id"], gc["region_ids"])
    }
    if not geo.all():
        cells.add((None, 0, ()))
    return rows, cells


class TestFlagshipDictionaryFeed:
    """The flagship builds its cells dictionary from the batch-unique keys
    of its one kernel pass."""

    @pytest.fixture(scope="class")
    def store_engine(self, spark):
        from libosmtools_spark.data.synth import regions_frames
        from libosmtools_spark.pipeline import SpatialEngine

        rings = spark.createDataFrame(
            regions_frames(_dictionary_specs())[1],
            "region_id long, ring_id long, ring_role string, "
            "points array<struct<lat:double,lon:double>>",
        )
        return SpatialEngine(spark, rings)

    def test_dictionary_equals_brute_interning(self, spark, store_engine):
        eng = store_engine
        pdf = _dictionary_pages()
        got = eng.kernel_cells(eng.flagship_kernel(spark.createDataFrame(pdf))).collect()
        g = {(r.cell_key, r.cell_id, tuple(r.region_ids)) for r in got}
        assert len(g) == len(got)
        assert g == _brute_flagship(pdf, eng.level)[1]
        assert (None, 0, ()) in g  # the NULL-key row of geocode-less pages
        assert len({r[2] for r in g if r[2]}) > 10
        # "1,10" ranks before "1,2": string order, not numeric
        ids = {r[2]: r[1] for r in g}
        assert ids[(1, 10)] < ids[(1, 2)]

    def test_gather_is_batch_unique_keys(self, spark, store_engine):
        """With several Arrow batches the dictionary input holds exactly
        Σ over batches of distinct keys (NULL counted once per batch)."""
        from libosmtools_spark.joins.mapjoin import BATCH_UNIQUE
        from libosmtools_spark.joins.spatial import geocode_pages, with_cell_key

        eng = store_engine
        pdf = _dictionary_pages()
        pages = spark.createDataFrame(pdf).coalesce(1)  # one partition, pdf order
        key_of = {
            r.url: r.cell_key
            for r in with_cell_key(geocode_pages(pages), level=eng.level)
            .select("url", "cell_key")
            .collect()
        }
        keys = pd.Series([key_of[u] for u in pdf["url"]], dtype="object")
        batch = 16
        want = sum(
            keys.iloc[i : i + batch].nunique(dropna=False) for i in range(0, len(keys), batch)
        )
        conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
        old = spark.conf.get(conf)
        spark.conf.set(conf, str(batch))
        try:
            got = eng.flagship_kernel(pages).filter(BATCH_UNIQUE).count()
            out = eng.flagship_map(pages).toPandas()
        finally:
            spark.conf.set(conf, old)
        assert len(keys) > 4 * batch
        assert got == want
        assert keys.nunique(dropna=False) < got < len(keys)
        assert len(out) == len(pdf)

    def test_batch_unique_feed_equals_distinct_first(self, spark, store_engine):
        """Both sides of ``input_batch_unique``: the kernel's batch-unique
        keys (several per key, one per Arrow batch) and the distinct-first
        feed over every page's key give the same dictionary."""
        from libosmtools_spark.cells.assign import build_cells_table_map
        from libosmtools_spark.joins.mapjoin import BATCH_UNIQUE

        eng = store_engine
        pages = spark.createDataFrame(_dictionary_pages()).coalesce(1)
        conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
        old = spark.conf.get(conf)
        spark.conf.set(conf, "16")
        try:
            kernel = eng.flagship_kernel(pages).cache()
            flagged = kernel.filter(BATCH_UNIQUE)
            assert flagged.count() > flagged.select("cell_key").distinct().count()
            feeds = [
                build_cells_table_map(
                    flagged, eng.candidates_bcast, eng.rings_bcast, input_batch_unique=True
                ),
                build_cells_table_map(kernel, eng.candidates_bcast, eng.rings_bcast),
            ]
            got = [
                sorted(
                    (r.cell_key is not None, r.cell_key, r.cell_id, tuple(r.region_ids))
                    for r in f.collect()
                )
                for f in feeds
            ]
            kernel.unpersist()
        finally:
            spark.conf.set(conf, old)
        assert got[0] == got[1]
        assert len(got[0]) == len({r[1] for r in got[0]})  # one row per key

    def test_kernel_cells_is_driver_local(self, spark, store_engine):
        """``kernel_cells`` returns a LocalRelation: reading or broadcasting
        the dictionary starts no Python worker."""
        eng = store_engine
        cells = eng.kernel_cells(eng.flagship_kernel(spark.createDataFrame(_dictionary_pages())))
        analyzed = cells._jdf.queryExecution().analyzed().toString()
        assert analyzed.startswith("LocalRelation")
        assert "Python" not in analyzed and "MapInArrow" not in analyzed

    def test_no_reuse_across_calls(self, spark, store_engine):
        """Two calls over different page frames with the same urls: each
        result matches its own frame's brute-force reference, also when
        both are materialized after both calls."""
        eng = store_engine
        pdf_a, pdf_b = _dictionary_pages(), _dictionary_pages(shift=7)
        got_a = eng.flagship_map(spark.createDataFrame(pdf_a))
        got_b = eng.flagship_map(spark.createDataFrame(pdf_b))
        ra, rb = _flagship_rows(got_a), _flagship_rows(got_b)
        assert ra == _brute_flagship(pdf_a, eng.level)[0]
        assert rb == _brute_flagship(pdf_b, eng.level)[0]
        assert ra != rb


class TestLocalIndexGate:
    """Both sides of ``grid.LOCAL_INDEX_MAX_REGIONS``: with the gate at 0,
    every store takes the distributed ``applyInPandas`` build."""

    @staticmethod
    def _index_rows(df):
        return sorted((r.cell_key, r.region_id, r.full) for r in df.collect())

    @pytest.mark.parametrize("store", ["fixture", "antimeridian"])
    def test_distributed_build_equals_local(self, spark, sf_smoke, monkeypatch, store):
        import __spark_entry__ as entry
        from libosmtools_spark.index import grid

        if store == "fixture":
            rings = spark.read.parquet(os.path.join(sf_smoke, "region_rings.parquet"))
        else:
            rings = entry._antim_region_rings(spark)
        rings_pdf = rings.toPandas()
        local = grid.build_adaptive_cell_index(rings, 6, 10, rings_pdf=rings_pdf)
        monkeypatch.setattr(grid, "LOCAL_INDEX_MAX_REGIONS", 0)
        dist = grid.build_adaptive_cell_index(rings, 6, 10, rings_pdf=rings_pdf)

        def plan(df):
            return df._jdf.queryExecution().analyzed().toString()

        assert "FlatMapGroupsInPandas" in plan(dist)
        assert "FlatMapGroupsInPandas" not in plan(local)
        assert self._index_rows(dist) == self._index_rows(local)

    @pytest.mark.parametrize("store", ["fixture", "antimeridian"])
    def test_candidates_equal_on_both_sides(self, spark, sf_smoke, monkeypatch, store):
        """The engine's candidate tables are the same arrays whichever side
        of the gate built the index; only the distributed side runs a Spark
        job to collect it (the driver-local index feeds them directly)."""
        import __spark_entry__ as entry
        from libosmtools_spark.index import grid
        from libosmtools_spark.joins.mapjoin import PartialCells
        from libosmtools_spark.pipeline import SpatialEngine

        if store == "fixture":
            rings = spark.read.parquet(os.path.join(sf_smoke, "region_rings.parquet"))
        else:
            rings = entry._antim_region_rings(spark)
        sc = spark.sparkContext

        def candidates(group):
            eng = SpatialEngine(spark, rings, 6, 10)
            sc.setJobGroup(group, group)
            try:
                cand = eng.candidates_bcast.value
            finally:
                sc.setJobGroup(None, None)
            return cand, len(sc.statusTracker().getJobIdsForGroup(group))

        local, local_jobs = candidates(f"cand-local-{store}")
        monkeypatch.setattr(grid, "LOCAL_INDEX_MAX_REGIONS", 0)
        dist, dist_jobs = candidates(f"cand-dist-{store}")
        assert local_jobs == 0 < dist_jobs
        assert (local["n_regions"], local["n_words"]) == (dist["n_regions"], dist["n_words"])
        assert sorted(local["levels"]) == sorted(dist["levels"])
        for lv, (keys, full_masks, partial, has_part) in local["levels"].items():
            d_keys, d_full, d_partial, d_has = dist["levels"][lv]
            np.testing.assert_array_equal(keys, d_keys)
            np.testing.assert_array_equal(full_masks, d_full)
            np.testing.assert_array_equal(has_part, d_has)
            for name in PartialCells.__slots__:
                np.testing.assert_array_equal(getattr(partial, name), getattr(d_partial, name))

    def test_distributed_build_flagship_matches_golden(self, spark, sf_smoke, pages, monkeypatch):
        from libosmtools_spark.index import grid
        from libosmtools_spark.pipeline import SpatialEngine

        monkeypatch.setattr(grid, "LOCAL_INDEX_MAX_REGIONS", 0)
        eng = SpatialEngine.from_fixtures(spark, sf_smoke)
        analyzed = eng.cell_index._jdf.queryExecution().analyzed().toString()
        assert "FlatMapGroupsInPandas" in analyzed
        golden = _golden_flagship_rows(_read_goldens(sf_smoke))
        assert _flagship_rows(eng.flagship_map(pages)) == golden


class TestRoundTrip:
    def test_write_read_back_identical(self, engine, pages, tmp_path, spark):
        out = engine.flagship_map(pages)
        path = str(tmp_path / "flagship.parquet")
        out.write.mode("overwrite").parquet(path)
        back = spark.read.parquet(path)
        assert back.exceptAll(out).count() == 0
        assert out.exceptAll(back).count() == 0


if __name__ == "__main__":
    import sys

    sys.exit(pytest.main([__file__, "-x", "-q"]))
