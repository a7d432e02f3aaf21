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


def _jobs(spark, group, fn):
    """(fn(), Spark jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


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
        from libosmtools_spark.text.analysis import html_text_col

        extracted = pages.withColumn("text", html_text_col(F.col("html")))
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

    def test_dictionary_broadcast_runs_one_task(self, spark, engine, sf_smoke):
        """The driver-built cells dictionary is one partition, so reading a
        flagship_map frame broadcasts it in a one-task JVM job, not one
        task per core.  The fixture's pages are one file, so the final
        join over the kernel checkpoint is one task too."""
        pages = spark.read.parquet(os.path.join(sf_smoke, "pages.parquet"))
        out = engine.flagship_map(pages)
        sc, group = spark.sparkContext, "flagship-map-read"
        sc.setJobGroup(group, group)
        try:
            out.collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = sc.statusTracker()
        tasks = [
            sum(tracker.getStageInfo(s).numTasks for s in tracker.getJobInfo(j).stageIds)
            for j in tracker.getJobIdsForGroup(group)
        ]
        assert len(tasks) == 2 and tasks == [1, 1]


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
    """The flagship builds its cells dictionary from the task-unique keys
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

    def test_gather_is_task_unique_keys(self, spark, store_engine):
        """With several Arrow batches per task the dictionary input holds
        exactly Σ over tasks of distinct keys (NULL counted once per task):
        the feed does not grow with the number of batches."""
        from libosmtools_spark.joins.mapjoin import TASK_UNIQUE
        from libosmtools_spark.joins.spatial import geocode_pages, with_cell_key

        eng = store_engine
        pdf = _dictionary_pages()
        batch = 16
        conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
        old = spark.conf.get(conf)
        spark.conf.set(conf, str(batch))
        try:
            for parts in (1, 2):
                pages = spark.createDataFrame(pdf).coalesce(parts)
                keyed = (
                    with_cell_key(geocode_pages(pages), level=eng.level)
                    .select("cell_key", F.spark_partition_id().alias("part"))
                    .collect()
                )
                per_task = {}
                for r in keyed:
                    per_task.setdefault(r.part, []).append(r.cell_key)
                assert len(per_task) == parts
                assert all(len(k) > 2 * batch for k in per_task.values())
                distinct = len({r.cell_key for r in keyed})
                got = eng.flagship_kernel(pages).filter(TASK_UNIQUE).count()
                assert got == sum(len(set(k)) for k in per_task.values())
                if parts == 1:
                    assert got == distinct
                else:
                    assert distinct < got < len(keyed)
                out = eng.flagship_map(pages).toPandas()
                assert len(out) == len(pdf)
        finally:
            spark.conf.set(conf, old)

    def test_task_unique_feed_equals_distinct_first(self, spark, store_engine):
        """Both sides of ``input_batch_unique``: the kernel's task-unique
        keys (several per key over two tasks, each of several Arrow
        batches) and the distinct-first feed over every page's key give
        the same dictionary."""
        from libosmtools_spark.cells.assign import build_cells_table_map
        from libosmtools_spark.joins.mapjoin import TASK_UNIQUE

        eng = store_engine
        pages = spark.createDataFrame(_dictionary_pages()).coalesce(2)
        conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
        old = spark.conf.get(conf)
        spark.conf.set(conf, "16")
        try:
            kernel = eng.flagship_kernel(pages).cache()
            flagged = kernel.filter(TASK_UNIQUE)
            assert kernel.rdd.getNumPartitions() == 2
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

    def test_wide_pages_batches_follow_byte_bound(self, spark, store_engine):
        """~64 KB pages: every Arrow batch a Python task receives holds the
        session's byte bound (Spark closes a batch on the row that reaches
        it, so at most one row past it), several batches per task, and the
        flagship still equals the brute-force reference."""
        from libosmtools_spark.session import ARROW_MAX_BYTES_PER_BATCH

        eng = store_engine
        pdf = _dictionary_pages()
        pdf["text"] = pdf["text"] + " " + "x" * (64 * 1024)
        pages = spark.createDataFrame(pdf).coalesce(2)

        def probe(batches):
            import pyarrow as pa

            for b in batches:
                yield pa.RecordBatch.from_pydict({"nbytes": [b.nbytes], "rows": [b.num_rows]})

        sizes = pages.select("url", "text").mapInArrow(probe, "nbytes long, rows long").toPandas()
        row_bytes = int(pdf["text"].str.len().max()) + 64
        # two tasks of ~4 MB: the bound splits each into at least two batches
        assert len(sizes) >= 2 * 2
        assert sizes["rows"].sum() == len(pdf)
        assert (sizes["nbytes"] <= ARROW_MAX_BYTES_PER_BATCH + row_bytes).all()
        assert _flagship_rows(eng.flagship_map(pages)) == _brute_flagship(pdf, eng.level)[0]

    def test_kernel_cells_is_driver_local(self, spark, store_engine):
        """``kernel_cells`` returns a LocalRelation in one partition (a
        shuffle-free coalesce): reading or broadcasting the dictionary
        starts no Python worker."""
        eng = store_engine
        cells = eng.kernel_cells(eng.flagship_kernel(spark.createDataFrame(_dictionary_pages())))
        plan = cells._jdf.queryExecution().analyzed()
        assert (plan.nodeName(), plan.numPartitions(), plan.shuffle()) == ("Repartition", 1, False)
        assert plan.child().nodeName() == "LocalRelation"
        analyzed = plan.toString()
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


class TestOneStoreBuild:
    """Every store is covered once, on the driver, from its rings lookup,
    whatever its region count: a 1,100-region star store (past the size
    that once took a distributed per-region covering), built from pandas
    and so collected rather than read from parquet, builds with one Spark
    job, the rings collect, and plans no pandas group anywhere."""

    @pytest.fixture(scope="class")
    def star_rings(self, spark):
        from libosmtools_spark.data.synth import regions_frames, scaling_region_spec

        return spark.createDataFrame(
            regions_frames(scaling_region_spec(1100, 64))[1],
            "region_id long, ring_id long, ring_role string, "
            "points array<struct<lat:double,lon:double>>",
        )

    def test_large_store_builds_on_the_driver(self, spark, star_rings):
        from libosmtools_spark.geom import kernels as K
        from libosmtools_spark.pipeline import SpatialEngine
        from libosmtools_spark.tiles.materialize import vector_to_raster

        eng, ctor_jobs = _jobs(spark, "one-store-build-ctor", lambda: SpatialEngine(spark, star_rings))
        _, cand_jobs = _jobs(spark, "one-store-build-cand", lambda: eng.candidates_bcast)
        assert (ctor_jobs, cand_jobs) == (1, 0)
        assert len(eng.rings_lookup) == 1100
        for df in (eng.cell_index, vector_to_raster(star_rings, eng.level)):
            assert "FlatMapGroupsInPandas" not in df._jdf.queryExecution().analyzed().toString()

        # flagship region sets on random points around the star hotspots
        # equal brute point_in_rings over every region
        rng = np.random.default_rng(11)
        hot = np.array([(48.2, 11.4), (17.5, 17.5), (-20.0, 50.0)])
        which = rng.integers(0, len(hot), size=600)
        texts = [
            f"near geo:{a:.6f},{o:.6f} end"
            for a, o in zip(
                hot[which, 0] + rng.uniform(-2.5, 2.5, 600),
                hot[which, 1] + rng.uniform(-2.5, 2.5, 600),
            )
        ]
        pdf = pd.DataFrame({"url": [f"s{i}" for i in range(len(texts))], "text": texts})
        got = _flagship_rows(eng.flagship_map(spark.createDataFrame(pdf)))
        coords = np.array([t.split("geo:")[1].split(" ")[0].split(",") for t in texts], dtype=np.float64)
        inside = np.stack(
            [K.point_in_rings(coords[:, 0], coords[:, 1], o, i) for o, i in eng.rings_lookup.values()],
            axis=1,
        )
        rids = np.fromiter(eng.rings_lookup, dtype=np.int64)
        want = {u: tuple(rids[row].tolist()) for u, row in zip(pdf["url"], inside)}
        assert {u: r[2] for u, r in got.items()} == want
        assert max(len(ids) for ids in want.values()) > 63  # multi-word masks


class TestStoreRead:
    """``index.grid.rings_table``: a bare local parquet store is read on
    the driver (no Spark job); a filtered, projected, unioned or
    partitioned frame of the same files, or a frame built from rows, is
    collected with one job and keeps its own rows.  Both sides give the
    same lookup and byte-identical candidate tables."""

    @pytest.fixture(scope="class")
    def store_path(self, sf_smoke):
        return os.path.join(sf_smoke, "scaling_region_rings.parquet")

    @staticmethod
    def _build(spark, group, rings):
        """(engine with its candidate tables built, Spark jobs it ran)."""
        from libosmtools_spark.pipeline import SpatialEngine

        def build():
            eng = SpatialEngine(spark, rings)
            eng.candidates_bcast
            return eng

        return _jobs(spark, group, build)

    @staticmethod
    def _tables(eng):
        import pickle

        return pickle.dumps((eng.rings_lookup, eng.candidates_bcast.value), protocol=pickle.HIGHEST_PROTOCOL)

    @pytest.fixture(scope="class")
    def driver_engine(self, spark, store_path):
        return self._build(spark, "store-read-engine", spark.read.parquet(store_path))[0]

    def test_bare_parquet_store_runs_no_job(self, spark, store_path):
        _, jobs = self._build(spark, "store-read-bare", spark.read.parquet(store_path))
        assert jobs == 0

    def test_rows_frame_collects_the_same_tables(self, spark, store_path, driver_engine):
        pdf = pd.read_parquet(store_path)
        rows = spark.createDataFrame(
            [(int(r.region_id), int(r.ring_id), r.ring_role, [dict(p) for p in r.points]) for r in pdf.itertuples()],
            "region_id long, ring_id long, ring_role string, points array<struct<lat:double,lon:double>>",
        )
        eng, jobs = self._build(spark, "store-read-rows", rows)
        assert jobs == 1
        assert self._tables(eng) == self._tables(driver_engine)

    def test_filtered_frame_keeps_its_filter(self, spark, store_path, driver_engine):
        eng, jobs = self._build(spark, "store-read-filter", spark.read.parquet(store_path).where("region_id % 2 = 0"))
        assert jobs == 1
        assert list(eng.rings_lookup) == [r for r in driver_engine.rings_lookup if r % 2 == 0]

    @pytest.mark.parametrize("shape", ["projected", "unioned", "partitioned"])
    def test_other_frames_collect_once(self, spark, store_path, driver_engine, tmp_path, shape):
        df = spark.read.parquet(store_path)
        if shape == "projected":
            df = df.select("points", "ring_role", "ring_id", "region_id")
        elif shape == "unioned":
            df = df.where("region_id < 20").unionByName(df.where("region_id >= 20"))
        else:
            df.write.partitionBy("ring_role").parquet(str(tmp_path / "by_role"))
            df = spark.read.parquet(str(tmp_path / "by_role"))
        eng, jobs = self._build(spark, f"store-read-{shape}", df)
        assert jobs == 1
        assert self._tables(eng) == self._tables(driver_engine)

    def test_store_path_with_space_reads_on_driver(self, spark, store_path, driver_engine, tmp_path, spy):
        import shutil

        from libosmtools_spark.index import grid

        d = tmp_path / "store with space"
        d.mkdir()
        shutil.copy(store_path, d / "part-0.parquet")
        df = spark.read.parquet(str(d))
        assert "%20" in df.inputFiles()[0]
        reads = spy(grid.pq, "read_table")
        eng, jobs = self._build(spark, "store-read-space", df)
        assert jobs == 0
        assert reads == [([str(d / "part-0.parquet")],)]
        assert self._tables(eng) == self._tables(driver_engine)


class TestLazyStoreArtifacts:
    """The rings broadcast and the cell index frame are built on first
    read: the flagship reads neither, the relational fallback both."""

    def test_flagship_builds_neither(self, spark, sf_smoke, pages):
        from libosmtools_spark.pipeline import SpatialEngine

        eng = SpatialEngine.from_fixtures(spark, sf_smoke)
        golden = _golden_flagship_rows(_read_goldens(sf_smoke))
        assert _flagship_rows(eng.flagship_map(pages)) == golden
        assert eng._rings_bcast is None and eng._cell_index is None

    def test_fallback_gets_both(self, spark, sf_smoke, pages):
        from libosmtools_spark.joins.spatial import geocode_pages, spatial_join_adaptive
        from libosmtools_spark.pipeline import SpatialEngine

        eng = SpatialEngine.from_fixtures(spark, sf_smoke)
        pts = geocode_pages(pages).select("url", "lat", "lon")
        hits = spatial_join_adaptive(pts, eng.cell_index, eng.rings_bcast, eng.level, eng.max_level)
        assert eng._rings_bcast is not None and eng._cell_index is not None
        assert sorted(eng.rings_bcast.value) == sorted(eng.rings_lookup)
        assert eng.cell_index.count() == len(eng._index_pdf)
        sets = hits.groupBy("url").agg(F.array_sort(F.collect_set("region_id")).alias("ids"))
        got = {r.url: tuple(r.ids) for r in sets.collect()}
        golden = _golden_flagship_rows(_read_goldens(sf_smoke))
        assert got == {u: ids for u, (_, _, ids) in golden.items() if ids}


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
