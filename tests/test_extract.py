"""AreaExtractor-semantics tests over the osm fixtures (FIXTURES.md §2)."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def osm(spark, sf_smoke):
    nodes = spark.read.parquet(os.path.join(sf_smoke, "nodes.parquet"))
    ways = spark.read.parquet(os.path.join(sf_smoke, "ways.parquet"))
    rels = spark.read.parquet(os.path.join(sf_smoke, "relations.parquet"))
    return nodes.cache(), ways.cache(), rels.cache()


class TestStitchKernel:
    """The 4 endpoint-orientation cases of
    /root/reference/src/AreaExtractor.cpp:26-48 + rejection (:59-65)."""

    def seg(self, *pts):
        return np.array(pts, dtype=np.float64)

    def test_back_front(self):
        from libosmtools_spark.extract.areas import stitch_rings

        a = self.seg([0, 0], [0, 1])
        b = self.seg([0, 1], [1, 1])
        c = self.seg([1, 1], [1, 0])
        d = self.seg([1, 0], [0, 0])
        rings, ok = stitch_rings([a, b, c, d])
        assert ok and len(rings) == 1 and len(rings[0]) == 5

    def test_mixed_orientations(self):
        from libosmtools_spark.extract.areas import stitch_rings

        a = self.seg([0, 0], [0, 1])          # fwd
        b = self.seg([1, 1], [0, 1])          # reversed (back-back w.r.t. a)
        c = self.seg([1, 0], [1, 1])          # reversed
        d = self.seg([0, 0], [1, 0])          # front-front closing
        rings, ok = stitch_rings([a, b, c, d])
        assert ok and len(rings) == 1 and len(rings[0]) == 5
        assert (rings[0][0] == rings[0][-1]).all()

    def test_unclosable(self):
        from libosmtools_spark.extract.areas import stitch_rings

        a = self.seg([0, 0], [0, 1])
        b = self.seg([5, 5], [6, 6])
        rings, ok = stitch_rings([a, b])
        assert not ok

    def test_two_separate_rings(self):
        from libosmtools_spark.extract.areas import stitch_rings

        r1 = self.seg([0, 0], [0, 1], [1, 1], [1, 0], [0, 0])
        r2 = self.seg([5, 5], [5, 6], [6, 6], [6, 5], [5, 5])
        rings, ok = stitch_rings([r1, r2])
        assert ok and len(rings) == 2


class TestWayExtraction:
    def test_kept_and_dropped(self, osm):
        from libosmtools_spark.extract.areas import extract_way_polygons

        nodes, ways, rels = osm
        out = extract_way_polygons(nodes, ways).toPandas()
        kept = set(out["orig_id"])
        # under ET_DEFAULT (= ET_ALL_SPECIAL_BUT_BUILDINGS): boundary (100),
        # landuse (105), place=island (106), bare area (107), area with
        # explicit building=no (109), area+highway (110 — highway is not an
        # exclusion key).  Dropped: area+building=yes (108), bare building
        # (111), untagged/open/missing-node ways.
        assert kept == {100, 105, 106, 107, 109, 110}
        sq = out[out["orig_id"] == 100].iloc[0]
        assert len(sq["points"]) == 5
        assert sq["points"][0] == sq["points"][-1]

    def test_building_branch_et_all_special(self, osm):
        """ET_ALL_SPECIAL adds the building KeyOnly branch AND removes the
        building exclusion from the area conjunction
        (/root/reference/src/AreaExtractorFilters.cpp:23-25,41-43)."""
        from libosmtools_spark.extract.areas import ET_ALL_SPECIAL, extract_way_polygons

        nodes, ways, rels = osm
        kept = set(extract_way_polygons(nodes, ways, ET_ALL_SPECIAL).toPandas()["orig_id"])
        # 108 (area+building=yes) and 111 (bare building) now pass
        assert kept == {100, 105, 106, 107, 108, 109, 110, 111}

    def test_area_branch_exclusion_conditional(self, spark, osm):
        """Exclusions apply only for UNSET ET bits: under ET_AREA alone every
        exclusion is active; ways tagged boundary/landuse (absent area key)
        don't pass; area+building=yes fails the building exclusion
        (/root/reference/src/AreaExtractorFilters.cpp:38-63)."""
        from libosmtools_spark.extract.areas import ET_AREA, ET_PRIMITIVE_WAYS, tag_filter

        nodes, ways, rels = osm
        kept = set(
            ways.filter(tag_filter(ET_AREA | ET_PRIMITIVE_WAYS)).toPandas()["way_id"]
        )
        assert kept == {107, 109, 110}

    def test_bool_tag_false_semantics(self, spark):
        """BoolTagFilter(key,false): absent OR explicitly falsy — a non-falsy
        non-truthy value (building=garage) does NOT satisfy the exclusion."""
        from libosmtools_spark.extract.areas import ET_AREA, tag_filter

        df = spark.createDataFrame(
            [
                (1, {"area": "yes"}),
                (2, {"area": "yes", "building": "no"}),
                (3, {"area": "yes", "building": "False"}),
                (4, {"area": "yes", "building": "garage"}),
                (5, {"area": "yes", "building": "yes"}),
            ],
            "id int, tags map<string,string>",
        )
        kept = {r.id for r in df.filter(tag_filter(ET_AREA)).collect()}
        assert kept == {1, 2, 3}

    def test_missing_node_rejected_and_counted(self, osm):
        """A closed, tag-matching way with a node missing from the nodes
        table is dropped, not assembled with a hole in its ring (reject
        accounting, libosmtools src/AreaExtractor.cpp:198-204)."""
        from libosmtools_spark.extract.areas import closed_way_filter, extract_way_polygons, tag_filter

        nodes, ways, rels = osm
        candidates = {r.way_id for r in ways.filter(closed_way_filter() & tag_filter()).collect()}
        node_ids = {r.node_id for r in nodes.select("node_id").collect()}
        missing = {r.way_id for r in ways.collect() if not set(r.refs) <= node_ids}
        assert missing & candidates == {104}
        kept = set(extract_way_polygons(nodes, ways).toPandas()["orig_id"])
        assert kept == candidates - {104}

class TestRelationExtraction:
    def test_multipolygon_assembled(self, osm):
        from libosmtools_spark.extract.areas import extract_relation_polygons

        nodes, ways, rels = osm
        out = extract_relation_polygons(nodes, ways, rels).toPandas()
        by_rel = dict(tuple(out.groupby("orig_id")))
        # rel 200: 1 stitched outer (from 4 mixed-orientation ways) + 1 inner
        r200 = by_rel[200]
        assert set(r200["ring_role"]) == {"outer", "inner"}
        outer = r200[r200.ring_role == "outer"].iloc[0]
        assert len(outer["points"]) == 9  # 8 distinct corners/midpoints + closure
        assert outer["points"][0] == outer["points"][-1]
        # outers stored before inners
        assert list(r200.sort_values("ring_id")["ring_role"]) == ["outer", "inner"]

    def test_demotion_single_outer(self, osm):
        from libosmtools_spark.extract.areas import extract_relation_polygons

        nodes, ways, rels = osm
        out = extract_relation_polygons(nodes, ways, rels).toPandas()
        r201 = out[out["orig_id"] == 201]
        assert len(r201) == 1 and r201.iloc[0]["ring_role"] == "outer"

    def test_unclosable_relation_dropped(self, osm):
        from libosmtools_spark.extract.areas import extract_relation_polygons

        nodes, ways, rels = osm
        out = extract_relation_polygons(nodes, ways, rels).toPandas()
        assert 202 not in set(out["orig_id"])

    def test_enclave_exclave_roles(self, osm):
        from libosmtools_spark.extract.areas import extract_relation_polygons

        nodes, ways, rels = osm
        out = extract_relation_polygons(nodes, ways, rels).toPandas()
        r203 = out[out["orig_id"] == 203]
        roles = set(r203["ring_role"])
        assert roles == {"outer", "inner"}  # exclave→outer, enclave→inner

    def test_partial_ring_set_keeps_closed_rings(self, osm):
        """Reference partial-result path: closedPolysFromWays keeps the
        successfully closed rings even when a leftover cannot close
        (/root/reference/src/AreaExtractor.cpp:59-65, :320-327)."""
        from libosmtools_spark.extract.areas import extract_relation_polygons

        nodes, ways, rels = osm
        out = extract_relation_polygons(nodes, ways, rels).toPandas()
        r205 = out[out["orig_id"] == 205]
        assert len(r205) == 1  # the closed ring; the stub is discarded
        assert r205.iloc[0]["ring_role"] == "outer"
        assert len(r205.iloc[0]["points"]) == 5

    def test_missing_member_way_skipped_not_fatal(self, osm):
        """A member way touching a missing node is skipped; the relation
        still assembles (/root/reference/src/AreaExtractor.cpp:296-327)."""
        from libosmtools_spark.extract.areas import extract_relation_polygons

        nodes, ways, rels = osm
        out = extract_relation_polygons(nodes, ways, rels).toPandas()
        r206 = out[out["orig_id"] == 206]
        assert len(r206) == 1
        assert r206.iloc[0]["ring_role"] == "outer"
        assert len(r206.iloc[0]["points"]) == 5

    def test_tag_filter_miss_dropped(self, osm):
        from libosmtools_spark.extract.areas import extract_relation_polygons

        nodes, ways, rels = osm
        out = extract_relation_polygons(nodes, ways, rels).toPandas()
        assert 204 not in set(out["orig_id"])

    def test_bare_boundary_relation_kept(self, osm):
        """ET_BOUNDARIES admits a bare type=boundary relation with NO area
        tags (/root/reference/src/AreaExtractorFilters.cpp:77-79)."""
        from libosmtools_spark.extract.areas import extract_relation_polygons

        nodes, ways, rels = osm
        out = extract_relation_polygons(nodes, ways, rels).toPandas()
        r207 = out[out["orig_id"] == 207]
        assert len(r207) == 1 and r207.iloc[0]["ring_role"] == "outer"

    def test_multipolygon_type_only_arm(self, osm):
        """rel 208 (type=multipolygon, no qualifying tag): dropped under
        ET_DEFAULT (area conjunction required), kept TYPE-ONLY when
        ET_MULTIPOLYGONS is set (/root/reference/src/AreaExtractorFilters.cpp:71-76)."""
        from libosmtools_spark.extract.areas import (
            ET_DEFAULT,
            ET_MULTIPOLYGONS,
            extract_relation_polygons,
        )

        nodes, ways, rels = osm
        out = extract_relation_polygons(nodes, ways, rels).toPandas()
        assert 208 not in set(out["orig_id"])
        out_mp = extract_relation_polygons(
            nodes, ways, rels, ET_DEFAULT | ET_MULTIPOLYGONS
        ).toPandas()
        assert 208 in set(out_mp["orig_id"])


class TestUnifiedRegions:
    def test_sort_regions_reassigns_dense_ids(self, osm):
        """G3 — OsmGridRegionTree::sort invalidates ids and re-ranks
        (/root/reference/include/osmtools/OsmGridRegionTree.h:174-184)."""
        from libosmtools_spark.extract.areas import extract_regions, sort_regions

        nodes, ways, rels = osm
        regions = extract_regions(nodes, ways, rels)
        by_size = sort_regions(regions, by=["source"]).toPandas()
        # dense ids preserved
        ids = sorted(by_size["region_id"].unique())
        assert ids == list(range(len(ids)))
        # new order: all 'relation' regions before 'way' regions
        order = by_size[["region_id", "source"]].drop_duplicates().sort_values("region_id")
        sources = list(order["source"])
        assert sources == sorted(sources)
        # the invalidated id is retained and forms a bijection
        remap = by_size[["old_region_id", "region_id"]].drop_duplicates()
        assert remap["old_region_id"].nunique() == len(remap)
        assert remap["region_id"].nunique() == len(remap)
        # rows preserved
        assert len(by_size) == regions.count()

    def test_dense_ids(self, osm):
        from libosmtools_spark.extract.areas import extract_regions

        nodes, ways, rels = osm
        out = extract_regions(nodes, ways, rels).toPandas()
        ids = sorted(out["region_id"].unique())
        assert ids == list(range(len(ids)))
        # deterministic: re-run gives identical assignment
        out2 = extract_regions(nodes, ways, rels).toPandas()
        m1 = out[["region_id", "source", "orig_id"]].drop_duplicates().sort_values("region_id")
        m2 = out2[["region_id", "source", "orig_id"]].drop_duplicates().sort_values("region_id")
        assert m1.reset_index(drop=True).equals(m2.reset_index(drop=True))


if __name__ == "__main__":
    import sys

    sys.exit(pytest.main([__file__, "-x", "-q"]))
