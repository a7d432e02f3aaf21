"""AreaExtractor subsystem rebuilt Spark-first (S2–S10, SURVEY.md §2.1).

The reference scans an OSM PBF five times with per-block thread fan-out
(/root/reference/include/osmtools/AreaExtractor.h:191-271).  Here each pass
is a DataFrame stage over ``nodes``/``ways``/``relations`` tables; block
parallelism becomes partition parallelism and the shared hash maps become
joins.

Output contract: a unified region table
``(source, orig_id, name, tags, ring_id, ring_role, points)`` with dense
``region_id`` assigned by deterministic row_number (the thread-safe
push_back contract, /root/reference/include/osmtools/OsmGridRegionTree.h:186-200).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# S2 — tag-filter predicate tree (/root/reference/src/AreaExtractorFilters.cpp:9-94)
# ---------------------------------------------------------------------------

#: extraction-type bits, byte-for-byte the reference enum
#: (/root/reference/include/osmtools/AreaExtractorFilters.h:13-23).
#: ET_BUILDING deliberately includes the ET_AREA bit (0x20|0x40): setting it
#: both enables the building KeyOnly branch AND activates the area branch;
#: the building branch itself fires only when BOTH bits are set
#: (`(et & ET_BUILDING) == ET_BUILDING`, AreaExtractorFilters.cpp:23).
ET_NONE = 0x0
ET_PRIMITIVE_WAYS = 0x1
ET_PRIMITIVE_RELATIONS = 0x2
ET_BOUNDARIES = 0x4
ET_LANDUSE = 0x8
ET_NATURAL = 0x10
ET_AREA = 0x20
ET_BUILDING = 0x20 | 0x40
ET_ISLAND = 0x80
ET_MULTIPOLYGONS = 0x100
ET_ALL_SPECIAL_BUT_BUILDINGS = (
    ET_BOUNDARIES | ET_LANDUSE | ET_NATURAL | ET_AREA | ET_ISLAND
    | ET_PRIMITIVE_WAYS | ET_PRIMITIVE_RELATIONS
)
ET_ALL_SPECIAL = ET_ALL_SPECIAL_BUT_BUILDINGS | ET_BUILDING
ET_ALL_MULTIPOLYGONS = ET_MULTIPOLYGONS | ET_PRIMITIVE_RELATIONS
#: the reference's extract() default (AreaExtractor.h:163) — note: NOT
#: buildings, NOT bare multipolygons
ET_DEFAULT = ET_ALL_SPECIAL_BUT_BUILDINGS
#: ET_ALL is commented out in the reference header (AreaExtractorFilters.h:22);
#: provided here as the documented union it would be
ET_ALL = ET_ALL_SPECIAL | ET_ALL_MULTIPOLYGONS

#: island multi-values (/root/reference/src/AreaExtractorFilters.cpp:35-37)
ISLAND_VALUES = ("island", "archipelago", "islet")

#: osmpbf BoolTagFilter(key, false) value set — explicit falsy spellings;
#: the exclusion conjunction treats key-absence as falsy too (the tag does
#: not assert the excluded feature type)
FALSY_TAG_VALUES = ("false", "no", "0")

#: (key, ET bit) pairs eligible for the conditional area-exclusion
#: conjunction (/root/reference/src/AreaExtractorFilters.cpp:38-55) — an
#: exclusion is added ONLY when that key's own ET bit is NOT (fully) set
AREA_EXCLUSIONS = (
    ("building", ET_BUILDING),
    ("boundary", ET_BOUNDARIES),
    ("landuse", ET_LANDUSE),
    ("natural", ET_NATURAL),
)


def bool_tag_false(tags: Column, key: str) -> Column:
    """BoolTagFilter(key, false) semantics: the tag is absent or carries an
    explicitly falsy value (/root/reference/src/AreaExtractorFilters.cpp:42;
    osmpbf BoolTagFilter(false) value set {False,false,No,no,0} — matched
    case-insensitively here)."""
    v = F.element_at(tags, key)
    return v.isNull() | F.lower(v).isin(*FALSY_TAG_VALUES)


def tag_filter(extraction_types: int = ET_DEFAULT) -> Column:
    """The way-side area filter: pure Column predicate over
    ``tags: map<string,string>`` — the Or/KeyOnly/KeyMultiValue/BoolTag tree
    of createExtractionFilter, branch for branch
    (/root/reference/src/AreaExtractorFilters.cpp:23-63).  Catalyst pushes
    it down to the scan.

    Branch order mirrors the reference: building, boundary, landuse,
    natural, island, then the area branch.  Under ET_AREA the KeyOnly("area")
    is AND-ed with one absent-or-falsy exclusion per feature key whose own
    ET bit is unset — under e.g. ET_ALL_SPECIAL the area predicate is plain
    KeyOnly("area") with no exclusions (cpp:56-62)."""
    t = F.col("tags")
    preds = []
    if (extraction_types & ET_BUILDING) == ET_BUILDING:
        preds.append(F.map_contains_key(t, "building"))
    if extraction_types & ET_BOUNDARIES:
        preds.append(F.map_contains_key(t, "boundary"))
    if extraction_types & ET_LANDUSE:
        preds.append(F.map_contains_key(t, "landuse"))
    if extraction_types & ET_NATURAL:
        preds.append(F.map_contains_key(t, "natural"))
    if extraction_types & ET_ISLAND:
        preds.append(F.element_at(t, "place").isin(*ISLAND_VALUES))
    if extraction_types & ET_AREA:
        area = F.map_contains_key(t, "area")
        for key, bit in AREA_EXCLUSIONS:
            if (extraction_types & bit) != bit:
                area = area & bool_tag_false(t, key)
        preds.append(area)
    out = F.lit(False)
    for p in preds:
        out = out | p
    return out


def relation_tag_filter(extraction_types: int = ET_DEFAULT) -> Column:
    """Relation-side filter (/root/reference/src/AreaExtractorFilters.cpp:69-83):
    multipolygon arm = type ∈ {multipoly, multipolygon}, TYPE-ONLY when
    ET_MULTIPOLYGONS is set, else AND-ed with the area filter; when
    ET_BOUNDARIES is set a bare ``type=boundary`` relation also passes
    (no area-tag requirement)."""
    t = F.col("tags")
    mp = F.element_at(t, "type").isin("multipoly", "multipolygon")
    if not (extraction_types & ET_MULTIPOLYGONS):
        mp = mp & tag_filter(extraction_types)
    if extraction_types & ET_BOUNDARIES:
        return (F.element_at(t, "type") == "boundary") | mp
    return mp


# ---------------------------------------------------------------------------
# S3/S4/S5 — closed-way extraction
# ---------------------------------------------------------------------------

def closed_way_filter() -> Column:
    """>4 refs, first == last (/root/reference/src/AreaExtractor.cpp:163)."""
    refs = F.col("refs")
    return (F.size(refs) > 4) & (refs[0] == F.element_at(refs, -1))


def extract_way_polygons(
    nodes: DataFrame, ways: DataFrame, extraction_types: int = ET_DEFAULT
) -> DataFrame:
    """Way phase (3 reference scans collapsed into one DAG):
    S3 filter → S4 node semi-join → S5 assembly.  Ways referencing a missing
    node are dropped (anti-join route,
    /root/reference/src/AreaExtractor.cpp:198-204).

    → (source='way', orig_id, name, tags, ring_id=0, ring_role='outer',
       points array<struct<lat,lon>>)"""
    kept = ways.filter(closed_way_filter() & tag_filter(extraction_types))

    exploded = kept.select(
        "way_id", "tags", F.posexplode("refs").alias("pos", "node_id")
    )
    # S4: gather coordinates only for needed nodes (semi-join reduction is
    # implicit: the join keys are exactly the exploded refs)
    with_coords = exploded.join(nodes, "node_id", "left")

    # missing-node detection: any NULL lat in the group drops the way
    assembled = with_coords.groupBy("way_id").agg(
        F.first("tags").alias("tags"),
        F.sum(F.col("lat").isNull().cast("int")).alias("n_missing"),
        F.array_sort(F.collect_list(F.struct("pos", "lat", "lon"))).alias("pts"),
    )
    ok = assembled.filter(F.col("n_missing") == 0)
    return ok.select(
        F.lit("way").alias("source"),
        F.col("way_id").alias("orig_id"),
        F.element_at("tags", "name").alias("name"),
        "tags",
        F.lit(0).alias("ring_id"),
        F.lit("outer").alias("ring_role"),
        F.transform("pts", lambda s: F.struct(s["lat"].alias("lat"), s["lon"].alias("lon"))).alias(
            "points"
        ),
    )


# ---------------------------------------------------------------------------
# S8 — role routing (/root/reference/src/AreaExtractor.cpp:305-313)
# ---------------------------------------------------------------------------

OUTER_ROLES = ("outer", "", "exclave", "Outer", "outer:FIXME")
INNER_ROLES = ("inner", "enclave")


def route_role(role: Column) -> Column:
    return (
        F.when(role.isin(*OUTER_ROLES), F.lit("outer"))
        .when(role.isin(*INNER_ROLES), F.lit("inner"))
        .otherwise(F.lit(None))
    )


# ---------------------------------------------------------------------------
# S9 — ring stitching (numpy, per relation-role group)
# ---------------------------------------------------------------------------

def stitch_rings(way_point_lists: list[np.ndarray]) -> tuple[list[np.ndarray], bool]:
    """Glue open way segments into closed rings by endpoint matching — the
    4 orientation cases of MultiPolyResolver::closedPolysFromWays
    (/root/reference/src/AreaExtractor.cpp:26-48): back-front, back-back,
    front-front, front-back.  A ring is kept iff ≥4 points and closed
    (:59-61).  Returns (rings, all_ok): all_ok False when leftovers could
    not be closed (:59-65)."""
    open_ways = [w for w in way_point_lists if len(w) >= 2]
    rings: list[np.ndarray] = []
    # separate already-closed ways first
    pending = []
    for w in open_ways:
        if len(w) >= 4 and (w[0] == w[-1]).all():
            rings.append(w)
        else:
            pending.append(w)

    all_ok = True
    while pending:
        cur = pending.pop(0)
        progress = True
        while not ((len(cur) >= 4) and (cur[0] == cur[-1]).all()) and progress:
            progress = False
            for i, seg in enumerate(pending):
                if (cur[-1] == seg[0]).all():      # back-front
                    cur = np.vstack([cur, seg[1:]])
                elif (cur[-1] == seg[-1]).all():   # back-back
                    cur = np.vstack([cur, seg[::-1][1:]])
                elif (cur[0] == seg[-1]).all():    # front-back
                    cur = np.vstack([seg, cur[1:]])
                elif (cur[0] == seg[0]).all():     # front-front
                    cur = np.vstack([seg[::-1], cur[1:]])
                else:
                    continue
                pending.pop(i)
                progress = True
                break
        if len(cur) >= 4 and (cur[0] == cur[-1]).all():
            rings.append(cur)
        else:
            all_ok = False  # unclosable leftover (partial result path)
    return rings, all_ok


# ---------------------------------------------------------------------------
# S6/S7/S10 — relation (multipolygon) assembly
# ---------------------------------------------------------------------------

REGION_SCHEMA = (
    "source string, orig_id long, name string, tags map<string,string>, "
    "ring_id int, ring_role string, points array<struct<lat:double,lon:double>>"
)


def extract_relation_polygons(
    nodes: DataFrame, ways: DataFrame, relations: DataFrame, extraction_types: int = ET_DEFAULT
) -> DataFrame:
    """Relation phase (4 reference scans → one DAG): S6 member collection →
    S7 way-ref gather → S4 node gather → S9/S10 stitch + assemble.

    Partial-result semantics, matching the reference exactly
    (/root/reference/src/AreaExtractor.cpp:296-327): a member way that is
    unavailable (here: touches a missing node) is SKIPPED, not fatal; ring
    stitching keeps every successfully closed ring and discards only the
    unclosable leftovers (closedPolysFromWays, :59-65); the relation is
    emitted iff at least one closed outer ring results."""
    rels = relations.filter(relation_tag_filter(extraction_types)).select(
        "rel_id", "tags", F.explode("members").alias("m")
    )
    members = rels.filter(F.col("m.type") == "way").select(
        "rel_id",
        "tags",
        F.col("m.ref").alias("way_id"),
        route_role(F.col("m.role")).alias("ring_role"),
    ).filter(F.col("ring_role").isNotNull())

    # S7: gather refs of needed ways; S4: node coords
    way_pts = (
        members.join(ways.select("way_id", "refs"), "way_id")
        .select("rel_id", "tags", "way_id", "ring_role", F.posexplode("refs").alias("pos", "node_id"))
        .join(nodes, "node_id", "left")
    )

    # skip member WAYS touching a missing node — the relation itself
    # proceeds with its remaining ways (reference: an unavailable way only
    # clears allWaysAvailable, used for logging; the relation is still
    # assembled, /root/reference/src/AreaExtractor.cpp:296-327)
    bad_ways = way_pts.filter(F.col("lat").isNull()).select("rel_id", "way_id").distinct()
    way_pts = way_pts.join(bad_ways, ["rel_id", "way_id"], "left_anti")

    grouped = way_pts.groupBy("rel_id", "way_id", "ring_role").agg(
        F.first("tags").alias("tags"),
        F.array_sort(F.collect_list(F.struct("pos", "lat", "lon"))).alias("pts"),
    )

    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        rel_id = int(pdf["rel_id"].iloc[0])
        tags = pdf["tags"].iloc[0]
        name = tags.get("name") if isinstance(tags, dict) else None
        out_rows = []
        rings_by_role = {}
        for role in ("outer", "inner"):
            ways_pts = [
                np.array([[p["lat"], p["lon"]] for p in pts], dtype=np.float64)
                for pts in pdf.loc[pdf["ring_role"] == role, "pts"]
            ]
            if not ways_pts:
                rings_by_role[role] = []
                continue
            # partial-result path: keep the closed rings, drop only the
            # unclosable leftovers (all_ok is log-only in the reference,
            # /root/reference/src/AreaExtractor.cpp:320-327)
            rings, _role_ok = stitch_rings(ways_pts)
            rings_by_role[role] = rings
        if not rings_by_role["outer"]:
            return pd.DataFrame(
                columns=["source", "orig_id", "name", "tags", "ring_id", "ring_role", "points"]
            )
        ring_id = 0
        for role in ("outer", "inner"):  # outers first, then inners —
            # contiguous storage order (/root/reference/include/osmtools/OsmGridRegionTree.h:42-54)
            for ring in rings_by_role[role]:
                out_rows.append(
                    {
                        "source": "relation",
                        "orig_id": rel_id,
                        "name": name,
                        "tags": tags,
                        "ring_id": ring_id,
                        "ring_role": role,
                        "points": [{"lat": float(a), "lon": float(o)} for a, o in ring],
                    }
                )
                ring_id += 1
        return pd.DataFrame(out_rows)

    return grouped.groupBy("rel_id").applyInPandas(assemble, REGION_SCHEMA)


# ---------------------------------------------------------------------------
# unified region table with dense ids (G1/G2)
# ---------------------------------------------------------------------------

def sort_regions(regions: DataFrame, by: list) -> DataFrame:
    """G3 — OsmGridRegionTree::sort(cmp)
    (/root/reference/include/osmtools/OsmGridRegionTree.h:174-184): reorder
    regions by a comparator and REASSIGN the dense ids.  The reference
    documents that the sort invalidates previously handed-out ids (do it
    before building the raster); here the invalidated id is kept explicitly
    as ``old_region_id`` so downstream tables can be remapped by a join.

    ``by``: column names (constant per region, e.g. 'name') or Columns.
    Ties break by (source, orig_id) for determinism."""
    key_cols = ["source", "orig_id"]
    by_names = [c if isinstance(c, str) else None for c in by]
    assert all(n is not None for n in by_names), "pass column names constant per region"
    heads = regions.select(*key_cols, F.col("region_id").alias("old_region_id"), *by_names).distinct()
    ranked = heads.withColumn(
        "region_id",
        F.row_number().over(Window.orderBy(*by_names, *key_cols)) - 1,
    ).select(*key_cols, "old_region_id", "region_id")
    return regions.drop("region_id").join(ranked, key_cols).select(
        "region_id", "old_region_id", *[c for c in regions.columns if c != "region_id"]
    )


def extract_regions(
    nodes: DataFrame, ways: DataFrame, relations: DataFrame, extraction_types: int = ET_DEFAULT
) -> DataFrame:
    """Full extraction: ways ∪ relations → dense region_id by canonical
    (source, orig_id) order (G2's deterministic id contract)."""
    w = extract_way_polygons(nodes, ways, extraction_types)
    r = extract_relation_polygons(nodes, ways, relations, extraction_types)
    both = w.unionByName(r)
    ids = (
        both.select("source", "orig_id")
        .distinct()
        .withColumn(
            "region_id",
            F.row_number().over(Window.orderBy("source", "orig_id")) - 1,
        )
    )
    return both.join(ids, ["source", "orig_id"]).select(
        "region_id", "source", "orig_id", "name", "tags", "ring_id", "ring_role", "points"
    )
