"""The flagship end-to-end pipeline (SURVEY.md §3.3 Spark lifecycle):

pages → one text-in ``mapInArrow`` kernel (geocode, cell key, region set
per page; joins/mapjoin.py) → cells dictionary over the occupied cells,
built on the driver from the kernel's batch-unique keys
(cells/assign.build_cells_table_map) → broadcast cell-id join
(cells/assign.assign_point_cell_ids) → (url, cell_key, cell_id, region_ids).
One Python pass per query: the kernel is the only Python task of the plan.
``entry()`` and the ``flagship_page_cells`` query run it as
``SpatialEngine.from_fixtures(spark, fx).flagship_map(pages)``.

``SpatialEngine`` is the only code that builds a region store's artifacts
(rings broadcast, adaptive cell index, candidate tables): the
``__spark_entry__`` queries and the tests build every store through it.
Its surface is the flagship's three stages: ``flagship_kernel`` (the
one pass that geocodes pages: RE2 inside the kernel), ``kernel_cells``
(the dictionary, a driver step fed from that pass) and ``flagship_map``
(the two joined).  Region sets, cell keys and cell ids of pages are read from
those outputs; the JVM geocoder ``joins.spatial.geocode_pages`` serves
streaming, hop-split and the relational
``joins.spatial.spatial_join_adaptive``, the fallback for region stores
too large to broadcast.
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from libosmtools_spark.cells.assign import assign_point_cell_ids, build_cells_table_map
from libosmtools_spark.index.grid import (
    CELL_INDEX_SCHEMA,
    build_adaptive_cell_index,
    local_adaptive_cell_index,
    rings_lookup,
)
from libosmtools_spark.joins.mapjoin import BATCH_UNIQUE, map_spatial_join_text

DEFAULT_LEVEL = 6
#: levels of recursive boundary refinement below the base grid — the
#: engine DEFAULT is the adaptive multi-level index (the reference's whole
#: point is quadtree refinement while cells exceed a size bound,
#: FixedSizeDiagRefiner /root/reference/src/OsmGridRegionTree.cpp:13-30):
#: boundary cells subdivide until max_level, so nearly all points resolve
#: as definite (no ray-cast) and the rest ray-cast against edges clipped
#: to a 16x finer cell.  Index size stays boundary-linear.  max_level ==
#: level degenerates to the flat single-level index (the round-1/2 shape).
DEFAULT_REFINE_LEVELS = 4

#: the flagship's output columns, in the order consumers hash them
FLAGSHIP_COLUMNS = ("url", "cell_key", "cell_id", "region_ids")


class SpatialEngine:
    """Holds the built index artifacts (the analog of the reference's
    OsmGridRegionTree + OsmTriangulationRegionStore pair) for a region store,
    built from one collect of its rings: the rings broadcast, the adaptive
    cell index and, on first use, the candidate tables broadcast.
    """

    def __init__(
        self,
        spark: SparkSession,
        region_rings: DataFrame,
        level: int = DEFAULT_LEVEL,
        max_level: int | None = None,
    ):
        self.spark = spark
        self.level = level
        self.max_level = level + DEFAULT_REFINE_LEVELS if max_level is None else max_level
        self.region_rings = region_rings
        # dimension-scale: collect rings ONCE — the same collected frame
        # feeds the broadcast lookup AND the (count-gated driver-local)
        # index build, so the engine constructor runs one Spark job instead
        # of a collect + a shuffle/UDF stage per build
        rings_pdf = region_rings.toPandas()
        self.rings_bcast = spark.sparkContext.broadcast(rings_lookup(rings_pdf))
        # the driver-local index (None above LOCAL_INDEX_MAX_REGIONS) feeds
        # the candidate tables directly; only a distributed index is
        # collected back for them
        self._index_pdf = local_adaptive_cell_index(rings_pdf, level, self.max_level)
        self.cell_index = (
            build_adaptive_cell_index(region_rings, level, self.max_level, rings_pdf=rings_pdf)
            if self._index_pdf is None
            else spark.createDataFrame(self._index_pdf, CELL_INDEX_SCHEMA)
        ).cache()
        self._candidates_bcast = None

    @property
    def candidates_bcast(self):
        """The candidate tables (``build_cell_candidates``), broadcast
        lazily — all the zero-shuffle map join reads."""
        if self._candidates_bcast is None:
            from libosmtools_spark.joins.mapjoin import build_cell_candidates

            index_pdf = self._index_pdf
            if index_pdf is None:
                index_pdf = self.cell_index.toPandas()
            self._candidates_bcast = self.spark.sparkContext.broadcast(
                build_cell_candidates(index_pdf, self.rings_bcast.value)
            )
        return self._candidates_bcast

    @classmethod
    def from_fixtures(cls, spark: SparkSession, fixtures_dir: str, level: int = DEFAULT_LEVEL):
        rings = spark.read.parquet(os.path.join(fixtures_dir, "region_rings.parquet"))
        return cls(spark, rings, level)

    def flagship_kernel(self, pages: DataFrame) -> DataFrame:
        """(url, cell_key, region_ids, batch_unique): the one text-in
        mapInArrow pass of the flagship (joins/mapjoin.py) — RE2 geocode,
        cell key AND region set per page inside the Arrow batch, plus the
        batch-unique key flag that feeds the cells dictionary
        (``kernel_cells``)."""
        return map_spatial_join_text(
            pages, self.candidates_bcast, self.rings_bcast, level=self.level
        )

    def kernel_cells(self, kernel_out: DataFrame) -> DataFrame:
        """(cell_key, cell_id, region_ids) dictionary over the cells a
        ``flagship_kernel`` output occupies, built on the driver from its
        batch-unique keys (no distinct exchange; the driver collect holds
        Σ over batches of distinct keys: batches × occupied cells at most,
        bounded only by ``spark.driver.maxResultSize``).  The call runs the
        collect job; the returned frame is a driver-local
        ``LocalRelation``."""
        return build_cells_table_map(
            kernel_out.filter(F.col(BATCH_UNIQUE)).select("cell_key"),
            self.candidates_bcast,
            self.rings_bcast,
            input_batch_unique=True,
        )

    def flagship_map(self, pages: DataFrame) -> DataFrame:
        """(url, cell_key, cell_id, region_ids) from ONE scan of the pages
        and no fact-side shuffle — the in-session broadcast-store plan (the
        reference's own in-memory posture).

        The ``flagship_kernel`` output is marked for a lazy DISK_ONLY
        ``localCheckpoint``.  The call's one Spark job is the dictionary
        feed: ``kernel_cells`` collects the flagged batch-unique keys, and
        that job runs the kernel once and stores every checkpoint block
        (a partition a job skipped is computed by Spark's
        ``LocalRDDCheckpointData`` after it).  The dictionary is then built
        on the driver, and the final broadcast join reads the checkpoint
        blocks, so no page is geocoded twice and the kernel is the plan's
        only Python pass.  Every call runs its own job: nothing is cached
        across calls.

        Limits of the local checkpoint: it cuts the lineage, so if an
        executor holding checkpoint blocks is lost before the returned
        frame is read, reading it fails instead of recomputing.  And each
        live result holds one narrow copy of its corpus (url, cell_key,
        region_ids) on executor-local disk until Spark's ContextCleaner
        frees it, after the returned frame is garbage-collected.  The
        fault-tolerant shape for corpora at cluster scale is
        ``run_flagship_staged`` (the same kernel and dictionary feed over
        durable parquet stages)."""
        res = self.flagship_kernel(pages).localCheckpoint(
            eager=False, storageLevel=StorageLevel.DISK_ONLY
        )
        return assign_point_cell_ids(res, self.kernel_cells(res)).select(*FLAGSHIP_COLUMNS)


def pages_from_html(pages: DataFrame) -> DataFrame:
    """pages with ``text`` re-derived by EXTRACTION from the ``html``
    binary column instead of trusting the stored text — the input source
    the north-star actually describes (geocode pages from extracted page
    text).  Composable with every SpatialEngine method; the byte-identical
    invariant says the flagship over this frame equals the flagship over
    the original, which tests assert against the goldens."""
    from libosmtools_spark.text.analysis import html_text_col

    return pages.withColumn("text", html_text_col(F.col("html")))


#: format of run_flagship_staged's stage tables, part of their checkpoint
#: key: a checkpoint root whose stages were written in another format (the
#: ``page_regions`` stage before it carried ``batch_unique``, say) is
#: rebuilt instead of read back.  Change it whenever a stage's schema or
#: meaning changes.
STAGED_FORMAT = "kernel-batch-unique"


def run_flagship_staged(
    spark: SparkSession,
    fixtures_dir: str,
    ckpt_root: str,
    level: int = DEFAULT_LEVEL,
    max_level: int | None = None,
) -> DataFrame:
    """The production shape of the flagship: staged, resumable, and ONE
    scan of the fact table — the same kernel pass and dictionary feed as
    ``SpatialEngine.flagship_map``, with parquet stages in place of its
    in-session checkpoint.

    - stage ``page_regions``: ``flagship_kernel``, written to parquet
      (this IS the expensive fact pass — geocode + kernel);
    - stage ``cells``: ``kernel_cells`` over the stage-1 parquet (its
      batch-unique keys, read back from the narrow stage output and built
      into the dictionary on the driver);
    - stage ``flagship``: broadcast join of the two.

    Each stage records manifest lineage + per-partition metrics
    (run/checkpoint.py); re-running with an unchanged input fingerprint
    and ``STAGED_FORMAT`` skips straight to reading the stage parquet —
    resumable from any point (north-rule requirement)."""
    from libosmtools_spark.run.checkpoint import CheckpointManager, input_fingerprint

    pages_path = os.path.join(fixtures_dir, "pages.parquet")
    fp = f"{input_fingerprint(spark, pages_path)}:{STAGED_FORMAT}"
    rings = spark.read.parquet(os.path.join(fixtures_dir, "region_rings.parquet"))
    eng = SpatialEngine(spark, rings, level, max_level)
    cp = CheckpointManager(spark, ckpt_root)

    res = cp.stage("page_regions", fp, lambda: eng.flagship_kernel(spark.read.parquet(pages_path)))
    cells = cp.stage("cells", fp, lambda: eng.kernel_cells(res))
    return cp.stage(
        "flagship",
        fp,
        lambda: assign_point_cell_ids(res, cells).select(*FLAGSHIP_COLUMNS),
    )
