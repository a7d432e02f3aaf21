"""The flagship end-to-end pipeline (SURVEY.md §3.3 Spark lifecycle):

pages → one text-in ``mapInArrow`` kernel (geocode, cell key, region set
per page; joins/mapjoin.py) → cells dictionary over the occupied cells,
built on the driver from the kernel's task-unique keys
(cells/assign.build_cells_table_map) → broadcast cell-id join
(cells/assign.assign_point_cell_ids) → (url, cell_key, cell_id, region_ids).
One Python pass per query: the kernel is the only Python task of the plan.
``entry()`` and the ``flagship_page_cells`` query run it as
``SpatialEngine.from_fixtures(spark, fx).flagship_map(pages)``.

``SpatialEngine`` is the only code that builds a region store's artifacts
(rings lookup, adaptive cell index, candidate tables), all on the driver
from one Arrow table of the rings, whatever the store's size: a bare local
parquet store is read by the driver itself (no Spark job), any other rings
frame is collected with one job.  The ``__spark_entry__`` queries and the
tests build every store through it.
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
from libosmtools_spark.index.grid import CELL_INDEX_SCHEMA, _covering_frame, rings_lookup, rings_table
from libosmtools_spark.joins.mapjoin import TASK_UNIQUE, map_spatial_join_text

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
    built from one Arrow table of its rings (``index.grid.rings_table``: a
    bare local parquet store is read on the driver with no Spark job, any
    other frame costs one collect job): the rings lookup and the adaptive
    cell index rows covered from it on the driver, plus, each on first
    read, the candidate tables broadcast (all the flagship reads), the
    rings broadcast and the cell index frame (read only by the relational
    fallback, ``joins.spatial.spatial_join_adaptive``).
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
        # dimension-scale: the rings are read (or collected) once as Arrow,
        # the rings lookup parses them once, and the index rows are covered
        # from it on the driver (they feed the candidate tables)
        self.rings_lookup = rings_lookup(rings_table(region_rings))
        self._index_pdf = _covering_frame(self.rings_lookup, level, self.max_level)
        self._cell_index = None
        self._rings_bcast = None
        self._candidates_bcast = None

    @property
    def rings_bcast(self):
        """The rings lookup, broadcast on first read (the relational
        fallback's ray-cast reads it; the flagship does not)."""
        if self._rings_bcast is None:
            self._rings_bcast = self.spark.sparkContext.broadcast(self.rings_lookup)
        return self._rings_bcast

    @property
    def cell_index(self) -> DataFrame:
        """cell_index(cell_key, region_id, full): the driver-built index
        rows, made a cached frame on first read."""
        if self._cell_index is None:
            self._cell_index = self.spark.createDataFrame(self._index_pdf, CELL_INDEX_SCHEMA).cache()
        return self._cell_index

    @property
    def candidates_bcast(self):
        """The candidate tables (``build_cell_candidates`` over the
        driver-built index rows), broadcast lazily — all the zero-shuffle
        map join reads.  Building them runs no Spark job."""
        if self._candidates_bcast is None:
            from libosmtools_spark.joins.mapjoin import build_cell_candidates

            self._candidates_bcast = self.spark.sparkContext.broadcast(
                build_cell_candidates(self._index_pdf, self.rings_lookup)
            )
        return self._candidates_bcast

    @classmethod
    def from_fixtures(cls, spark: SparkSession, fixtures_dir: str, level: int = DEFAULT_LEVEL):
        rings = spark.read.parquet(os.path.join(fixtures_dir, "region_rings.parquet"))
        return cls(spark, rings, level)

    def flagship_kernel(self, pages: DataFrame) -> DataFrame:
        """(url, cell_key, region_ids, task_unique): the one text-in
        mapInArrow pass of the flagship (joins/mapjoin.py) — RE2 geocode,
        cell key AND region set per page inside the Arrow batch, plus the
        task-unique key flag that feeds the cells dictionary
        (``kernel_cells``)."""
        return map_spatial_join_text(pages, self.candidates_bcast, None, level=self.level)

    def kernel_cells(self, kernel_out: DataFrame) -> DataFrame:
        """(cell_key, cell_id, region_ids) dictionary over the cells a
        ``flagship_kernel`` output occupies, built on the driver from its
        task-unique keys (no distinct exchange; the driver collect holds
        Σ over tasks of distinct keys: tasks × occupied cells at most,
        whatever the Arrow batch size, and bounded only by
        ``spark.driver.maxResultSize``).  The call runs the collect job;
        the returned frame is a driver-local ``LocalRelation``."""
        return build_cells_table_map(
            kernel_out.filter(F.col(TASK_UNIQUE)).select("cell_key"),
            self.candidates_bcast,
            None,
            input_batch_unique=True,
        )

    def flagship_map(self, pages: DataFrame) -> DataFrame:
        """(url, cell_key, cell_id, region_ids) from ONE scan of the pages
        and no fact-side shuffle — the in-session broadcast-store plan (the
        reference's own in-memory posture).

        The ``flagship_kernel`` output is marked for a lazy DISK_ONLY
        ``localCheckpoint``.  The call's one Spark job is the dictionary
        feed: ``kernel_cells`` collects the flagged task-unique keys, and
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


#: format of run_flagship_staged's stage tables, part of their checkpoint
#: key: a checkpoint root whose stages were written in another format (the
#: ``page_regions`` stage with the per-batch ``batch_unique`` flag, say) is
#: rebuilt instead of read back.  Change it whenever a stage's schema or
#: meaning changes.
STAGED_FORMAT = "kernel-task-unique"


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
      task-unique keys, read back from the narrow stage output and built
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
