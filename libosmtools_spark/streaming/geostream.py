"""Structured-Streaming ingestion of a pages stream (north-rule batch
lineage is primary; streaming is the continuous-arrival variant of the same
flagship pipeline — geocode → cell key → region resolve → windowed
per-region counts).

The stateless stages (geocode, cell key) reuse the exact batch Columns, so
streaming and batch cannot drift.  Watermarked tumbling windows bound state
for late data.  ``drain_to_memory`` is the one synchronous driver of every
streaming query here and in ``__spark_entry__``: stage the input, read it
one file per micro-batch, drain into a memory sink, and hand the rows back
as a driver-local frame with the sink's view dropped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from libosmtools_spark.joins.spatial import geocode_pages, with_cell_key


def stream_first_event_per_user(events_stream: DataFrame):
    """Custom stateful operator (applyInPandasWithState): emit each
    user_id's FIRST event across the whole stream; later micro-batches'
    rows for a seen user are suppressed.  State = one boolean per user.

    First-seen is a STREAM-ORDER semantic; when the input stream is
    globally ordered by (ts, event_id) — the driver query stages it that
    way — the emitted row equals the relational ``row_number() OVER
    (PARTITION BY user_id ORDER BY ts, event_id) = 1`` answer, which is
    the exact-oracle contract.  A user's rows within one micro-batch may
    span several Arrow chunks, so the min is tracked across all chunks
    (chunk-order independent)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def first(key, batches, state):
        if state.exists:
            for _ in batches:
                pass
            return iter(())
        best = None
        for pdf in batches:
            if not len(pdf):
                continue
            cand = pdf.sort_values(["ts", "event_id"], kind="stable").head(1)
            if best is None or (
                tuple(cand[["ts", "event_id"]].iloc[0])
                < tuple(best[["ts", "event_id"]].iloc[0])
            ):
                best = cand
        state.update((True,))
        return iter(
            () if best is None else (best[["user_id", "ts", "event_id", "event_type"]],)
        )

    return (
        events_stream.select("user_id", "ts", "event_id", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            first,
            outputStructType=(
                "user_id bigint, ts timestamp, event_id bigint, event_type string"
            ),
            stateStructType="seen boolean",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def drain_to_memory(spark, source, build, output_mode: str, query_name: str) -> DataFrame:
    """Run ``build(stream)`` as a real streaming query and drain it
    synchronously: a parquet file source read one file per micro-batch
    (``maxFilesPerTrigger=1``), a memory sink, ``processAllAvailable``.
    Returns the drained rows as a driver-local frame; the sink's view
    ``query_name`` is dropped, so repeated drains leave nothing registered
    in the session catalog.

    ``source`` is a parquet directory, a single parquet file (copied into a
    temporary directory — the file source reads directories), or a list of
    Arrow tables staged as one file each with strictly increasing mtimes,
    so the source (oldest first) reads them in list order.  The staged
    copy is removed once the stream drains."""
    import os
    import shutil
    import tempfile
    import time

    staged = not (isinstance(source, str) and os.path.isdir(source))
    path = tempfile.mkdtemp(prefix="geostream_") if staged else source
    try:
        if staged and isinstance(source, str):
            shutil.copy(source, path)
        elif staged:
            import pyarrow.parquet as pq

            now = time.time()
            for i, tbl in enumerate(source):
                part = os.path.join(path, f"part-{i}.parquet")
                pq.write_table(tbl, part)
                os.utime(part, (now + i, now + i))
        stream = (
            spark.readStream.schema(spark.read.parquet(path).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
        )
        q = (
            build(stream).writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(query_name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        if staged:
            shutil.rmtree(path, ignore_errors=True)
    sink = spark.table(query_name)
    rows = spark.createDataFrame(sink.toArrow(), schema=sink.schema)
    spark.catalog.dropTempView(query_name)
    return rows


def stream_region_counts(
    pages_stream: DataFrame,
    candidates_bcast,
    rings_bcast,
    level: int = 6,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """pages stream → (window, region_id, n_pages): the FULL spatial join
    running continuously — the zero-shuffle broadcast-store kernel
    (joins/mapjoin.map_spatial_join) is a stateless mapInArrow, so it
    composes with Structured Streaming unchanged; the event timestamp
    rides through the kernel as an Arrow passthrough column and feeds the
    watermarked window after region explode.  Identical on a batch frame
    (stream == batch parity-tested)."""
    from libosmtools_spark.joins.mapjoin import map_spatial_join

    pts = with_cell_key(geocode_pages(pages_stream), level=level).select(
        "url", "warc_ts", "lat", "lon", "cell_key"
    )
    res = map_spatial_join(
        pts, candidates_bcast, rings_bcast, carry_cols=("warc_ts",)
    )
    rows = res.select("warc_ts", F.explode("region_ids").alias("region_id"))
    return (
        rows.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "region_id")
        .agg(F.count("*").alias("n_pages"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "region_id",
            "n_pages",
        )
    )


def run_region_stream_to_memory(spark, pages_dir: str, engine, query_name: str = "regions_stream"):
    """Drive the streaming spatial join synchronously over fixture parquet
    (memory sink; processAllAvailable) using a prebuilt SpatialEngine's
    broadcast artifacts."""
    return drain_to_memory(
        spark,
        pages_dir,
        lambda s: stream_region_counts(
            s, engine.candidates_bcast, None, level=engine.level
        ),
        "complete",
        query_name,
    )
