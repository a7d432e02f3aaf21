"""Broadcast-vs-shuffle crossover probe for the spatial region store
(VERDICT r7 item 4): the flagship (joins/mapjoin.py) assumes the polygon
store + cell index BROADCAST; spatial_join_adaptive with
broadcast_index=False is the big-store shuffle fallback.  This probe
measures, store size by store size, what the dispatch point costs:

- engine build wall (driver-local covering build ≤ LOCAL_INDEX_MAX_REGIONS,
  the distributed applyInPandas build past it);
- broadcast payload size of the kernel candidate tables (the dense
  full-mask rows grow as occupied-cells × ceil(regions/63) words — the
  structural reason broadcast must stop somewhere);
- query wall on the broadcast-kernel path (flagship_map) vs the
  shuffle-join path (spatial_join_adaptive with the index shuffled, plus
  the per-url region-set groupBy), same 200k-point corpus aimed at the
  store's hotspots.  The shuffle side builds no cells dictionary.

Usage: python tools/spatial_crossover_probe.py [n_regions ...]
       (default sizes 64 256 1024 4096 8192)
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_POINTS = 200_000
SEED = 7


def make_rings_parquet(n_regions: int, out_dir: str) -> str:
    """Deterministic n-region star store (64-vertex rings — the probe
    scales the STORE-SIZE axis; vertex complexity is the scaling bench's
    axis) written as a region_rings parquet Spark can read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from libosmtools_spark.data.synth import regions_frames, scaling_region_spec

    path = os.path.join(out_dir, f"probe_rings_{n_regions}.parquet")
    if not os.path.exists(path):
        _, rings = regions_frames(scaling_region_spec(n_regions, n_vertices=64))
        pq.write_table(pa.Table.from_pandas(rings, preserve_index=False), path)
    return path


def make_pages(spark, n: int):
    """(url, text) corpus whose geo: points cluster on the probe stores'
    hotspots (same centers scaling_region_spec uses) with a wide-noise
    tail, repartitioned across cores like bench.load_pages."""
    rng = np.random.default_rng(SEED)
    hot = np.array([(48.2, 11.4), (17.5, 17.5), (-20.0, 50.0)])
    which = rng.integers(0, len(hot), size=n)
    la = hot[which, 0] + rng.normal(0, 1.2, size=n)
    lo = hot[which, 1] + rng.normal(0, 1.2, size=n)
    wide = rng.random(n) < 0.1  # 10% scattered world-wide (miss the store)
    la[wide] = rng.uniform(-85, 85, size=int(wide.sum()))
    lo[wide] = rng.uniform(-179, 179, size=int(wide.sum()))
    pdf = pd.DataFrame(
        {
            "url": [f"probe://p/{i}" for i in range(n)],
            "text": [f"page body geo:{a:.6f},{b:.6f} tail" for a, b in zip(la, lo)],
        }
    )
    cores = spark.sparkContext.defaultParallelism
    return spark.createDataFrame(pdf).repartition(cores)


def bcast_payload_bytes(cand: dict) -> int:
    total = 0
    for keys, full_masks, part_payload, has_part in cand["levels"].values():
        total += keys.nbytes + full_masks.nbytes + has_part.nbytes
        for p in part_payload:
            if p:
                for _, cl, _, _ in p:
                    if cl is not None:
                        total += cl.nbytes
    return total


def shuffle_region_sets(eng, pages):
    """(url, region_ids) of the pages in at least one region, by the
    relational fallback with its cell index shuffled, not broadcast."""
    from pyspark.sql import functions as F

    from libosmtools_spark.joins.spatial import spatial_join_adaptive

    pts = eng.page_points(pages).select("url", "lat", "lon")
    hits = spatial_join_adaptive(
        pts, eng.cell_index, eng.rings_bcast, eng.level, eng.max_level, broadcast_index=False
    )
    return hits.groupBy("url").agg(F.array_sort(F.collect_set("region_id")).alias("region_ids"))


def main() -> None:
    sizes = [int(a) for a in sys.argv[1:]] or [64, 256, 1024, 4096, 8192]

    from libosmtools_spark.pipeline import SpatialEngine
    from libosmtools_spark.session import get_spark

    spark = get_spark(app="spatial-crossover-probe")
    pages = make_pages(spark, N_POINTS)
    pages.count()  # materialize the synthetic corpus outside the timers

    def best_of_2(query) -> float:
        """min wall of two runs, each timing the call and a noop write"""
        walls = []
        for _ in range(2):
            t0 = time.monotonic()
            query(pages).write.format("noop").mode("overwrite").save()
            walls.append(time.monotonic() - t0)
        return min(walls)

    print(f"{'regions':>8} {'build_s':>8} {'bcast_s':>8} {'bcast_MB':>9} "
          f"{'map_s':>7} {'shuffle_s':>9}", flush=True)
    for n in sizes:
        path = make_rings_parquet(n, "/tmp")
        rings = spark.read.parquet(path)
        t0 = time.monotonic()
        eng = SpatialEngine(spark, rings)
        eng.cell_index.count()
        t_build = time.monotonic() - t0
        t0 = time.monotonic()
        eng.candidates_bcast
        t_bcast = time.monotonic() - t0
        mb = bcast_payload_bytes(eng.candidates_bcast.value) / 1e6

        t_map = best_of_2(eng.flagship_map)
        t_shuffle = best_of_2(lambda p: shuffle_region_sets(eng, p))
        print(f"{n:>8} {t_build:>8.2f} {t_bcast:>8.2f} {mb:>9.1f} "
              f"{t_map:>7.2f} {t_shuffle:>9.2f}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
