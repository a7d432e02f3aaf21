"""One-off scaling diagnosis: which component of the flagship job inflates
CPU at 16 threads?  Variants:

  jvm   — JVM-only pipeline (geocode + cell key + hash agg; no Python UDF)
  udf   — full flagship_map (baseline)
  cache — flagship_map with pts persisted (kills the double scan+regex)
  pgc   — baseline + ParallelGC

Usage: python tools/scaling_probe.py [variant ...]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

RUNNER = r"""
import sys, time, json
sys.path.insert(0, {repo!r})
variant, cpus = sys.argv[1], int(sys.argv[2])
from pyspark.sql import SparkSession, functions as F
b = (SparkSession.builder.master(f"local[{{cpus}}]").appName(f"probe-{{variant}}-{{cpus}}")
     .config("spark.sql.shuffle.partitions", str(cpus))
     .config("spark.sql.execution.arrow.maxRecordsPerBatch", "262144")
     .config("spark.driver.memory", "16g"))
if variant == "pgc":
    b = b.config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
spark = b.getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
from bench import build_engine, load_pages
def cpu_sec():
    with open("/sys/fs/cgroup/cpuacct/cpuacct.usage") as f:
        return int(f.read()) / 1e9
import __spark_entry__ as E
E._ensure_shipped(spark)
fx = {fx!r}
eng = build_engine(spark, fx, complex_regions=True)
eng.candidates_bcast
pages = load_pages(spark, fx, inflate=16)
def run_variant():
    pts = eng.page_points(pages).select("url", "lat", "lon", "cell_key")
    if variant == "jvm":
        out = pts
        return out.select(F.count("*").alias("n"),
            F.sum(F.xxhash64("url", "cell_key").cast("double")).alias("h")).collect()[0]["n"]
    if variant == "cache":
        pts = pts.persist()
        from libosmtools_spark.joins.mapjoin import map_spatial_join
        from libosmtools_spark.cells.assign import build_cells_table_map
        res = map_spatial_join(pts, eng.candidates_bcast, eng.rings_bcast)
        cells = build_cells_table_map(pts.select("cell_key"), eng.candidates_bcast, eng.rings_bcast)
        out = res.join(F.broadcast(cells.select("cell_key", "cell_id")), "cell_key", "left")
        out = out.select("url", "cell_key", F.coalesce("cell_id", F.lit(0)).alias("cell_id"), "region_ids")
    else:
        out = eng.flagship_map(pages)
    n = out.select(F.count("*").alias("n"),
        F.sum(F.xxhash64("url", "cell_key", "cell_id", F.concat_ws(",", "region_ids")).cast("double")).alias("h")).collect()[0]["n"]
    if variant == "cache":
        pts.unpersist()
    return n
run_variant()  # warm (codegen + broadcast into workers)
best = None
for _ in range(2):
    c0, t0 = cpu_sec(), time.monotonic()
    n = run_variant()
    dt, dc = time.monotonic() - t0, cpu_sec() - c0
    if best is None or dt < best[0]:
        best = (dt, dc)
print(json.dumps({{"variant": variant, "cpus": cpus, "sec": round(best[0],2), "cpu": round(best[1],1), "n": n}}))
spark.stop()
"""


def main():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    from libosmtools_spark.data.synth import ensure_fixtures

    fx = ensure_fixtures("0.1")
    variants = sys.argv[1:] or ["jvm", "udf", "cache", "pgc"]
    code = RUNNER.format(repo=repo, fx=fx)
    for v in variants:
        row = {}
        for cpus in (4, 16):
            out = subprocess.run(
                [sys.executable, "-c", code, v, str(cpus)],
                capture_output=True, text=True, timeout=900,
            )
            lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
            if not lines:
                print(v, cpus, "FAILED", out.stderr[-500:])
                continue
            row[cpus] = json.loads(lines[-1])
        if 4 in row and 16 in row:
            eff = (row[4]["sec"] / row[16]["sec"]) / 4
            infl = row[16]["cpu"] / max(row[4]["cpu"], 1e-9)
            print(json.dumps({"variant": v, "sec4": row[4]["sec"], "sec16": row[16]["sec"],
                              "cpu4": row[4]["cpu"], "cpu16": row[16]["cpu"],
                              "eff": round(eff, 3), "cpu_inflation": round(infl, 2)}), flush=True)


if __name__ == "__main__":
    main()
