"""Dump .explain("formatted") for every benched query into a directory
(one file per query) — the judge-facing before/after plan evidence for
optimization rounds (plans/rNN/<query>_{before,after}.txt).

Usage: python tools/dump_query_plans.py <out_dir> <suffix> [sf_dir]
  e.g. python tools/dump_query_plans.py plans/r08 before /root/testdata/sf0.1
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    out_dir = sys.argv[1]
    suffix = sys.argv[2]
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    os.makedirs(out_dir, exist_ok=True)

    import bench
    import __spark_entry__ as entry
    from libosmtools_spark.data.synth import ensure_fixtures
    from libosmtools_spark.session import get_spark

    spark = get_spark(app="dump-plans", cpus=8, shuffle_partitions=8)
    qs = entry.queries()
    for name in bench.BENCH_PICKS:
        try:
            p = plan_of(qs[name](spark, sf_dir))
        except Exception as e:  # noqa: BLE001 — record the failure, keep dumping
            p = f"PLAN DUMP FAILED: {e}\n"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(p)
        print(f"dumped {name}", flush=True)

    # the headline flagship (engine path, not a registry query)
    fx = ensure_fixtures("0.1")
    from libosmtools_spark.pipeline import SpatialEngine

    eng = SpatialEngine.from_fixtures(spark, fx)
    pages = spark.read.parquet(os.path.join(fx, "pages.parquet"))
    # flagship_map runs its kernel pass when called (dictionary-feed collect), so
    # its plan costs one full job; the kernel's own plan is dumped first
    with open(os.path.join(out_dir, f"flagship_{suffix}.txt"), "w") as f:
        f.write("== kernel pass (run by the dictionary-feed collect) ==\n")
        f.write(plan_of(eng.flagship_kernel(pages)))
        f.write("\n== frame flagship_map returns (over the checkpoint) ==\n")
        f.write(plan_of(eng.flagship_map(pages)))
    print("dumped flagship", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
