"""Dump physical plans for the headline queries into PLANS.md and verify
the plan-shape invariants the engine is designed around:

- the cell-index join is a BroadcastHashJoin (no shuffle on the fact side);
- parquet scans show pushed filters / pruned schemas where expected;
- relational stages sit inside WholeStageCodegen spans;
- the zero-shuffle flagship has NO Exchange at all before the final agg;
- one flagship_map call scans the pages parquet once, across all its jobs
  (the dictionary-feed collect that runs the kernel into its checkpoint,
  and the frame it returns);
- one flagship_map call runs one Python pass (MapInArrow) across all its
  jobs: the kernel; the cells dictionary is built on the driver;
- the relational fallback (spatial_join_adaptive) evaluates its PIP UDF
  once, and with broadcast_index=False its probe join really shuffles.

Usage: python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def plans_per_call(spark, call) -> list[str]:
    """The physical plans of every SQL execution that ``call()`` starts,
    including materializing the frame it returns (a noop write)."""
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        it = store.executionsList().iterator()
        while it.hasNext():
            yield it.next()

    seen = {e.executionId() for e in executions()}
    call().write.format("noop").mode("overwrite").save()
    return [e.physicalPlanDescription() for e in executions() if e.executionId() not in seen]


def scans_per_call(spark, call, path: str) -> int:
    """Parquet scans of ``path`` across ``plans_per_call``."""
    needle = f"{os.path.abspath(path)}]"
    return sum(p.count(needle) for p in plans_per_call(spark, call))


def python_passes_per_call(spark, call) -> int:
    """MapInArrow nodes (Python passes over rows) across
    ``plans_per_call``; an adaptive plan counts its final plan only."""
    return sum(
        len(re.findall(r"MapInArrow \(\d+\)", p.split("== Initial Plan ==")[0]))
        for p in plans_per_call(spark, call)
    )


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    import __spark_entry__ as entry
    from libosmtools_spark.data.synth import ensure_fixtures
    from libosmtools_spark.joins.spatial import geocode_pages, spatial_join_adaptive, with_cell_key
    from libosmtools_spark.pipeline import SpatialEngine
    from libosmtools_spark.session import get_spark

    # AQE off for the DUMP only: a non-final AdaptiveSparkPlan hides the
    # whole-stage-codegen annotations explain() would otherwise show (the
    # engine itself runs with AQE on; this tool just reports plan shape)
    spark = get_spark(
        app="plans", cpus=8, shuffle_partitions=8,
        extra={"spark.sql.adaptive.enabled": "false"},
    )
    fx = ensure_fixtures("0.001")
    eng = SpatialEngine.from_fixtures(spark, fx)
    pages_path = os.path.join(fx, "pages.parquet")
    pages = spark.read.parquet(pages_path)

    sections: list[tuple[str, str, list[str]]] = []

    p = plan_of(eng.flagship_map(pages))
    sections.append((
        "flagship_map (zero-shuffle broadcast-store plan: kernel checkpoint ⋈ driver-built dictionary)",
        p,
        ["Scan ExistingRDD", "BroadcastHashJoin", "LocalTableScan"],
    ))

    kernel_plan = plan_of(eng.flagship_kernel(pages))
    sections.append((
        "flagship_map kernel pass (run once per call, by the dictionary-feed collect)",
        kernel_plan,
        ["MapInArrow"],
    ))

    pts = with_cell_key(geocode_pages(pages), level=eng.level).select("url", "lat", "lon")
    fallback_plan = plan_of(spatial_join_adaptive(
        pts, eng.cell_index, eng.rings_bcast, eng.level, eng.max_level, broadcast_index=False
    ))
    sections.append((
        "spatial_join_adaptive, broadcast_index=False (relational fallback, shuffled index)",
        fallback_plan,
        ["ShuffledHashJoin", "ArrowEvalPython"],
    ))

    qs = entry.queries()
    for name in ("pip_region_rows", "pip_antimeridian", "cell_assign", "knn",
                 "knn_wrap", "tile_counts", "dedup_exact", "token_count",
                 "events_window"):
        p = plan_of(qs[name](spark, sf_dir))
        sections.append((f"query: {name}", p, []))

    checks = []
    fm = sections[0][1]
    # the PAGES (fact) path must be shuffle-free: inspect the kernel pass
    # before the dimension-side cells dictionary is attached
    fact_shuffles = kernel_plan.count("Exchange") - kernel_plan.count("BroadcastExchange")
    checks.append(f"- fact-side shuffles in the zero-shuffle map join: {fact_shuffles} "
                  f"{'✓' if fact_shuffles == 0 else '✗ UNEXPECTED'}")
    checks.append(f"- flagship_map dimension join is BroadcastHashJoin: "
                  f"{'✓' if 'BroadcastHashJoin' in fm else '✗'}")
    scans = scans_per_call(spark, lambda: eng.flagship_map(pages), pages_path)
    checks.append(f"- pages parquet scans in one flagship_map call (all its jobs): {scans} "
                  f"{'✓' if scans == 1 else '✗ UNEXPECTED'}")
    passes = python_passes_per_call(spark, lambda: eng.flagship_map(pages))
    checks.append(f"- Python passes (MapInArrow) in one flagship_map call (all its jobs): {passes} "
                  f"{'✓' if passes == 1 else '✗ UNEXPECTED'}")
    pips = len(re.findall(r"^\(\d+\) ArrowEvalPython", fallback_plan, re.M))
    checks.append(f"- PIP UDF evaluations (ArrowEvalPython) in spatial_join_adaptive: {pips} "
                  f"{'✓' if pips == 1 else '✗ UNEXPECTED'}")
    bhj = fallback_plan.count("BroadcastHashJoin")
    checks.append(f"- BroadcastHashJoins in spatial_join_adaptive(broadcast_index=False): {bhj} "
                  f"{'✓' if bhj == 0 and 'ShuffledHashJoin' in fallback_plan else '✗ UNEXPECTED'}")
    scan_q = plan_of(spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
                     .select("doc_id").filter("doc_id > 100"))
    checks.append(f"- parquet pushdown visible (PushedFilters): "
                  f"{'✓' if 'PushedFilters' in scan_q and 'GreaterThan(doc_id,100)' in scan_q else '✗'}")
    wsc = sum(1 for _, p, _ in sections if "codegen id" in p)
    checks.append(f"- sections with whole-stage-codegen spans (codegen id): {wsc}/{len(sections)}")

    out = ["# PLANS — physical plans of the headline queries\n",
           "Verification of the plan-shape invariants (see tools/dump_plans.py):\n"]
    out.extend(checks)
    out.append("")
    for title, plan, musts in sections:
        missing = [m for m in musts if m not in plan]
        flag = "" if not missing else f"  (MISSING: {missing})"
        out.append(f"\n## {title}{flag}\n")
        out.append("```")
        out.append(plan.strip())
        out.append("```")

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("\n".join(checks))
    spark.stop()


if __name__ == "__main__":
    main()
