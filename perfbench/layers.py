"""Per-layer measurements for the traced run, all taken from outside the
engine through its public layers:

- ``setup_layers``: the ``SpatialEngine`` build split into its steps
  (``index.grid`` rings collect and covering, ``joins.mapjoin`` candidate
  tables) plus the index shape and broadcast payload;
- ``call_layers``: the flagship's calls, each materialized alone with the
  same hash-sum, turned into self times along their nesting
  (scan < Arrow identity < kernel pass; keys pass < dictionary;
  kernel pass + dictionary < flagship);
- ``kernel_replay``: one process replays the kernel stages on the
  workload's own Arrow batches (one per input file) and counts the
  geometry work exactly;
- ``staged_layers``: ``pipeline.run_flagship_staged`` into a fresh
  checkpoint root, then again with the input unchanged.
"""

from __future__ import annotations

import glob
import json
import os
import pickle
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

from libosmtools_spark.geom import kernels as K
from libosmtools_spark.index.grid import build_adaptive_cell_index, rings_lookup
from libosmtools_spark.joins import mapjoin as M

import harness

LEVEL = 6
MAX_LEVEL = 10


def setup_layers(tracer, rings_df) -> tuple[dict, dict, dict]:
    """→ (metrics, candidate tables, rings lookup)."""
    with tracer.span("index.grid.rings_collect"):
        rings_pdf = rings_df.toPandas()
        lookup = rings_lookup(rings_pdf)
    with tracer.span("index.grid.covering"):
        cell_index = build_adaptive_cell_index(rings_df, LEVEL, MAX_LEVEL, rings_pdf=rings_pdf)
    with tracer.span("joins.mapjoin.candidates"):
        index_pdf = cell_index.toPandas()
        cand = M.build_cell_candidates(index_pdf, lookup)
    levels = cand["levels"]
    m = {
        "index.grid.rings_collect_s": tracer.durations("index.grid.rings_collect")[-1],
        "index.grid.covering_s": tracer.durations("index.grid.covering")[-1],
        "joins.mapjoin.candidates_s": tracer.durations("joins.mapjoin.candidates")[-1],
        "joins.mapjoin.broadcast_bytes": len(pickle.dumps(cand, protocol=pickle.HIGHEST_PROTOCOL)),
        "joins.mapjoin.partial_cells": sum(int(t[3].sum()) for t in levels.values()),
        "joins.mapjoin.clipped_edges": sum(int(_edges_per_cell(t[2], lookup).sum()) for t in levels.values()),
        "index.grid.rows": len(index_pdf),
    }
    row_levels = index_pdf["cell_key"].to_numpy() >> K._LEVEL_SHIFT
    for lv in range(LEVEL, MAX_LEVEL + 1):
        m[f"index.grid.rows_l{lv}"] = int((row_levels == lv).sum())
    return m, cand, lookup


def _edges_per_cell(part_payload: list, lookup: dict) -> np.ndarray:
    """Edges a point in each cell ray-casts against: the clipped edges of
    every partial candidate (whole rings when nothing was clipped)."""
    out = np.zeros(len(part_payload), dtype=np.int64)
    for i, p in enumerate(part_payload):
        if not p:
            continue
        for rid, cl, _, _ in p:
            if cl is not None:
                out[i] += len(cl)
            else:
                outers, inners = lookup[rid]
                out[i] += sum(len(r) - 1 for r in list(outers) + list(inners))
    return out


def _identity_arrow():
    # a nested function pickles by value; a module-level one would make
    # the workers import this file, which is not on their PYTHONPATH
    def identity(batches):
        yield from batches

    return identity


def call_layers(tracer, eng, pages, reps: int) -> tuple[dict, list]:
    """Each flagship call materialized alone ``reps`` times, interleaved.
    → (metrics, flagship repetition aggregates)."""
    from libosmtools_spark.cells.assign import build_cells_table_map

    pt = pages.select("url", "text")
    calls = {
        "joins.mapjoin.scan": lambda: harness.hash_sum(pt),
        "joins.mapjoin.arrow_identity": lambda: harness.hash_sum(
            pt.mapInArrow(_identity_arrow(), "url string, text string")
        ),
        "joins.mapjoin.kernel_pass": lambda: harness.hash_sum(
            M.map_spatial_join_text(pages, eng.candidates_bcast, eng.rings_bcast, level=LEVEL)
        ),
        "joins.mapjoin.keys_pass": lambda: harness.hash_sum(M.page_cell_keys_text(pages, level=LEVEL)),
        "cells.assign.dictionary": lambda: harness.hash_sum(
            build_cells_table_map(
                M.page_cell_keys_text(pages, level=LEVEL),
                eng.candidates_bcast,
                eng.rings_bcast,
                input_batch_unique=True,
            )
        ),
        "pipeline.flagship": lambda: harness.flagship_aggregate(eng.flagship_map(pages)),
    }
    results: dict[str, object] = {}
    aggs = []
    for _ in range(reps):
        for name, call in calls.items():
            with tracer.span(name):
                results[name] = call()
            if name == "pipeline.flagship":
                aggs.append(results[name])
    w = {name: statistics.median(tracer.durations(name)) for name in calls}
    m = {
        "joins.mapjoin.scan_s": w["joins.mapjoin.scan"],
        "joins.mapjoin.arrow_identity_s": w["joins.mapjoin.arrow_identity"] - w["joins.mapjoin.scan"],
        "joins.mapjoin.kernel_pass_s": w["joins.mapjoin.kernel_pass"] - w["joins.mapjoin.arrow_identity"],
        "joins.mapjoin.keys_pass_s": w["joins.mapjoin.keys_pass"],
        "joins.mapjoin.keys_pass_rows": results["joins.mapjoin.keys_pass"][0],
        "cells.assign.dictionary_s": w["cells.assign.dictionary"] - w["joins.mapjoin.keys_pass"],
        "cells.assign.distinct_cells": results["cells.assign.dictionary"][0],
        "pipeline.join_residual_s": w["pipeline.flagship"]
        - w["joins.mapjoin.kernel_pass"]
        - w["cells.assign.dictionary"],
        "pipeline.flagship_s": w["pipeline.flagship"],
    }
    return m, aggs


def kernel_replay(corpus_dir: str, cand: dict, lookup: dict) -> tuple[dict, dict]:
    """Replay geocode → keys → resolve → decode in this process on each
    input file's text column (one Arrow batch per file, as the scan splits
    it), timing each stage's CPU and counting its work exactly.
    → (metrics, CPU seconds per stage)."""
    tabs = cand["levels"]
    index_levels = sorted(tabs)
    n_words = cand["n_words"]
    epc = {lv: _edges_per_cell(tabs[lv][2], lookup) for lv in index_levels}
    cpu = dict.fromkeys(("geocode", "keys", "resolve", "decode"), 0.0)
    cnt = dict.fromkeys(("geocode_misses", "definite_points", "raycast_points", "edge_tests", "distinct_masks"), 0)
    pages = 0
    for path in sorted(glob.glob(os.path.join(corpus_dir, "pages.parquet", "*.parquet"))):
        text = pq.read_table(path, columns=["text"]).column("text").combine_chunks()
        pages += len(text)
        t0 = time.process_time()
        la, lo = M._geocode_batch(text)
        t1 = time.process_time()
        keys = M._keys_of(la, lo, LEVEL)
        t2 = time.process_time()
        masks = M._resolve_masks(la, lo, keys, tabs, lookup, index_levels, n_words)
        t3 = time.process_time()
        M._masks_to_region_lists(masks)
        t4 = time.process_time()
        cpu["geocode"] += t1 - t0
        cpu["keys"] += t2 - t1
        cpu["resolve"] += t3 - t2
        cpu["decode"] += t4 - t3

        valid = keys >= 0
        cnt["geocode_misses"] += int((~valid).sum())
        vla, vlo = la[valid], lo[valid]
        definite = np.zeros(len(vla), dtype=bool)
        raycast = np.zeros(len(vla), dtype=bool)
        probe = K.cell_keys_multi(vla, vlo, index_levels) if len(vla) else {}
        for lv in index_levels:
            lkeys, full_masks, _, has_part = tabs[lv]
            if not len(lkeys) or not len(vla):
                continue
            pos = np.minimum(np.searchsorted(lkeys, probe[lv]), len(lkeys) - 1)
            hit = np.flatnonzero(lkeys[pos] == probe[lv])
            hpos = pos[hit]
            definite[hit[full_masks[hpos].any(axis=1)]] = True
            pm = has_part[hpos]
            raycast[hit[pm]] = True
            cnt["edge_tests"] += int(epc[lv][hpos[pm]].sum())
        cnt["definite_points"] += int(definite.sum())
        cnt["raycast_points"] += int(raycast.sum())
        cnt["distinct_masks"] += len(np.unique(masks, axis=0))
    m = {f"joins.mapjoin.{k}_cpu_s_per_mpage": v * 1e6 / pages for k, v in cpu.items()}
    m.update({f"joins.mapjoin.{k}": v for k, v in cnt.items()})
    return m, cpu


def _tree_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(root) for f in files
    )


def staged_layers(tracer, spark, corpus_dir: str, ckpt_root: str, n_pages: int) -> tuple[dict, list]:
    """Staged flagship into a fresh checkpoint root, then a resume call
    with the input unchanged.  → (metrics, both calls' aggregates)."""
    from libosmtools_spark.pipeline import run_flagship_staged

    aggs = []
    with tracer.span("run.checkpoint.staged"):
        aggs.append(
            harness.flagship_aggregate(run_flagship_staged(spark, corpus_dir, ckpt_root))
        )
    with tracer.span("run.checkpoint.resume"):
        aggs.append(
            harness.flagship_aggregate(run_flagship_staged(spark, corpus_dir, ckpt_root))
        )
    walls = {}
    with open(os.path.join(ckpt_root, "manifest.jsonl")) as f:
        for line in f:
            rec = json.loads(line)
            walls[rec["stage"]] = rec["wall_sec"]
    written = _tree_bytes(ckpt_root)
    m = {
        "run.checkpoint.stage_page_regions_s": walls["page_regions"],
        "run.checkpoint.stage_cells_s": walls["cells"],
        "run.checkpoint.stage_flagship_s": walls["flagship"],
        "run.checkpoint.bytes_written": written,
        "run.checkpoint.stage_bytes_per_page": written / n_pages,
        "run.checkpoint.staged_s": tracer.durations("run.checkpoint.staged")[-1],
        "run.checkpoint.resume_s": tracer.durations("run.checkpoint.resume")[-1],
    }
    return m, aggs
