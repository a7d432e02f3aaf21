"""Output checks for the flagship benchmark, built from the generator's
truth and the brute-force oracles in ``synth`` — never from the engine.

Once per run the expected output of EVERY page is computed without Spark:
``cell_key`` from the truth point, the regions holding the point by
``synth.brute_page_regions``' all-pairs PIP, and ``cell_id`` from a brute
cell-centre dictionary (``synth.golden_frames``' rule: regions holding
each cell's centre, dense ids over the sorted set strings, the empty set
pinned to 0).  That table is hashed by the same Spark aggregate that
materializes each repetition (``harness.flagship_aggregate``), so every
repetition's row count, hash over every output column and hash over
``(cell_key, cell_id)`` must equal the oracle's — and hence each other.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from libosmtools_spark.data import synth
from libosmtools_spark.geom import kernels as K

LEVEL = 6
ORACLE_SCHEMA = "url string, cell_key long, cell_id int, region_ids array<int>"


def specs_from_rings(rings: pd.DataFrame) -> list:
    """region_rings rows → the ``synth`` spec list the oracles take."""
    specs = []
    for rid, grp in rings.groupby("region_id"):
        rr = []
        for _, row in grp.sort_values("ring_id").iterrows():
            pts = np.array([[p["lat"], p["lon"]] for p in row["points"]], dtype=np.float64)
            rr.append((row["ring_role"], pts))
        specs.append({"region_id": int(rid), "rings": rr})
    return specs


def brute_regions(lats: np.ndarray, lons: np.ndarray, specs: list) -> list[list[int]]:
    """``synth.brute_page_regions`` with each region's PIP restricted to the
    points inside its outer rings' latitude band (latitudes never wrap, so
    no point inside a region is skipped); same result, fewer edge tests."""
    sets = [[] for _ in range(len(lats))]
    for s in specs:
        outers = [r for role, r in s["rings"] if role == "outer"]
        inners = [r for role, r in s["rings"] if role == "inner"]
        lo = min(float(r[:, 0].min()) for r in outers)
        hi = max(float(r[:, 0].max()) for r in outers)
        idx = np.flatnonzero((lats >= lo) & (lats <= hi))
        hit = K.point_in_rings(lats[idx], lons[idx], outers, inners)
        for i in idx[hit]:
            sets[i].append(s["region_id"])
    return [sorted(s) for s in sets]


def brute_cell_dict(ukeys: np.ndarray, specs: list) -> dict:
    """cell_key → cell_id for the distinct page cells, by the golden rule."""
    clat, clon = K.cell_center(ukeys)
    sets = [",".join(map(str, s)) for s in synth.brute_page_regions(clat, clon, specs)]
    ranked = {s: r + 1 for r, s in enumerate(sorted({s for s in sets if s}))}
    return {int(k): ranked.get(s, 0) for k, s in zip(ukeys, sets)}


def oracle_frame(urls: np.ndarray, truth: np.ndarray, rings: pd.DataFrame) -> pd.DataFrame:
    """The expected flagship output ``(url, cell_key, cell_id, region_ids)``
    of every page; ``truth`` is NaN where a page has no valid geo: token."""
    specs = specs_from_rings(rings)
    la, lo = truth[:, 0], truth[:, 1]
    valid = ~np.isnan(la)
    keys = np.full(len(la), -1, dtype=np.int64)
    keys[valid] = K.cell_key(la[valid], lo[valid], LEVEL)
    cell_dict = brute_cell_dict(np.unique(keys[valid]), specs)
    regions = [[] for _ in range(len(la))]
    for i, r in zip(np.flatnonzero(valid), brute_regions(la[valid], lo[valid], specs)):
        regions[i] = r
    return pd.DataFrame(
        {
            "url": urls,
            "cell_key": pd.Series(keys, dtype="Int64").mask(~valid),
            "cell_id": np.array([cell_dict.get(int(k), 0) for k in keys], dtype=np.int32),
            "region_ids": regions,
        }
    )


def mismatches(agg: dict, want: dict) -> list[str]:
    """Every way one repetition's aggregate ``agg`` disagrees with the
    oracle's ``want`` (both from ``harness.flagship_aggregate``)."""
    bad = []
    if agg["n"] != want["n"]:
        bad.append(f"row count {agg['n']} != {want['n']}")
    if agg["h_cells"] != want["h_cells"]:
        bad.append("cell_key/cell_id hash differs from the brute cell dictionary")
    if agg["h_all"] != want["h_all"]:
        bad.append("hash over every output column differs from the brute oracle")
    return bad
