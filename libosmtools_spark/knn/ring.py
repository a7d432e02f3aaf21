"""kNN operators (north-rule; SURVEY.md §2.4).

Two physical strategies behind one logical contract — for each query point
the k nearest *other* points under the squared-euclidean-degree metric (see
geom.columns.sq_euclid_deg_col for why not haversine), ties broken by neighbor
id ascending:

- ``knn_brute``: the reference-index posture — when the point set is
  dimension-scale (fits a broadcast), ship the whole (id, lat, lon) matrix
  to every task and answer each Arrow batch with one vectorized numpy
  distance computation.  Zero shuffles.
- ``knn_ring``: the 100 TB path — iterative cell-ring-expansion join: each
  round equi-joins unresolved queries against points on ring-r neighbor
  cell keys (pure-JVM ring generation, geom.columns.ring_keys_col), a query
  resolving when its k-th candidate distance beats the ring guarantee bound
  ``(r · cell_size)²``; stragglers escalate to a doubled radius, the final
  few fall back to a broadcast pass.

``knn_join`` dispatches on the point count: one bounded fetch
(``_fetch_points``) is both the gate and the brute side's corpus.  The
adjacency being walked
is the grid-native cell dual graph
(/root/reference/src/OsmTriangulationRegionStore.cpp:382-429).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from libosmtools_spark.geom.columns import (
    ring_keys_col,
    sq_euclid_deg_col,
    wrap_sq_euclid_deg_col,
)
from libosmtools_spark.joins.spatial import with_cell_key
from libosmtools_spark.sim.topk import topk_rows

#: per-chunk element budget for the brute distance matrix (see knn_brute).
#: Measured at 50k corpus points, 32 cores (warm JVM, min-of-2): 4M elems
#: 5.8 s, 1M 3.8 s, 256k 3.0 s, 64k 3.1 s — ~512 KB temporaries stay
#: private-cache-resident and keep scaling with cores (same shape as the
#: PIP kernel's _PIP_CHUNK_ELEMS finding)
_KNN_CHUNK_ELEMS = 262_144

#: ranking metrics: 'flat' = plain squared-degree euclid (the oracle-default
#: contract); 'wrap' = Δlon wrapped around ±180° (geodesically honest near
#: the antimeridian; same exactness guarantees).  The ring bound
#: (r·cell_size)² is valid under BOTH: cells outside the k-ring are > r
#: grid columns away even counting the wrap (ring_keys_col wraps ix).
_METRIC_COLS = {"flat": sq_euclid_deg_col, "wrap": wrap_sq_euclid_deg_col}

#: below this many points the broadcast-matrix strategy wins outright.
#: Measured on the bench corpus (by tools/knn_probe.py, since deleted;
#: recover it with ``git show 0ecc20e:tools/knn_probe.py``; 32 cores, x10
#: replica distribution, warm JVM, min-of-2, after the chunk + one-
#: checkpoint-per-round fixes): brute/ring walls 1.1/3.4 s at 20k, 2.8/4.2 s at 50k —
#: brute extrapolates quadratically past ring's near-flat wall at ~60-80k
#: points.  64k is the measured crossover on this box, NOT a universal
#: constant: on a real cluster the bound is executor-memory for the
#: broadcast matrix and per-task quadratic work, so callers at other
#: scales should re-probe.
BRUTE_THRESHOLD = 64_000

#: ring-expansion rounds before the broadcast straggler pass; the radius
#: doubles each round, so the last round reaches 8 cells out
RING_MAX_ROUNDS = 4


def _fetch_points(points: DataFrame, id_col: str, lat: str, lon: str):
    """(ids, lats, lons) SORTED by id ascending, or None past
    BRUTE_THRESHOLD points.  One bounded job: the limit is both the gate
    and the fetch (limit(N + 1) returns all M rows when M ≤ N), so the
    driver never holds more than BRUTE_THRESHOLD + 1 points."""
    pdf = points.select(id_col, lat, lon).limit(BRUTE_THRESHOLD + 1).toPandas()
    if len(pdf) > BRUTE_THRESHOLD:
        return None
    # corpus sorted by id: a STABLE argsort on distance then yields the
    # (distance asc, id asc) order with no per-row lexsort
    order0 = np.argsort(pdf[id_col].to_numpy(), kind="stable")
    ids = pdf[id_col].to_numpy()[order0]
    la = pdf[lat].to_numpy(dtype=np.float64)[order0]
    lo = pdf[lon].to_numpy(dtype=np.float64)[order0]
    return ids, la, lo


def knn_brute(points: DataFrame, corpus, id_col: str, k: int = 5, lat: str = "lat",
              lon: str = "lon", metric: str = "flat") -> DataFrame:
    """Broadcast the full point matrix (``corpus``, the ``_fetch_points``
    result); per Arrow batch one numpy distance block + linear-time top-k
    selection (sim.topk.topk_rows — exact (distance asc, id asc) order at
    O(n) per row instead of a full argsort).  Exact, shuffle-free."""
    assert metric in _METRIC_COLS
    wrap = metric == "wrap"
    bc = points.sparkSession.sparkContext.broadcast(corpus)

    id_type = dict(points.dtypes)[id_col]
    schema = f"{id_col} {id_type}, neighbor_id {id_type}, rank int"

    def part(batches):
        nids, nla, nlo = bc.value
        for b in batches:
            qids = b[id_col].to_numpy()
            qla = b[lat].to_numpy(dtype=np.float64)
            qlo = b[lon].to_numpy(dtype=np.float64)
            # chunk queries to keep the distance-matrix temporaries
            # cache-resident (several live arrays per chunk; large chunks go
            # memory-bandwidth-bound and stop scaling with cores)
            chunk = max(4, _KNN_CHUNK_ELEMS // max(len(nids), 1))
            rows = {id_col: [], "neighbor_id": [], "rank": []}
            for i in range(0, len(qids), chunk):
                qi = slice(i, i + chunk)
                dlon = np.abs(qlo[qi, None] - nlo[None, :])
                if wrap:
                    dlon = np.minimum(dlon, 360.0 - dlon)
                d2 = (qla[qi, None] - nla[None, :]) ** 2 + dlon * dlon
                d2[qids[qi, None] == nids[None, :]] = np.inf  # self-exclusion
                # corpus is id-sorted, so column order = id order and
                # topk_rows' (d2 asc, column asc) rule IS (d2 asc, id asc)
                top = topk_rows(d2, k)
                m, kk = top.shape
                rows[id_col].extend(np.repeat(qids[qi], kk).tolist())
                rows["neighbor_id"].extend(nids[top].ravel().tolist())
                rows["rank"].extend(np.tile(np.arange(1, kk + 1), m).tolist())
            yield pd.DataFrame(rows)

    return points.select(id_col, lat, lon).mapInPandas(part, schema)


def knn_ring(
    points: DataFrame,
    id_col: str,
    k: int = 5,
    level: int = 6,
    lat: str = "lat",
    lon: str = "lon",
    metric: str = "flat",
) -> DataFrame:
    """Distributed ring-expansion kNN (see module docstring)."""
    d2_col = _METRIC_COLS[metric]
    pts = with_cell_key(points.select(id_col, lat, lon), lat, lon, level).cache()
    data = pts.select(
        F.col(id_col).alias("n_id"),
        F.col(lat).alias("n_lat"),
        F.col(lon).alias("n_lon"),
        F.col("cell_key").alias("n_key"),
    ).cache()

    cell_size = 180.0 / (1 << level)
    unresolved = pts
    resolved_parts: list[DataFrame] = []
    loop_ckpts: list[DataFrame] = []
    radius = 1

    for _ in range(RING_MAX_ROUNDS):
        cand = (
            unresolved.withColumn("n_key", F.explode(ring_keys_col(F.col("cell_key"), radius)))
            .join(data, "n_key")
            .filter(F.col(id_col) != F.col("n_id"))
            .withColumn(
                "d2", d2_col(F.col(lat), F.col(lon), F.col("n_lat"), F.col("n_lon"))
            )
        )
        w = Window.partitionBy(id_col).orderBy(F.col("d2").asc(), F.col("n_id").asc())
        # ONE heavy action per round: the eager checkpoint of the round's
        # top-k rows (≤ k per unresolved query).  Everything downstream —
        # done detection, the resolved slice, the next round's unresolved
        # anti-join, and the final union — reads these materialized blocks
        # instead of re-running the ring join + window (which previously
        # executed twice per round: once for the unresolved checkpoint and
        # again when the final result was materialized).
        topk = (
            cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .localCheckpoint(eager=True)
        )
        loop_ckpts.append(topk)
        bound = (radius * cell_size) ** 2
        kth = topk.groupBy(id_col).agg(F.max("rank").alias("nk"), F.max("d2").alias("dk"))
        done_ids = kth.filter((F.col("nk") == k) & (F.col("dk") < bound)).select(id_col)
        resolved_parts.append(
            topk.join(done_ids, id_col, "left_semi").select(
                id_col, F.col("n_id").alias("neighbor_id"), "rank"
            )
        )
        # cheap: anti-join of the (cached) point table against an aggregate
        # of the materialized topk
        unresolved = unresolved.join(done_ids, id_col, "left_anti").localCheckpoint()
        loop_ckpts.append(unresolved)
        radius *= 2
        if unresolved.isEmpty():
            break

    out = resolved_parts[0]
    for p in resolved_parts[1:]:
        out = out.unionByName(p)

    if not unresolved.isEmpty():
        # stragglers (isolated points) are few by construction: broadcast
        # THEM against the distributed corpus — never collect the corpus
        cand = (
            F.broadcast(unresolved.select(id_col, lat, lon))
            .crossJoin(data.drop("n_key"))
            .filter(F.col(id_col) != F.col("n_id"))
            .withColumn(
                "d2", d2_col(F.col(lat), F.col(lon), F.col("n_lat"), F.col("n_lon"))
            )
        )
        w = Window.partitionBy(id_col).orderBy(F.col("d2").asc(), F.col("n_id").asc())
        fallback = (
            cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(id_col, F.col("n_id").alias("neighbor_id"), "rank")
        )
        out = out.unionByName(fallback)
    # materialize the (narrow: id, neighbor_id, rank) result once, then
    # release the cached point tables — repeated calls in a long-lived
    # session must not accumulate storage (this final pass only re-reads
    # the per-round topk checkpoints: cheap semi-joins, no ring re-compute)
    out = out.localCheckpoint(eager=True)
    pts.unpersist()
    data.unpersist()
    from libosmtools_spark.session import release_local_checkpoint

    for ck in loop_ckpts:  # per-round unresolved checkpoints are now dead
        release_local_checkpoint(ck)
    return out


def knn_join(
    points: DataFrame,
    id_col: str,
    k: int = 5,
    level: int = 6,
    lat: str = "lat",
    lon: str = "lon",
    metric: str = "flat",
) -> DataFrame:
    """points(id, lat, lon, …) → (id, neighbor_id, rank), rank 1..k.

    Up to BRUTE_THRESHOLD points take ``knn_brute``, fed by the same
    bounded fetch that gates it (one job); larger sets take ``knn_ring``,
    which returns an EAGERLY MATERIALIZED result (localCheckpoint) —
    release via ``session.release_local_checkpoint`` in long-lived
    sessions (one persisted block set per call otherwise).  Both paths
    return identical rows."""
    corpus = _fetch_points(points, id_col, lat, lon)
    if corpus is None:
        return knn_ring(points, id_col, k, level, lat, lon, metric)
    return knn_brute(points, corpus, id_col, k, lat, lon, metric)
