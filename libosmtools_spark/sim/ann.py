"""Similarity search and near-duplicate pairs over the embeddings table
(``vec_id``, ``embedding``) — training-data extension.

Every operator runs on one small core:

- ``_fetch_corpus``: the one gate-and-fetch.  A corpus of at most
  BRUTE_MAX_ROWS rows collects to the driver in ONE bounded job
  (``limit(BRUTE_MAX_ROWS + 1)``) as an id-sorted matrix; a larger one
  returns None and the caller takes its distributed path.
- ``_brute_scan``: the one broadcast cosine scan.  The corpus is divided by
  its norms once, each Arrow batch of queries by its own, and each chunk of
  queries does one matmul; a per-chunk ``emit`` turns the score block into
  top-k rows or ``a < b`` pairs at or above a threshold.
- ``_block_cogroup``: the one distributed block-nested-loop.  Ids hash into
  ``n_blocks`` blocks per side, every (query block, corpus block) pair
  cogroups on one task and scores with ``_block_cosines`` (per-block
  normalization).  Nothing is collected to the driver.
- ``bucket_pairs``: the one bucket self-join (ids sharing a long key →
  distinct ``a < b`` pairs, ids only through the shuffle).  The LSH
  operators here and the MinHash / SimHash joins in ``dedup`` use it.
- ``_score_pairs``: exact cosine per candidate pair, dot / (‖a‖·‖b‖).
- ``_topk_block`` / ``_rank_topk``: the self-excluded top-k of one score
  block, and the one window merge; both rank by cosine desc, neighbour id
  asc.

Operators: ``ann_topk`` (gated: brute or blocked), ``cosine_topk_brute``,
``cosine_topk_blocked``, ``lsh_topk`` (hyperplane LSH), ``ivf_topk``
(inverted lists, seed quantizer), ``cosine_dup_pairs`` (gated: brute or
blocked) and ``cosine_dup_pairs_blocked``.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from libosmtools_spark.sim.topk import topk_rows

ID, VEC = "vec_id", "embedding"

#: corpora up to this many rows broadcast whole (same posture as the
#: region store / knn_join's brute threshold — a dimension-scale index).
#: Measured on the bench corpus (32 cores, warm, min-of-2, with query
#: chunking): brute/blocked walls 1.2/2.6 s at 10k, 2.3/3.5-5.2 s at 20k;
#: brute grows quadratically past the blocked path's near-flat wall, so the
#: crossover sits at ~25-35k rows on this box.  Box-measured, not
#: universal: on a cluster the binding constraint is executor memory for
#: the broadcast matrix — re-probe at other scales.
BRUTE_MAX_ROWS = 24_000

#: blocks per side of the blocked paths when the gate picks them
N_BLOCKS = 8

#: per-chunk element budget for brute cosine score matrices: ~512 KB
#: temporaries stay private-cache-resident; unchunked full-batch matmuls
#: (e.g. 1250×20000 ≈ 200 MB) go memory-bandwidth-bound and fall off a
#: cliff (measured 0.9 s → 19.3 s from 10k to 20k corpus rows)
_ANN_CHUNK_ELEMS = 262_144

_PAIRS = "a long, b long"
_SCORED = "a long, b long, cosine double"


def _matrix(vectors: pd.Series) -> np.ndarray:
    return np.stack(vectors.to_numpy()).astype(np.float64)


def _row_norms(X: np.ndarray) -> np.ndarray:
    """Row L2 norms with zero rows mapped to 1, so a zero vector scores 0."""
    norms = np.linalg.norm(X, axis=1)
    norms[norms == 0] = 1.0
    return norms


def _fetch_corpus(embeddings: DataFrame):
    """(ids, M, norms) SORTED by id ascending, or None past BRUTE_MAX_ROWS.

    One bounded job: the limit is both the gate and the fetch, so the
    driver never holds more than BRUTE_MAX_ROWS + 1 rows.  Column order =
    id order, so topk_rows' (score, column asc) tie rule is exactly the
    (score, neighbour id asc) contract.  An empty corpus gives a (0, 0)
    matrix — nothing to stack, and no query rows to score against it."""
    pdf = embeddings.select(ID, VEC).limit(BRUTE_MAX_ROWS + 1).toPandas()
    if len(pdf) > BRUTE_MAX_ROWS:
        return None
    ids = pdf[ID].to_numpy()
    order = np.argsort(ids, kind="stable")
    M = _matrix(pdf[VEC].iloc[order]) if len(pdf) else np.zeros((0, 0))
    return ids[order], M, _row_norms(M)


def _brute_scan(embeddings: DataFrame, corpus, emit, schema: str) -> DataFrame:
    """The one broadcast cosine scan: the id-sorted corpus, divided by its
    norms once, is broadcast; each Arrow batch of queries is divided by its
    own norms and scored in chunks of ≤ _ANN_CHUNK_ELEMS elements, one
    matmul per chunk.  ``emit(qids, nids, S)`` turns a chunk's (queries ×
    corpus) cosine block into output rows of ``schema``."""
    ids, M, norms = corpus
    bc = embeddings.sparkSession.sparkContext.broadcast((ids, M / norms[:, None]))

    def part(it):
        nids, Mn = bc.value
        chunk = max(4, _ANN_CHUNK_ELEMS // max(len(nids), 1))
        for pdf in it:
            Q = _matrix(pdf[VEC])
            Qn = Q / _row_norms(Q)[:, None]
            all_qids = pdf[ID].to_numpy()
            for i in range(0, len(all_qids), chunk):
                qi = slice(i, i + chunk)
                yield emit(all_qids[qi], nids, Qn[qi] @ Mn.T)

    return embeddings.select(ID, VEC).mapInPandas(part, schema)


def _block_cogroup(embeddings: DataFrame, n_blocks: int, score, schema: str) -> DataFrame:
    """The one distributed block-nested-loop: ids hash into ``n_blocks``
    blocks per side, and every (qb, cb) pair cogroups on one task, which
    returns ``score(left, right)`` for the query block's (qid, qv) rows and
    the corpus block's (nid, nv) rows.  Per-task memory is two blocks of
    vectors; shuffle volume is the honest O(n·B) of exact all-pairs search.

    CRITICAL: both grouping keys must be LONG on BOTH sides.  pmod(xxhash64)
    is long but explode(sequence(int,int)) is int; cogroup with per-position
    key types (long,int) vs (int,long) compares equal inside a partition
    (UnsafeRow stores both in 8-byte slots) yet ROUTES by murmur3, which
    hashes int and long differently — so group alignment silently became
    partition-layout-dependent: exact at driver/test scale, dropping ~7/8 of
    all (qb,cb) pairs on the 8-file 20k-row bench corpus (measured: 20/64
    groups matched, AQE on or off; 64/64 with unified types)."""
    names = [field.split()[0] for field in schema.split(",")]

    def side(id_alias, vec_alias, own, other):
        return (
            embeddings.select(
                F.col(ID).alias(id_alias),
                F.col(VEC).alias(vec_alias),
                F.pmod(F.xxhash64(ID), F.lit(n_blocks)).alias(own),
            )
            .withColumn(other, F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))))
            .withColumn(other, F.col(other).cast("long"))
            .groupBy("qb", "cb")
        )

    def run(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame({n: [] for n in names})
        return score(left, right)

    return side("qid", "qv", "qb", "cb").cogroup(side("nid", "nv", "cb", "qb")).applyInPandas(
        run, schema
    )


def _block_cosines(left: pd.DataFrame, right: pd.DataFrame) -> np.ndarray:
    """(query block × corpus block) cosine matrix, each block normalized by
    its own norms, corpus columns in ``right``'s row order."""
    Q, M = _matrix(left["qv"]), _matrix(right["nv"])
    return (Q / _row_norms(Q)[:, None]) @ (M / _row_norms(M)[:, None]).T


def _topk_block(qids: np.ndarray, nids: np.ndarray, S: np.ndarray, k: int) -> pd.DataFrame:
    """(a, b, cosine, rank): the k best neighbours of each query row of the
    score block ``S`` by (cosine desc, id asc), self excluded.  ``nids``
    must be ascending: topk_rows(-S) then gives the exact order at O(n) per
    row, with no per-row lexsort."""
    S[qids[:, None] == nids[None, :]] = -np.inf  # self-exclusion
    top = topk_rows(-S, k)
    m, kk = top.shape
    sel = S[np.arange(m)[:, None], top]
    keep = (sel > -np.inf).ravel()  # the self slot ranks last; drop it
    return pd.DataFrame(
        {
            "a": np.repeat(qids, kk)[keep],
            "b": nids[top].ravel()[keep],
            "cosine": sel.ravel()[keep],
            "rank": np.tile(np.arange(1, kk + 1, dtype=np.int32), m)[keep],
        }
    )


def _pairs_emit(threshold: float):
    """Score block → its (a, b) pairs with a < b and cosine ≥ threshold:
    each unordered pair is emitted by exactly one block / batch."""

    def emit(qids, nids, S):
        qi, ci = np.nonzero((S >= threshold) & (qids[:, None] < nids[None, :]))
        return pd.DataFrame({"a": qids[qi], "b": nids[ci]})

    return emit


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """The one top-k merge: (a, b, cosine) rows → (vec_id, neighbor_id,
    rank, cosine), the k best neighbours b of each query a by cosine desc,
    neighbour id asc."""
    w = Window.partitionBy("a").orderBy(F.col("cosine").desc(), F.col("b").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("a").alias(ID), F.col("b").alias("neighbor_id"), "rank", "cosine")
    )


def bucket_pairs(rows: DataFrame) -> DataFrame:
    """The one bucket self-join: ``rows`` of (id, key) — two columns, the
    id first — → distinct (a, b) id pairs, a < b, that share a key.  Only
    ids and keys ride the shuffle; both sides read the same plan, so the
    two key exchanges canonicalize equal and ReuseExchange ships ``rows``
    through the shuffle once."""
    ident, key = rows.columns
    x = rows.select(F.col(ident).alias("a"), key)
    y = rows.select(F.col(ident).alias("b"), key)
    return x.join(y, key).filter(F.col("a") < F.col("b")).select("a", "b").distinct()


def _score_pairs(embeddings: DataFrame, pairs: DataFrame) -> DataFrame:
    """pairs(a, b) → + cosine = (va·vb row-sum) / (‖va‖·‖vb‖), both norms
    zero-guarded — the same arithmetic on both paths, and symmetric in a
    and b (the products commute, the sum order is the same).

    A corpus that ``_fetch_corpus`` admits ships ONCE as an id-sorted
    matrix and each pair batch GATHERS its rows — no vector join, no
    per-pair np.stack, and the pair shuffle carries ids only.  Past that
    bound the two vector joins + pair UDF remain."""
    corpus = _fetch_corpus(embeddings)
    if corpus is not None:
        # the returned frame is LAZY, so this broadcast cannot be
        # unpersisted here; the session's periodic ContextCleaner GC
        # (session.py) reclaims it once the caller drops the result
        bc = embeddings.sparkSession.sparkContext.broadcast(corpus)

        def score(it):
            sids, SM, norms = bc.value
            for pdf in it:
                ai = np.searchsorted(sids, pdf["a"].to_numpy())
                bi = np.searchsorted(sids, pdf["b"].to_numpy())
                cos = (SM[ai] * SM[bi]).sum(axis=1) / (norms[ai] * norms[bi])
                yield pd.DataFrame({"a": pdf["a"], "b": pdf["b"], "cosine": cos})

        return pairs.mapInPandas(score, _SCORED)

    qv = embeddings.select(F.col(ID).alias("a"), F.col(VEC).alias("qv"))
    nv = embeddings.select(F.col(ID).alias("b"), F.col(VEC).alias("nv"))

    @F.pandas_udf(T.DoubleType())
    def cos(a: pd.Series, c: pd.Series) -> pd.Series:
        A, C = _matrix(a), _matrix(c)
        return pd.Series((A * C).sum(axis=1) / (_row_norms(A) * _row_norms(C)))

    joined = pairs.join(qv, "a").join(nv, "b")
    return joined.withColumn("cosine", cos(F.col("qv"), F.col("nv"))).drop("qv", "nv")


# ---------------------------------------------------------------------------
# exact top-k
# ---------------------------------------------------------------------------

def ann_topk(embeddings: DataFrame, k: int = 5) -> DataFrame:
    """Exact cosine top-k (vec_id, neighbor_id, rank) with count-gated
    dispatch: a corpus of at most BRUTE_MAX_ROWS rows takes the broadcast
    matmul path (its fetch is the gate — one job), a larger one the
    distributed blocked path.  Results are identical (same cosine formula,
    same desc-cosine/asc-id tie rule)."""
    corpus = _fetch_corpus(embeddings)
    if corpus is None:
        return cosine_topk_blocked(embeddings, k)
    return _brute_topk(embeddings, corpus, k)


def cosine_topk_brute(embeddings: DataFrame, k: int = 5) -> DataFrame:
    """(vec_id, neighbor_id, rank): exact top-k by cosine, ties by
    neighbour id, against a broadcast corpus matrix — one matmul per chunk
    of each Arrow batch of queries.  Refuses corpora past BRUTE_MAX_ROWS
    (bounded fetch); use ann_topk or cosine_topk_blocked for those."""
    corpus = _fetch_corpus(embeddings)
    if corpus is None:
        raise ValueError(
            f"cosine_topk_brute: corpus has more than {BRUTE_MAX_ROWS} rows; "
            "use ann_topk (auto-dispatch) or cosine_topk_blocked"
        )
    return _brute_topk(embeddings, corpus, k)


def _brute_topk(embeddings: DataFrame, corpus, k: int) -> DataFrame:
    def emit(qids, nids, S):
        return _topk_block(qids, nids, S, k).drop(columns="cosine")

    return _brute_scan(embeddings, corpus, emit, "a long, b long, rank int").select(
        F.col("a").alias(ID), F.col("b").alias("neighbor_id"), "rank"
    )


def cosine_topk_blocked(embeddings: DataFrame, k: int = 5, n_blocks: int = N_BLOCKS) -> DataFrame:
    """Distributed EXACT top-k cosine (vec_id, neighbor_id, rank): every
    (query block, corpus block) pair computes its partial top-k with one
    matmul, and one window merges the ``n_blocks`` partials per query.
    Nothing is collected to the driver; per-task memory is bounded by the
    block sizes, tunable independently of corpus size."""

    def partial_topk(left, right):
        # sort the corpus block by nid so topk_rows' column-order tie rule
        # is the (cosine desc, nid asc) contract (blocks arrive unordered)
        right = right.iloc[np.argsort(right["nid"].to_numpy(), kind="stable")]
        S = _block_cosines(left, right)
        out = _topk_block(left["qid"].to_numpy(), right["nid"].to_numpy(), S, k)
        return out.drop(columns="rank")

    partials = _block_cogroup(embeddings, n_blocks, partial_topk, _SCORED)
    return _rank_topk(partials, k).select(ID, "neighbor_id", "rank")


# ---------------------------------------------------------------------------
# hyperplane LSH
# ---------------------------------------------------------------------------

#: embedding quantization scale for the bucket decision (2^20): q = floor(v·2^20)
#: is exact in IEEE-754 (power-of-two multiply), and every partial sum of
#: h·q terms stays far below 2^53, so the SIGN of the dot product is
#: bit-identical in ANY engine and ANY summation order — this is what makes
#: the LSH bucketing exactly SQL-oracle-able.
LSH_QUANT = 1048576.0
#: integer hyperplane coordinate range (random ±127 projections are as good
#: as gaussian for sign-LSH, and keep the arithmetic integer-exact)
LSH_PLANE_RANGE = 127
#: seed of the deterministic hyperplanes (the SQL oracle regenerates them)
LSH_SEED = 7

#: base LSH geometry — the fixture-scale operating point (≤4096 rows):
#: 10 planes × 12 tables holds recall ≈0.94 at cosine 0.9 with ~2% of
#: all-pairs candidate volume.  The static SQL oracle replicates exactly
#: these constants, and ``auto_lsh_params`` returns exactly them for every
#: fixture-scale corpus, so auto-parameterized queries stay oracle-exact.
LSH_BASE_PLANES = 10
LSH_BASE_TABLES = 12
#: expected rows per (table, bucket): planes grow as log2(n/occ) so bucket
#: occupancy — and with it candidate pairs per row — stays ~constant as the
#: corpus grows.  Fixed planes are quadratic: measured on the 20k-vector
#: 10× bench replica, 10 planes produced 3.17M candidate pairs / 93 s wall
#: where 13 planes produce 482k pairs / 7.7 s — same corpus, same recall
#: law (tables are grown alongside, below).
LSH_TARGET_OCCUPANCY = 4
#: per-plane collision probability at the documented cos≈0.9 operating
#: point (1 - acos(0.9)/π): each added plane multiplies the per-table
#: collision probability by this, so tables must grow by its inverse per
#: plane to hold the multi-table recall curve fixed — the standard sign-LSH
#: n^ρ cost law, paid in tables instead of recall.
_LSH_P_NEAR = 0.8564
#: ceiling on auto-grown tables (cost guard; past this the recall operating
#: point drifts down and the docstring contract says so)
LSH_MAX_TABLES = 64


def auto_lsh_params(n_rows: int) -> tuple[int, int]:
    """(n_planes, n_tables) scaled to the corpus size.

    planes = max(base, ceil(log2(n / occupancy))) keeps expected bucket
    occupancy constant (candidate generation stays linear in n); tables
    grow by 1/p per added plane (p = per-plane collision probability at
    cosine 0.9) so the near-duplicate recall operating point is preserved.
    At fixture scale (n ≤ occupancy·2^base_planes = 4096) this returns
    exactly (LSH_BASE_PLANES, LSH_BASE_TABLES) — the constants the static
    SQL oracle replicates."""
    planes = LSH_BASE_PLANES
    if n_rows > LSH_TARGET_OCCUPANCY * (1 << LSH_BASE_PLANES):
        planes = math.ceil(math.log2(max(n_rows, 2) / LSH_TARGET_OCCUPANCY))
    growth = (1.0 / _LSH_P_NEAR) ** (planes - LSH_BASE_PLANES)
    return planes, min(LSH_MAX_TABLES, round(LSH_BASE_TABLES * growth))


def lsh_hyperplanes(n_tables: int, n_planes: int, dim: int) -> np.ndarray:
    """Deterministic integer hyperplanes (n_tables, n_planes, dim) in
    [-LSH_PLANE_RANGE, LSH_PLANE_RANGE] — shared by the Spark UDF and the
    DuckDB oracle generator (single definition)."""
    return (
        np.random.default_rng(LSH_SEED)
        .integers(-LSH_PLANE_RANGE, LSH_PLANE_RANGE + 1, size=(n_tables, n_planes, dim))
        .astype(np.float64)
    )


def hyperplane_buckets_udf(n_planes: int, n_tables: int):
    """vec → array of n_tables bucket ids (each from its own n_planes
    hyperplane set).  Multi-table LSH: a pair is a candidate if it collides
    in ANY table — recall improves geometrically with tables while each
    table's buckets stay small (the skew/size trade).

    The hyperplanes are generated deterministically INSIDE the UDF from the
    incoming vectors' dimension (cached per process) — no driver-side
    ``.first()`` probe, no dim parameter to thread through.  Bucket bits
    come from integer-exact quantized dot products (see LSH_QUANT)."""
    _planes_cache: dict[int, np.ndarray] = {}

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def buckets(vec: pd.Series) -> pd.Series:
        V = _matrix(vec)  # (n, dim)
        dim = V.shape[1]
        H = _planes_cache.get(dim)
        if H is None:
            H = lsh_hyperplanes(n_tables, n_planes, dim)
            _planes_cache[dim] = H
        Q = np.floor(V * LSH_QUANT)  # exact: power-of-two scale + floor
        weights = (1 << np.arange(n_planes)).astype(np.int64)
        out = np.empty((len(V), n_tables), dtype=np.int64)
        for t in range(n_tables):
            signs = (Q @ H[t].T) > 0  # integer-valued doubles: exact sums
            # offset by table so buckets never collide across tables
            out[:, t] = (signs @ weights) + t * (1 << n_planes)
        return pd.Series(out.tolist())

    return buckets


def _lsh_candidates(embeddings: DataFrame, n_planes: int, n_tables: int) -> DataFrame:
    """Distinct (a, b), a < b, colliding in any of the hyperplane tables."""
    bucket = hyperplane_buckets_udf(n_planes, n_tables)
    keyed = embeddings.select(F.col(ID), F.explode(bucket(F.col(VEC))).alias("key"))
    return bucket_pairs(keyed)


def lsh_topk(
    embeddings: DataFrame, k: int = 5, n_planes: int | None = None, n_tables: int | None = None
) -> DataFrame:
    """Approximate top-k (vec_id, neighbor_id, rank, cosine): candidates =
    pairs colliding in any of ``n_tables`` hyperplane-sign buckets, ranked
    by exact cosine.  Linear candidate generation; recall measured against
    the exact operator in tests.

    Operating regime (sign-LSH's similarity-recall curve): the defaults
    (10 planes × 12 tables) hold recall ≥ ~0.95 for genuinely NEAR
    neighbors (cosine ≥ ~0.9 — the near-duplicate retrieval the operator
    exists for) at ~2% of all-pairs candidate volume on a random corpus;
    recall for near-orthogonal "top-k" pairs (cosine ~0.4) is intentionally
    sacrificed — retrieving those needs near-quadratic candidates and is
    the exact paths' job (ann_topk dispatches there when feasible).

    Shuffle diet: the bucket self-join moves (id, bucket) rows ONLY; each
    unordered candidate pair is scored once (cosine is symmetric, see
    _score_pairs) and then emitted in both directions for the ranking.

    ``n_planes``/``n_tables`` default to auto_lsh_params(count) — constant
    bucket occupancy (linear candidates) with the recall curve held by
    table growth; at fixture scale the auto values are exactly the
    (10, 12) the static SQL oracle replicates."""
    if n_planes is None or n_tables is None:
        auto_p, auto_t = auto_lsh_params(embeddings.count())
        n_planes = auto_p if n_planes is None else n_planes
        n_tables = auto_t if n_tables is None else n_tables
    scored = _score_pairs(embeddings, _lsh_candidates(embeddings, n_planes, n_tables))
    both = F.array(
        F.struct(F.col("a"), F.col("b")),
        F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
    )
    mirrored = scored.select(F.explode(both).alias("p"), "cosine").select("p.a", "p.b", "cosine")
    return _rank_topk(mirrored, k)


# ---------------------------------------------------------------------------
# embedding-cosine near-duplicate pairs (the dedup-family member: emit the
# PAIRS above a similarity threshold, not per-query top-k).  Output carries
# ids only (no cosine column): the float is summation-order-sensitive
# across engines, the pair set is not.
# ---------------------------------------------------------------------------

def cosine_dup_pairs(embeddings: DataFrame, threshold: float = 0.45) -> DataFrame:
    """(a, b) unordered pairs with cosine(a, b) ≥ threshold — EXACT
    embedding near-dup detection, the cosine sibling of
    dedup.ngram_jaccard_pairs.  Gated like ann_topk: a corpus that
    ``_fetch_corpus`` admits takes the broadcast scan (each batch emits
    only its a < b half, so every pair materializes exactly once); a larger
    one runs cosine_dup_pairs_blocked."""
    corpus = _fetch_corpus(embeddings)
    if corpus is None:
        return cosine_dup_pairs_blocked(embeddings, threshold)
    return _brute_scan(embeddings, corpus, _pairs_emit(threshold), _PAIRS)


def cosine_dup_pairs_blocked(
    embeddings: DataFrame, threshold: float = 0.45, n_blocks: int = N_BLOCKS
) -> DataFrame:
    """cosine_dup_pairs on the distributed block-nested-loop: per-task
    memory bounded by the block sizes, nothing collected to the driver."""
    emit = _pairs_emit(threshold)

    def block_pairs(left, right):
        S = _block_cosines(left, right)
        return emit(left["qid"].to_numpy(), right["nid"].to_numpy(), S)

    return _block_cogroup(embeddings, n_blocks, block_pairs, _PAIRS)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the list-partitioned scale path
# ---------------------------------------------------------------------------

def ivf_seed_centroids(embeddings: DataFrame, n_lists: int) -> np.ndarray:
    """Deterministic coarse quantizer: the ``n_lists`` corpus vectors with
    the smallest ids, as an (n_lists, dim) float64 matrix.  No training
    step, so the operator stays deterministic and exactly SQL-oracle-able
    (``__spark_entry__._ivf_sql`` replicates the assignment)."""
    pdf = embeddings.select(ID, VEC).orderBy(ID).limit(n_lists).toPandas()
    if len(pdf) == 0:
        return np.zeros((0, 0), dtype=np.float64)
    return _matrix(pdf[VEC])


def _ivf_quantizer(centroids: np.ndarray):
    """Integer-exact assignment tables: quantized centroids (ints) and
    their norms.  Scores are dot(floor(v·2^20), floor(c·2^20)) / ‖floor(
    c·2^20)‖ — the dot is an exact int64 (< 2^53 for unit-scale
    embeddings), the norm an IEEE sqrt of an exact int, so every engine
    computes bit-identical scores in any summation order (same trick as
    the LSH buckets; see LSH_QUANT)."""
    Cq = np.floor(centroids * LSH_QUANT)
    norms = np.sqrt((Cq * Cq).sum(axis=1))
    norms[norms == 0] = 1.0
    return Cq, norms


def ivf_assign_udf(centroids: np.ndarray, n_probe: int):
    """vec → array of list ids: [own list (argmax score), …top-n_probe
    probes] — element 0 is the corpus-side assignment; the full array is
    the query-side probe set.  Ties break to the smaller list id."""
    Cq, norms = _ivf_quantizer(centroids)
    n_probe = min(n_probe, len(Cq))

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def assign(vec: pd.Series) -> pd.Series:
        Q = np.floor(_matrix(vec) * LSH_QUANT)
        S = (Q @ Cq.T) / norms[None, :]  # exact ints / exact norms
        # columns ARE list ids 0..L-1, so topk_rows' column tie rule is
        # exactly "ties break to the smaller list id"
        order = topk_rows(-S, n_probe).astype(np.int32)
        return pd.Series(list(order))

    return assign


def ivf_topk(
    embeddings: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """Approximate top-k (vec_id, neighbor_id, rank) via inverted lists:
    every corpus vector lives in exactly ONE list (its nearest centroid);
    each query probes its ``n_probe`` nearest lists and ranks the
    candidates by exact cosine.

    100 TB shape: the corpus partitions by list id (candidate volume per
    query ≈ n_probe/n_lists of the corpus — tunable recall/cost), the
    list assignment shuffle carries (id, list) rows only, and vectors
    rejoin once for scoring, exactly like lsh_topk.  Recall follows the
    probe coverage; measured against the exact operator in tests."""
    centroids = ivf_seed_centroids(embeddings, n_lists)
    if len(centroids) == 0:  # empty corpus → empty result
        return embeddings.sparkSession.createDataFrame(
            [], f"{ID} long, neighbor_id long, rank int"
        )
    assign = ivf_assign_udf(centroids, n_probe)
    assigned = embeddings.select(F.col(ID), assign(F.col(VEC)).alias("probes"))
    corpus = assigned.select(F.col(ID).alias("b"), F.element_at("probes", 1).alias("list_id"))
    queries = assigned.select(F.col(ID).alias("a"), F.explode("probes").alias("list_id"))
    # lists are disjoint per corpus vector and probes are distinct → no dup pairs
    cand = queries.join(corpus, "list_id").filter(F.col("a") != F.col("b")).select("a", "b")
    return _rank_topk(_score_pairs(embeddings, cand), k).select(ID, "neighbor_id", "rank")
