"""Deduplication operators over the documents table (``doc_id``,
``text``) — training-data-pipeline extensions.

- exact: hash-groupBy on text (canonical = min doc_id) — plain relational.
- n-gram Jaccard: exact pairwise Jaccard over word-3-gram shingle sets via
  explode + self-join — fully relational, SQL-oracle-able.
- MinHash + LSH: shingle → 64-bit minhash signature → banded bucket join —
  the scale path (candidate generation is linear in docs, not quadratic);
  candidates are verified with exact Jaccard computed PER CANDIDATE so the
  output contract equals the exact operator's above the threshold (modulo
  LSH recall, bounded by the band parameters).
- SimHash: 60-bit near-dup fingerprint (pure JVM Columns) with a
  Hamming-bucket pair join whose recall is exactly 1 for
  max_hamming < n_bands (pigeonhole) — SQL-oracle-able end to end.

Both banded joins key each (band, slice) on ONE xxhash64 long and run the
shared bucket self-join (``sim.ann.bucket_pairs``) over a banded frame
checkpointed once.  Minhash permutations are vectorized numpy inside Arrow
batches — deterministic across runs and machines (fixed seed, uint64
arithmetic); simhash is md5-based so Spark and DuckDB compute identical
fingerprints.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from libosmtools_spark.session import release_local_checkpoint
from libosmtools_spark.sim.ann import bucket_pairs
from libosmtools_spark.text.analysis import shingle_pos_rows

ID, TEXT = "doc_id", "text"
#: word shingle size of every operator here (the SQL oracles use 3-grams)
SHINGLE_K = 3

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(docs: DataFrame, verify: bool = False) -> DataFrame:
    """(doc_id, canonical_id, group_size): canonical = min id per identical
    text.  A doc is a duplicate iff doc_id != canonical_id.

    Shuffle diet (100 TB): the group/join key is ``(xxhash64(text),
    length(text))`` — the multi-KB text column itself never rides a
    shuffle; only id + 8-byte hash + length move.  xxhash64 collisions at
    equal length are ~2^-64 per pair (accepted, documented).

    ``verify=True`` removes even that residual: rows of multi-member hash
    groups are re-grouped on the text itself, so a colliding pair of
    distinct texts splits back apart.  Only members of duplicate groups
    pay the text shuffle — singletons (the bulk of a web corpus) stay on
    the 16-byte key path."""
    keyed = docs.select(
        F.col(ID), F.xxhash64(F.col(TEXT)).alias("_h"), F.length(F.col(TEXT)).alias("_len")
    )
    groups = keyed.groupBy("_h", "_len").agg(
        F.min(ID).alias("canonical_id"), F.count("*").alias("group_size")
    )
    out = keyed.join(groups, ["_h", "_len"]).select(ID, "canonical_id", "group_size")
    if not verify:
        return out
    multi = groups.filter(F.col("group_size") > 1).select("_h", "_len")
    tagged = docs.select(
        F.col(ID),
        F.col(TEXT).alias("_t"),
        F.xxhash64(F.col(TEXT)).alias("_h"),
        F.length(F.col(TEXT)).alias("_len"),
    ).join(multi, ["_h", "_len"], "left_semi")
    true_groups = tagged.groupBy("_h", "_len", "_t").agg(
        F.min(ID).alias("canonical_id"), F.count("*").alias("group_size")
    )
    resolved = tagged.join(true_groups, ["_h", "_len", "_t"]).select(
        ID, "canonical_id", "group_size"
    )
    singles = out.join(tagged.select(ID), ID, "left_anti")
    return singles.unionByName(resolved)


# ---------------------------------------------------------------------------
# exact n-gram Jaccard pairs (the oracle-able quadratic baseline)
# ---------------------------------------------------------------------------

def _jaccard_col() -> "F.Column":
    """|∩| / |∪| from (n_inter, n_a, n_b) — one integer-exact division."""
    return F.col("n_inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_inter")
    ).cast("double")


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """(a, b, jaccard) for unordered pairs with shingle-set Jaccard ≥
    threshold; jaccard = |∩| / |∪| (single integer division, reproducible).

    Size-bound prefilter: jaccard(a,b) ≤ min(|a|,|b|) / max(|a|,|b|), so
    pairs failing ``min ≥ t·max`` are dropped INSIDE the shingle self-join
    (before the pair shuffle/groupBy) without changing the output — the
    standard length filter of prefix-filtering similarity joins.

    Returns an EAGERLY MATERIALIZED result (localCheckpoint): the job runs
    at call time and the result blocks stay persisted until the caller
    passes the returned frame to ``session.release_local_checkpoint`` —
    long-lived sessions issuing many calls must release, or blocks
    accumulate one per call."""
    sh = shingle_pos_rows(docs, SHINGLE_K).select(ID, "shingle").distinct().cache()
    sizes = sh.groupBy(ID).agg(F.count("*").alias("n_sh"))
    a = sh.join(sizes, ID).select(F.col(ID).alias("a"), F.col("n_sh").alias("n_a"), "shingle")
    b = sh.join(sizes, ID).select(F.col(ID).alias("b"), F.col("n_sh").alias("n_b"), "shingle")
    size_ok = F.least("n_a", "n_b").cast("double") >= F.lit(threshold) * F.greatest(
        "n_a", "n_b"
    ).cast("double")
    inter = (
        a.join(b, "shingle")
        .filter((F.col("a") < F.col("b")) & size_ok)
        .groupBy("a", "b", "n_a", "n_b")
        .agg(F.count("*").alias("n_inter"))
    )
    out = (
        inter.withColumn("jaccard", _jaccard_col())
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )
    # materialize the (small: pairs above threshold) result, release the
    # cached shingle table — no storage growth across repeated calls
    out = out.localCheckpoint(eager=True)
    sh.unpersist()
    return out


# ---------------------------------------------------------------------------
# MinHash + LSH (the 100 TB path)
# ---------------------------------------------------------------------------

_MERSENNE = np.uint64((1 << 61) - 1)
#: seed of the minhash permutation coefficients
MINHASH_SEED = 42

#: gather-verification bounds, read at call time: at most this many docs
#: and this many TOTAL shingle hashes collected to the driver (~8 bytes
#: each: 50M ≈ 400 MB flat buffer — comfortable on the 48g driver, far
#: past every bench tier); larger corpora verify on the fully relational
#: path
VERIFY_GATHER_MAX_DOCS = 200_000
VERIFY_GATHER_MAX_SHINGLES = 50_000_000
#: the relational verification restricts the shingle rows to candidate
#: docs (one extra semi-join) only past this many docs
CANDIDATE_FILTER_MIN_DOCS = 20_000


def _mod_mersenne(x: np.ndarray) -> np.ndarray:
    """x mod (2^61 - 1) for uint64 arrays via shift/mask folding — exactly
    the same value as ``x % _MERSENNE`` (x ≡ (x >> 61) + (x & M) mod M, and
    the folded sum is < 2M so one conditional subtract finishes), ~4× the
    throughput of the hardware 64-bit modulo numpy emits for ``%``.  The
    signature bits are unchanged — this is pure arithmetic strength
    reduction (guide §1.2 per-task work)."""
    r = (x >> np.uint64(61)) + (x & _MERSENNE)
    return np.where(r >= _MERSENNE, r - _MERSENNE, r)


def minhash_signature_udf(num_perm: int = 64):
    """doc's hashed-shingle array<long> → minhash signature array<long>
    (num_perm universal-hash permutations h_i(x) = (a_i x + b_i) mod p).

    Vectorized ACROSS docs: each Arrow batch concatenates its docs' hash
    arrays, permutes the flat uint64 array once, and splits per-doc minima
    out with np.minimum.reduceat — no per-doc numpy dispatch and no string
    traffic (shingles arrive as xxhash64 longs)."""
    rng = np.random.default_rng(MINHASH_SEED)
    A = rng.integers(1, int(_MERSENNE), size=num_perm, dtype=np.uint64)
    B = rng.integers(0, int(_MERSENNE), size=num_perm, dtype=np.uint64)
    flat_chunk = 200_000  # bounds the (num_perm, chunk) uint64 temporaries

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig(shingle_hashes: pd.Series) -> pd.Series:
        out: list = [None] * len(shingle_hashes)
        idxs, arrs = [], []
        for i, arr in enumerate(shingle_hashes):
            if arr is None or len(arr) == 0:
                out[i] = [0] * num_perm
            else:
                # xxhash64 longs reinterpreted as uint64 (two's complement view)
                idxs.append(i)
                arrs.append(np.asarray(arr, dtype=np.int64).view(np.uint64))
        j = 0
        while j < len(idxs):
            k, tot = j, 0
            while k < len(idxs) and (tot == 0 or tot + len(arrs[k]) <= flat_chunk):
                tot += len(arrs[k])
                k += 1
            flat = np.concatenate(arrs[j:k])
            hv = _mod_mersenne(flat)
            mh_all = _mod_mersenne(_mod_mersenne(A[:, None] * hv[None, :]) + B[:, None])
            offs = np.cumsum([0] + [len(a) for a in arrs[j:k]])[:-1]
            mins = np.minimum.reduceat(mh_all, offs, axis=1).astype(np.int64)
            for d in range(k - j):
                out[idxs[j + d]] = mins[:, d].tolist()
            j = k
        return pd.Series(out)

    return sig


def minhash_lsh_pairs(
    docs: DataFrame, threshold: float = 0.5, num_perm: int = 64, bands: int = 16
) -> DataFrame:
    """LSH candidate pairs verified by exact Jaccard ≥ threshold —
    CANDIDATE-ONLY verification: the exact check joins the (linear-size)
    candidate pair list back to the per-doc shingle sets and computes
    |∩|/|∪| per candidate.  The full quadratic shingle self-join is never
    built — total cost is O(docs) candidate generation + O(candidates ×
    avg shingles) verification, which is the whole point of LSH.

    bands×rows = num_perm; with 16 bands of 4 rows the match probability at
    j=0.5 is 1-(1-0.5^4)^16 ≈ 0.64 per band set — tune per corpus.
    Returns an EAGERLY MATERIALIZED result (localCheckpoint): the job runs
    at call time and the result blocks stay persisted until the caller
    passes the returned frame to ``session.release_local_checkpoint`` —
    long-lived sessions issuing many calls must release, or blocks
    accumulate one per call."""
    assert num_perm % bands == 0
    rows = num_perm // bands
    sig = minhash_signature_udf(num_perm)
    # shingle hashing runs as lead-window rows + xxhash64 + collect_list —
    # whole-stage codegen end to end, measured ~6× the interpreted
    # nested-HOF transform (3.8 s → 0.7 s for 2.6M shingles at the 10×
    # tier); evaluated exactly ONCE into a checkpointed (id, array<long>)
    # table (~16B/shingle) feeding both the signature stage and the
    # verification.  Documents with fewer than k tokens drop out here
    # rather than carrying an all-sentinel signature — sentinel rows would
    # form ONE hot bucket of every shingle-less doc (quadratic candidates,
    # all discarded by verification); the output is identical without them.
    #
    # sh is the SORTED-UNIQUE shingle-hash set per doc, built inside the
    # JVM aggregate: the minhash signature is a min per permutation, so
    # dropping duplicates and reordering cannot change a single signature
    # bit (pinned in test_minhash_hashed_set_form_signature_parity), while
    # the gather verification concatenates the lists as-is and the
    # relational path's explode emits unique rows without a distinct.
    hashed = (
        shingle_pos_rows(docs, SHINGLE_K)
        .withColumn("h", F.xxhash64("shingle"))
        .groupBy(ID)
        .agg(F.array_sort(F.array_distinct(F.collect_list("h"))).alias("sh"))
        .localCheckpoint(eager=True)
    )
    band_cols = [
        F.struct(F.lit(b).alias("band"), F.slice("sig", b * rows + 1, rows).alias("key"))
        for b in range(bands)
    ]
    # The join key is ONE long — xxhash64 over (band, row-slice): 16 B/row
    # through the exchange and a single-column long join (measured at the
    # 10× tier: candidate join 2.76 → 1.47 s against the (band,
    # string-cast slice) key, identical candidate set).  A cross-(band,key)
    # hash collision can only ADD a candidate pair, and every candidate
    # passes exact-Jaccard verification below, so the output is a superset
    # of the unhashed key's (collisions are ~2^-64 per bucket pair).
    # Checkpointed ONCE: both self-join sides read the same materialized
    # rows instead of re-running the signature pipeline per side.
    banded = (
        hashed.withColumn("sig", sig(F.col("sh")))
        .select(ID, F.explode(F.array(*band_cols)).alias("bk"))
        .select(ID, F.xxhash64(F.col("bk.band"), F.col("bk.key")).alias("key"))
        .localCheckpoint(eager=True)
    )
    cand = bucket_pairs(banded)

    # Exact Jaccard for the CANDIDATES only — shingles as 64-bit xxhash64
    # values, not strings: the counts are identical unless two distinct
    # shingles of one doc pair collide (~2^-64 per pair — accepted on the
    # scale path; ngram_jaccard_pairs remains the string-exact ground
    # truth).  The gather gate needs integral ids (the broadcast slice map
    # and the verify schema are int64) and bounds BOTH the doc count and
    # the total shingle volume (the driver collect scales with
    # Σ|shingles|); one aggregation job yields both numbers.
    id_integral = dict(hashed.dtypes)[ID] in ("int", "bigint", "smallint", "tinyint")
    agg_row = hashed.agg(F.count("*").alias("n"), F.sum(F.size("sh")).alias("n_sh")).collect()[0]
    n_docs = int(agg_row["n"])
    if (
        id_integral
        and n_docs <= VERIFY_GATHER_MAX_DOCS
        and int(agg_row["n_sh"] or 0) <= VERIFY_GATHER_MAX_SHINGLES
    ):
        out = _verify_gather(hashed, cand, threshold)
    else:
        out = _verify_relational(hashed, cand, n_docs, threshold)
    release_local_checkpoint(banded)
    release_local_checkpoint(hashed)
    return out


def _verify_gather(hashed: DataFrame, cand: DataFrame, threshold: float) -> DataFrame:
    """Broadcast-gather verification: the per-doc sorted shingle-hash sets
    ship once as ONE flat int64 array + a doc→slice map, and one
    mapInPandas over the candidate pairs computes |∩|/|∪| with numpy set
    intersection — same integers, same single IEEE division as the
    relational path, in one narrow stage (the explode/4-join pipeline it
    replaces was the bulk of the operator's 13.6 s wall at the 10× tier).
    Returns the eager (a, b, jaccard) result."""
    pdf = hashed.toPandas()
    ids = pdf[ID].to_numpy(dtype=np.int64)
    sh_lists = pdf["sh"].to_numpy()
    lens = np.fromiter((len(s) for s in sh_lists), dtype=np.int64, count=len(ids))
    if len(ids):
        # the lists arrive sorted-unique, so driver prep is a plain
        # concatenate + prefix-sum
        dv = np.concatenate([np.asarray(s, dtype=np.int64) for s in sh_lists])
        offs = np.zeros(len(ids) + 1, dtype=np.int64)
        np.cumsum(lens, out=offs[1:])
        slices = {int(i): (int(s), int(e)) for i, s, e in zip(ids, offs[:-1], offs[1:])}
    else:
        dv = np.empty(0, dtype=np.int64)
        slices = {}
    bc = hashed.sparkSession.sparkContext.broadcast((slices, dv))

    def verify(it):
        sl, flat = bc.value
        for p in it:
            a_ids = p["a"].to_numpy()
            b_ids = p["b"].to_numpy()
            jac = np.empty(len(a_ids), dtype=np.float64)
            for i in range(len(a_ids)):
                s0, e0 = sl[int(a_ids[i])]
                s1, e1 = sl[int(b_ids[i])]
                sa = flat[s0:e0]
                sb = flat[s1:e1]
                inter = np.intersect1d(sa, sb, assume_unique=True)
                jac[i] = float(len(inter)) / float(len(sa) + len(sb) - len(inter))
            yield pd.DataFrame({"a": a_ids, "b": b_ids, "jaccard": jac})

    out = (
        cand.mapInPandas(verify, "a long, b long, jaccard double")
        .filter(F.col("jaccard") >= threshold)
        .localCheckpoint(eager=True)
    )
    # out is materialized — free the shingle-set broadcast (tens of MB per
    # call at the 10× tier) now instead of waiting for the ContextCleaner
    bc.unpersist(False)
    return out


def _candidate_docs(hashed: DataFrame, cand: DataFrame) -> DataFrame:
    """``hashed`` restricted to the docs of some candidate pair."""
    ids = cand.select(F.col("a").alias(ID)).union(cand.select(F.col("b").alias(ID))).distinct()
    return hashed.join(ids, ID, "left_semi")


def _verify_relational(
    hashed: DataFrame, cand: DataFrame, n_docs: int, threshold: float
) -> DataFrame:
    """Fully relational verification (the 100 TB shape: nothing
    driver-side scales with the corpus): candidate pairs join the exploded
    shingle rows on both sides and count the intersection.  Returns the
    eager (a, b, jaccard) result."""
    filtered = n_docs > CANDIDATE_FILTER_MIN_DOCS
    if filtered:
        # pinned eagerly: it feeds TWO branches (the candidate-doc filter
        # and the intersection join) — lazy it would run the bucket join twice
        cand = cand.localCheckpoint(eager=True)
    src = _candidate_docs(hashed, cand) if filtered else hashed
    # sh lists are sorted-UNIQUE per doc, so the exploded rows are already
    # distinct — no dedup shuffle needed here
    sh = src.select(F.col(ID), F.explode("sh").alias("shingle")).localCheckpoint(eager=True)
    sizes = sh.groupBy(ID).agg(F.count("*").alias("n_sh"))
    sha = sh.select(F.col(ID).alias("a"), "shingle")
    shb = sh.select(F.col(ID).alias("b"), "shingle")
    inter = (
        cand.join(sha, "a")
        .join(shb, ["b", "shingle"])
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_inter"))
    )
    na = sizes.select(F.col(ID).alias("a"), F.col("n_sh").alias("n_a"))
    nb = sizes.select(F.col(ID).alias("b"), F.col("n_sh").alias("n_b"))
    out = (
        inter.join(na, "a")
        .join(nb, "b")
        .withColumn("jaccard", _jaccard_col())
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
        .localCheckpoint(eager=True)
    )
    release_local_checkpoint(sh)
    if filtered:
        release_local_checkpoint(cand)
    return out


# ---------------------------------------------------------------------------
# SimHash (60-bit, pure JVM Columns — whole-stage codegen, no Python)
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60  # 15 hex chars of md5 — exactly representable in int64


def _shingle_hash60_col(shingle) -> "F.Column":
    """60-bit shingle hash = first 15 hex chars of md5, engine-portable:
    Spark ``conv(substr(md5(x),1,15),16,10)`` ≡ DuckDB
    ``('0x'||substr(md5(x),1,15))::BIGINT`` — the cross-engine contract that
    makes the simhash operators exactly SQL-oracle-able."""
    return F.conv(F.substring(F.md5(F.encode(shingle, "UTF-8")), 1, 15), 16, 10).cast("long")


def simhash_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash): per-bit majority vote over 60-bit shingle hashes.

    Entirely relational: shingle rows (lead-window shingle_pos_rows —
    whole-stage codegen, not the interpreted HOF) → hash → 60 bit-count
    aggregates → fingerprint assembly.  The per-bit vote Σ(bit ? +1 : −1)
    equals 2·ones − n, so each aggregate is a branch-free
    sum((h >> b) & 1) and the single count(*) replaces the other half of
    every conditional; vote > 0 ⇔ 2·ones > n, including the tie
    (vote = 0 ⇔ 2·ones = n) which leaves the bit clear on both forms.
    Docs with no shingles get 0 (restored by the left join below)."""
    sh = shingle_pos_rows(docs, SHINGLE_K).withColumn(
        "h", _shingle_hash60_col(F.col("shingle"))
    )
    one = F.lit(1).cast("long")
    votes = sh.groupBy(ID).agg(
        F.count("*").alias("nsh"),
        *[
            F.sum(F.shiftright(F.col("h"), b).bitwiseAND(one)).alias(f"o{b}")
            for b in range(SIMHASH_BITS)
        ],
    )
    fp = F.lit(0).cast("long")
    for b in range(SIMHASH_BITS):
        fp = fp + F.when(F.col(f"o{b}") * 2 > F.col("nsh"), F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    fingerprints = votes.select(F.col(ID), fp.alias("simhash"))
    return docs.select(ID).join(fingerprints, ID, "left").select(
        F.col(ID), F.coalesce("simhash", F.lit(0).cast("long")).alias("simhash")
    )


def simhash_pairs(fingerprints: DataFrame, max_hamming: int = 3, n_bands: int = 4) -> DataFrame:
    """(a, b, hamming) for unordered pairs with Hamming distance ≤
    ``max_hamming`` — the near-dup join the (doc_id, simhash) fingerprints
    exist for.

    Bit-band bucketing: the 60-bit fingerprint splits into ``n_bands``
    contiguous bands; pairs within Hamming ≤ n_bands-1 MUST agree on at
    least one band (pigeonhole), so with the default 4 bands / distance 3
    recall is exactly 1 and the output equals the brute-force O(n²) join.
    Candidate generation is a linear banded bucket join (ids only through
    the shuffle); verification is one popcount per candidate.

    The result is EAGERLY MATERIALIZED (localCheckpoint), after which the
    fingerprint and banded checkpoints it read are released, as in
    ``knn_ring``: the returned frame owns one persisted block set, which
    long-lived sessions release via ``session.release_local_checkpoint``."""
    assert max_hamming < n_bands, "pigeonhole recall guarantee needs max_hamming < n_bands"
    assert SIMHASH_BITS % n_bands == 0
    width = SIMHASH_BITS // n_bands
    mask = F.lit((1 << width) - 1).cast("long")

    # the plan references the fingerprints several times (same-fp join
    # sides, distinct-fp banding, two group-expansion sides); without this
    # the whole upstream fingerprint pipeline (explode + 60 vote
    # aggregates) re-executes per reference — measured as the bulk of the
    # operator's wall.
    fingerprints = fingerprints.localCheckpoint(eager=True)

    # ---- hamming = 0 (identical fingerprints): a plain equi-join on the
    # fingerprint — NEVER through the banded buckets.  Without this split,
    # a hot fingerprint (e.g. all no-shingle docs coalescing to simhash 0)
    # floods every band's bucket and the candidate join goes quadratic ×
    # n_bands × distinct; here the clique expansion is a single join whose
    # size is exactly the (unavoidable) output size.
    ia = fingerprints.select(F.col(ID).alias("a"), F.col("simhash").alias("h0"))
    ib = fingerprints.select(F.col(ID).alias("b"), F.col("simhash").alias("h0"))
    same = (
        ia.join(ib, "h0")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", F.lit(0).cast("long").alias("hamming"))
    )

    # ---- hamming ≥ 1: band the DISTINCT fingerprints only, so duplicate
    # fingerprints contribute one banded row each regardless of group size.
    # One long key per (band, slice) and one checkpoint, as in
    # minhash_lsh_pairs: a hash collision can only add a candidate, which
    # the exact Hamming filter then drops.
    fps = fingerprints.select(F.col("simhash").alias("fp")).distinct()
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("fp"), b * width).bitwiseAND(mask).alias("key"),
        )
        for b in range(n_bands)
    ]
    banded = (
        fps.select("fp", F.explode(F.array(*band_cols)).alias("bk"))
        .select("fp", F.xxhash64(F.col("bk.band"), F.col("bk.key")).alias("key"))
        .localCheckpoint(eager=True)
    )
    fp_cand = (
        bucket_pairs(banded)
        .select(F.col("a").alias("fa"), F.col("b").alias("fb"))
        .withColumn("hamming", F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))))
        .filter(F.col("hamming") <= max_hamming)
    )
    ga = fingerprints.select(F.col(ID).alias("ida"), F.col("simhash").alias("fa"))
    gb = fingerprints.select(F.col(ID).alias("idb"), F.col("simhash").alias("fb"))
    cross = (
        fp_cand.join(ga, "fa")
        .join(gb, "fb")
        .select(
            F.least("ida", "idb").alias("a"),
            F.greatest("ida", "idb").alias("b"),
            F.col("hamming").cast("long").alias("hamming"),
        )
    )
    # DISK_ONLY: the output is quadratic in a duplicate group (10k docs
    # sharing one fingerprint are 50M pairs), which a memory-first level
    # would hold in the driver JVM's heap
    out = same.unionByName(cross).localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    release_local_checkpoint(fingerprints)
    release_local_checkpoint(banded)
    return out
