"""Deduplication operators (training-data-pipeline extensions).

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

Minhash permutations are vectorized numpy inside Arrow batches —
deterministic across runs and machines (fixed seeds, uint64 arithmetic);
simhash is md5-based so Spark and DuckDB compute identical fingerprints.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from libosmtools_spark.text.analysis import shingles_col

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", verify: bool = False
) -> DataFrame:
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
        F.col(id_col),
        F.xxhash64(F.col(text_col)).alias("_h"),
        F.length(F.col(text_col)).alias("_len"),
    )
    groups = keyed.groupBy("_h", "_len").agg(
        F.min(id_col).alias("canonical_id"), F.count("*").alias("group_size")
    )
    out = keyed.join(groups, ["_h", "_len"]).select(id_col, "canonical_id", "group_size")
    if not verify:
        return out
    multi = groups.filter(F.col("group_size") > 1).select("_h", "_len")
    tagged = docs.select(
        F.col(id_col),
        F.col(text_col).alias("_t"),
        F.xxhash64(F.col(text_col)).alias("_h"),
        F.length(F.col(text_col)).alias("_len"),
    ).join(multi, ["_h", "_len"], "left_semi")
    true_groups = tagged.groupBy("_h", "_len", "_t").agg(
        F.min(id_col).alias("canonical_id"), F.count("*").alias("group_size")
    )
    resolved = tagged.join(true_groups, ["_h", "_len", "_t"]).select(
        id_col, "canonical_id", "group_size"
    )
    singles = out.join(tagged.select(id_col), id_col, "left_anti")
    return singles.unionByName(resolved)


# ---------------------------------------------------------------------------
# exact n-gram Jaccard pairs (the oracle-able quadratic baseline)
# ---------------------------------------------------------------------------

def shingle_rows(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3) -> DataFrame:
    from libosmtools_spark.text.analysis import shingle_pos_rows

    return shingle_pos_rows(docs, k, id_col, text_col).select(id_col, "shingle").distinct()


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
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
    sh = shingle_rows(docs, id_col, text_col, k).cache()
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a = sh.join(sizes, id_col).select(
        F.col(id_col).alias("a"), F.col("n_sh").alias("n_a"), "shingle"
    )
    b = sh.join(sizes, id_col).select(
        F.col(id_col).alias("b"), F.col("n_sh").alias("n_b"), "shingle"
    )
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
        inter.withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
        )
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

#: gather-verification bound on TOTAL shingle hashes collected to the
#: driver (~8 bytes each: 50M ≈ 400 MB flat buffer — comfortable on the
#: 48g driver, far past every bench tier); corpora above it verify on the
#: fully relational path regardless of doc count
VERIFY_GATHER_MAX_SHINGLES = 50_000_000


def _mod_mersenne(x: np.ndarray) -> np.ndarray:
    """x mod (2^61 - 1) for uint64 arrays via shift/mask folding — exactly
    the same value as ``x % _MERSENNE`` (x ≡ (x >> 61) + (x & M) mod M, and
    the folded sum is < 2M so one conditional subtract finishes), ~4× the
    throughput of the hardware 64-bit modulo numpy emits for ``%``.  The
    signature bits are unchanged — this is pure arithmetic strength
    reduction (guide §1.2 per-task work)."""
    r = (x >> np.uint64(61)) + (x & _MERSENNE)
    return np.where(r >= _MERSENNE, r - _MERSENNE, r)


def hashed_shingles_col(text, k: int = 3) -> "F.Column":
    """array<long> of 64-bit shingle hashes, computed ENTIRELY JVM-side:
    ``transform(shingles, s -> xxhash64(s))``.  The shingle strings never
    leave the JVM — only fixed-width int64 arrays cross Arrow into the
    signature UDF, which cut the 200k-doc signature stage from the
    dominant bench cost (object-dtype string hashing in Python) to a pure
    integer permute.

    Kept as the per-row Column form; minhash_lsh_pairs now builds the same
    multiset via lead-window rows + xxhash64 + collect_list (whole-stage
    codegen — the nested HOF here evaluates interpreted, ~6× slower at the
    10× tier)."""
    return F.transform(shingles_col(text, k), lambda s: F.xxhash64(s))


def minhash_signature_udf(num_perm: int = 64, seed: int = 42):
    """doc's hashed-shingle array<long> → minhash signature array<long>
    (num_perm universal-hash permutations h_i(x) = (a_i x + b_i) mod p).

    Vectorized ACROSS docs: each Arrow batch concatenates its docs' hash
    arrays, permutes the flat uint64 array once, and splits per-doc minima
    out with np.minimum.reduceat — no per-doc numpy dispatch and no string
    traffic (shingles arrive pre-hashed via hashed_shingles_col)."""
    rng = np.random.default_rng(seed)
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
    docs: DataFrame,
    threshold: float = 0.5,
    num_perm: int = 64,
    bands: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    candidate_filter_min_docs: int = 20_000,
    verify_gather_max_docs: int = 200_000,
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
    # nested-HOF transform this replaces (3.8 s → 0.7 s for 2.6M shingles
    # at the 10× tier); evaluated exactly ONCE into a checkpointed
    # (id, array<long>) table (~16B/shingle) feeding both the signature
    # stage and the verification rows.  Documents with fewer than k tokens
    # drop out here rather than carrying an all-sentinel signature — the
    # old sentinel rows formed ONE hot bucket of every shingle-less doc
    # (quadratic candidates, all discarded by verification); the output is
    # identical without them.
    from libosmtools_spark.text.analysis import shingle_pos_rows

    # sh is the SORTED-UNIQUE shingle-hash set per doc, deduplicated and
    # ordered inside the JVM aggregate: the minhash signature is a min per
    # permutation, so dropping duplicates and reordering cannot change a
    # single signature bit (bit-parity pinned in
    # test_minhash_hashed_set_form_signature_parity), while every
    # downstream consumer gets the set form it actually wants — the gather
    # verification concatenates the lists as-is (no driver-side
    # lexsort/dedup pass), and the relational path's explode emits unique
    # rows without a distinct shuffle.  Measured at the 10× tier: the
    # hashed build 1.17 → 0.60 s, and ~1 s of serial driver prep gone.
    hashed = (
        shingle_pos_rows(docs, k, id_col, text_col)
        .withColumn("h", F.xxhash64("shingle"))
        .groupBy(id_col)
        .agg(F.array_sort(F.array_distinct(F.collect_list("h"))).alias("sh"))
        .localCheckpoint(eager=True)
    )
    with_sig = hashed.withColumn("sig", sig(F.col("sh")))

    band_cols = [
        F.struct(
            F.lit(b).alias("band"), F.slice("sig", b * rows + 1, rows).alias("key")
        )
        for b in range(bands)
    ]
    # id-only rows through the bucket shuffle (no payload duplication).
    # The join key is ONE long — xxhash64 over (band, row-slice) — instead
    # of the (band, string-cast slice) pair: 16 B/row through the exchange
    # and a single-column long join.  Measured at the 10× tier: candidate
    # join 2.76 → 1.47 s with an IDENTICAL candidate set (41,323 pairs;
    # earlier rounds measured the raw array<long> key slower than the
    # string cast — the hashed long beats both).  A cross-(band,key) hash
    # collision can only ADD a candidate pair, and every candidate passes
    # exact-Jaccard verification below, so a collision can add a true
    # pair the band match alone would have missed but never a false one:
    # the output is a superset of the unhashed key's, not guaranteed
    # byte-identical to it (collisions are ~2^-64 per bucket pair).
    # checkpointed ONCE: the aliased self-join below otherwise re-runs the
    # whole signature pipeline per side, and with both sides reading the
    # same materialized rows the two bucket exchanges canonicalize equal
    # and ReuseExchange ships banded through the shuffle once
    banded = (
        with_sig.select(id_col, F.explode(F.array(*band_cols)).alias("bk"))
        .select(id_col, F.xxhash64(F.col("bk.band"), F.col("bk.key")).alias("key"))
        .localCheckpoint(eager=True)
    )
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), ["key"])
        .filter(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        .select(F.col(f"x.{id_col}").alias("a"), F.col(f"y.{id_col}").alias("b"))
        .distinct()
    )

    # exact Jaccard for the CANDIDATES only — never a corpus self-join.
    # Shingles travel as 64-bit xxhash64 values, not strings: the
    # set-intersection counts are identical unless two distinct shingles
    # of one doc pair collide (~2^-64 per pair — accepted on the scale
    # path; ngram_jaccard_pairs remains the string-exact ground truth).
    #
    # COUNT-GATED physical dispatch (the ann_topk pattern):
    # - corpora whose hashed-shingle table is broadcast-scale
    #   (≤ verify_gather_max_docs) verify via BROADCAST GATHER: the per-doc
    #   sorted shingle-hash sets ship once, and one mapInPandas over the
    #   candidate pairs computes |∩|/|∪| with numpy set intersection —
    #   same integers, same single IEEE division, but the whole
    #   explode/distinct/4-join verification pipeline (measured as the
    #   bulk of the operator's 13.6 s wall at the 10× tier — shingle and
    #   signature stages are ~4 s combined) collapses to one narrow stage;
    # - beyond that, the fully relational candidate-filtered path below is
    #   unchanged (the 100 TB shape: nothing driver-side scales with the
    #   corpus).
    # the gather gate needs (a) integral ids — the broadcast slice map and
    # the 'a long, b long' verify schema are int64; non-integral id types
    # keep the type-generic relational path at every size — and (b) a
    # bound on total SHINGLE volume, not just doc count: the driver
    # collect/broadcast scales with Σ|shingles|, and a sub-gate doc count
    # of long documents could otherwise materialize gigabytes driver-side.
    # One aggregation job yields both numbers (replaces the bare count()).
    id_integral = dict(hashed.dtypes)[id_col] in ("int", "bigint", "smallint", "tinyint")
    agg_row = hashed.agg(
        F.count("*").alias("n"), F.sum(F.size("sh")).alias("n_sh")
    ).collect()[0]
    n_docs = int(agg_row["n"])
    n_shingles_total = int(agg_row["n_sh"] or 0)
    if (
        id_integral
        and n_docs <= verify_gather_max_docs
        and n_shingles_total <= VERIFY_GATHER_MAX_SHINGLES
    ):
        # per-doc sorted-unique shingle-hash sets as ONE flat int64 array +
        # a doc→slice map.  The lists arrive ALREADY sorted-unique (the
        # array_sort∘array_distinct aggregate above), so driver prep is a
        # plain concatenate + prefix-sum — the former lexsort +
        # adjacent-dedup pass (~1 s serial driver time per call at the 10×
        # tier) is gone; three numeric buffers pickle in tens of ms
        pdf = hashed.toPandas()
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        sh_lists = pdf["sh"].to_numpy()
        lens = np.fromiter((len(s) for s in sh_lists), dtype=np.int64, count=len(ids))
        if len(ids):
            dv = np.concatenate([np.asarray(s, dtype=np.int64) for s in sh_lists])
            offs = np.zeros(len(ids) + 1, dtype=np.int64)
            np.cumsum(lens, out=offs[1:])
            slices = {
                int(i): (int(s), int(e))
                for i, s, e in zip(ids, offs[:-1], offs[1:])
            }
        else:
            dv = np.empty(0, dtype=np.int64)
            slices = {}
        bc = docs.sparkSession.sparkContext.broadcast((slices, dv))

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
            .select("a", "b", "jaccard")
            .localCheckpoint(eager=True)
        )
        from libosmtools_spark.session import release_local_checkpoint

        # out is already materialized — the shingle-set broadcast (tens of
        # MB per call at the 10× tier) is dead; free executor/worker
        # copies now instead of waiting for the ContextCleaner
        bc.unpersist(False)
        release_local_checkpoint(banded)
        release_local_checkpoint(hashed)
        return out

    cand_checkpointed = False
    if n_docs > candidate_filter_min_docs:
        # pinned eagerly: it feeds TWO downstream branches (the
        # candidate-id semi-filter and the intersection join) — lazy it
        # would run the bucket join twice
        cand = cand.localCheckpoint(eager=True)
        cand_checkpointed = True
        cand_ids = (
            cand.select(F.col("a").alias(id_col))
            .union(cand.select(F.col("b").alias(id_col)))
            .distinct()
        )
        sh_src = hashed.join(cand_ids, id_col, "left_semi")
    else:
        sh_src = hashed
    # sh lists are sorted-UNIQUE per doc (the aggregate above), so the
    # exploded rows are already distinct — no dedup shuffle needed here
    sh = (
        sh_src.select(F.col(id_col), F.explode("sh").alias("shingle"))
        .localCheckpoint(eager=True)
    )
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    sha = sh.select(F.col(id_col).alias("a"), "shingle")
    shb = sh.select(F.col(id_col).alias("b"), "shingle")
    inter = (
        cand.join(sha, "a")
        .join(shb, ["b", "shingle"])
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_inter"))
    )
    na = sizes.select(F.col(id_col).alias("a"), F.col("n_sh").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("b"), F.col("n_sh").alias("n_b"))
    out = (
        inter.join(na, "a")
        .join(nb, "b")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )
    # materialize the (small: verified pairs) result, release both
    # intermediate checkpoints — no storage growth across repeated calls
    out = out.localCheckpoint(eager=True)
    from libosmtools_spark.session import release_local_checkpoint

    release_local_checkpoint(sh)
    if cand_checkpointed:
        release_local_checkpoint(cand)
    release_local_checkpoint(banded)
    release_local_checkpoint(hashed)
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


def simhash_fingerprints(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """(doc_id, simhash): per-bit majority vote over 60-bit shingle hashes.

    Entirely relational: shingle rows (lead-window shingle_pos_rows —
    whole-stage codegen, not the interpreted HOF) → hash → 60 bit-count
    aggregates → fingerprint assembly.  The per-bit vote Σ(bit ? +1 : −1)
    equals 2·ones − n, so each aggregate is a branch-free
    sum((h >> b) & 1) and the single count(*) replaces the other half of
    every conditional; vote > 0 ⇔ 2·ones > n, including the tie
    (vote = 0 ⇔ 2·ones = n) which leaves the bit clear on both forms.
    Docs with no shingles get 0 (restored by the left join below)."""
    from libosmtools_spark.text.analysis import shingle_pos_rows

    sh = shingle_pos_rows(docs, k, id_col, text_col).withColumn(
        "h", _shingle_hash60_col(F.col("shingle"))
    )
    one = F.lit(1).cast("long")
    votes = sh.groupBy(id_col).agg(
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
    fingerprints = votes.select(F.col(id_col), fp.alias("simhash"))
    return docs.select(id_col).join(fingerprints, id_col, "left").select(
        F.col(id_col), F.coalesce("simhash", F.lit(0).cast("long")).alias("simhash")
    )


def simhash_pairs(
    fingerprints: DataFrame,
    max_hamming: int = 3,
    n_bands: int = 4,
    id_col: str = "doc_id",
    sim_col: str = "simhash",
) -> DataFrame:
    """(a, b, hamming) for unordered pairs with Hamming distance ≤
    ``max_hamming`` — the near-dup join the fingerprints exist for.

    Bit-band bucketing: the 60-bit fingerprint splits into ``n_bands``
    contiguous bands; pairs within Hamming ≤ n_bands-1 MUST agree on at
    least one band (pigeonhole), so with the default 4 bands / distance 3
    recall is exactly 1 and the output equals the brute-force O(n²) join.
    Candidate generation is a linear banded bucket join (ids only through
    the shuffle); verification is one popcount per candidate."""
    assert max_hamming < n_bands, "pigeonhole recall guarantee needs max_hamming < n_bands"
    assert SIMHASH_BITS % n_bands == 0
    width = SIMHASH_BITS // n_bands
    mask = F.lit((1 << width) - 1).cast("long")

    # the plan references the fingerprints FIVE times (same-fp join sides,
    # distinct-fp banding, two group-expansion sides); without this the
    # whole upstream fingerprint pipeline (explode + 60 vote aggregates)
    # re-executes per reference — measured as the bulk of the operator's
    # wall.  The checkpoint is (doc_id, simhash): 16 bytes/doc.
    fingerprints = fingerprints.localCheckpoint(eager=True)

    # ---- hamming = 0 (identical fingerprints): a plain equi-join on the
    # fingerprint — NEVER through the banded buckets.  Without this split,
    # a hot fingerprint (e.g. all no-shingle docs coalescing to simhash 0)
    # floods every band's bucket and the candidate join goes quadratic ×
    # n_bands × distinct; here the clique expansion is a single join whose
    # size is exactly the (unavoidable) output size.
    ia = fingerprints.select(F.col(id_col).alias("a"), F.col(sim_col).alias("h0"))
    ib = fingerprints.select(F.col(id_col).alias("b"), F.col(sim_col).alias("h0"))
    same = (
        ia.join(ib, "h0")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", F.lit(0).cast("long").alias("hamming"))
    )

    # ---- hamming ≥ 1: band the DISTINCT fingerprints only, so duplicate
    # fingerprints contribute one banded row each regardless of group size;
    # candidate volume is bounded by distinct-fingerprint collisions.
    fps = fingerprints.select(F.col(sim_col).alias("fp")).distinct()
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("fp"), b * width).bitwiseAND(mask).alias("key"),
        )
        for b in range(n_bands)
    ]
    banded = fps.select("fp", F.explode(F.array(*band_cols)).alias("bk")).select(
        "fp", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    fp_cand = (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "key"])
        .filter(F.col("x.fp") < F.col("y.fp"))
        .select(F.col("x.fp").alias("fa"), F.col("y.fp").alias("fb"))
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))))
        .filter(F.col("hamming") <= max_hamming)
    )
    ga = fingerprints.select(F.col(id_col).alias("ida"), F.col(sim_col).alias("fa"))
    gb = fingerprints.select(F.col(id_col).alias("idb"), F.col(sim_col).alias("fb"))
    cross = (
        fp_cand.join(ga, "fa")
        .join(gb, "fb")
        .select(
            F.least("ida", "idb").alias("a"),
            F.greatest("ida", "idb").alias("b"),
            F.col("hamming").cast("long").alias("hamming"),
        )
    )
    return same.unionByName(cross)
