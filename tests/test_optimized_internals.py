"""Round-8 optimization parity tests: every rewritten hot-path internal
must be bit-equal to the formulation it replaced.

- text-in flagship kernel (RE2 geocode + in-kernel keys) vs the JVM
  geocode/cell_key Column path + lat/lon kernel;
- Arrow-side mask decode vs the per-bit reference decode;
- Mersenne fast-mod vs the generic modulo;
- hull-based exact diameter vs the all-pairs scan.
"""

from __future__ import annotations

import itertools

import numpy as np
import pytest


# ---------------------------------------------------------------------------
# pure-numpy parities (no Spark)
# ---------------------------------------------------------------------------


def test_mod_mersenne_bit_equal():
    from libosmtools_spark.dedup.dedup import _MERSENNE, _mod_mersenne

    rng = np.random.default_rng(3)
    x = rng.integers(0, 1 << 63, size=100_000, dtype=np.uint64) * np.uint64(2)
    x += rng.integers(0, 2, size=len(x), dtype=np.uint64)
    assert (_mod_mersenne(x) == x % _MERSENNE).all()
    edges = np.array(
        [0, 1, (1 << 61) - 2, (1 << 61) - 1, 1 << 61, (1 << 62) - 1,
         (1 << 64) - 1, 2 * ((1 << 61) - 1)],
        dtype=np.uint64,
    )
    assert (_mod_mersenne(edges) == edges % _MERSENNE).all()


def test_masks_to_region_lists_matches_bit_decode(monkeypatch):
    from libosmtools_spark.joins import mapjoin
    from libosmtools_spark.joins.mapjoin import _masks_to_region_lists

    rng = np.random.default_rng(0)
    # the default block, and 16-byte blocks: several unpack blocks per call
    for block, n_words, n in itertools.product(
        (mapjoin._DECODE_BYTES, 16), (1, 2, 3), (0, 1, 5, 3000)
    ):
        monkeypatch.setattr(mapjoin, "_DECODE_BYTES", block)
        masks = rng.integers(0, 1 << 63, size=(n, n_words), dtype=np.int64)
        masks[rng.random((n, n_words)) < 0.5] = 0
        offs, vals = _masks_to_region_lists(masks)
        got = [vals[offs[i]: offs[i + 1]].tolist() for i in range(n)]
        want = [
            [w * 63 + b for w in range(n_words) for b in range(63)
             if (int(row[w]) >> b) & 1]
            for row in masks
        ]
        assert got == want


def test_hull_diameter_equals_allpairs():
    from libosmtools_spark.tiles.materialize import _set_diam2

    rng = np.random.default_rng(11)

    def brute(cla, clo):
        if len(cla) < 2:
            return 0.0
        d2 = (cla[:, None] - cla[None, :]) ** 2 + (clo[:, None] - clo[None, :]) ** 2
        return float(d2.max())

    for trial in range(60):
        n = int(rng.integers(1, 400))
        kind = trial % 4
        la = rng.uniform(-90, 90, n)
        lo = rng.uniform(-180, 180, n)
        if kind == 1:  # collinear
            t = rng.uniform(0, 1, n)
            la, lo = 2.0 + 3.0 * t, -1.0 + 4.0 * t
        elif kind == 2:  # duplicates
            la = np.repeat(la[: max(1, n // 3)], 3)[:n]
            lo = np.repeat(lo[: max(1, n // 3)], 3)[:n]
        elif kind == 3:  # identical points
            la, lo = np.full(n, 1.5), np.full(n, -2.5)
        assert _set_diam2(la, lo) == brute(la, lo)


# ---------------------------------------------------------------------------
# Spark parities
# ---------------------------------------------------------------------------

ADVERSARIAL_TEXTS = [
    "plain text with no geocode at all",
    "",
    "geo:12.345678,-98.765432 trailing words",
    "prefix words geo:-0.000000,-0.000000",
    "two tokens geo:1.111111,2.222222 and geo:3.333333,4.444444",
    "wrong digits geo:1.2345,-6.789012 then valid geo:10.000001,20.000002",
    "geo:89.999999,179.999999",
    "geo:-89.999999,-180.000000",
    "geo:95.123456,185.654321",          # out of domain: clamps/wraps in key
    "no colon geo 12.345678,-98.765432",
    "geo:12.345678,-98.765432",          # exact full-string match
    "unicode ü§ geo:45.000000,9.000000 ß",
    "geo:0.000000,0.000000",
    "geo:12.3456789,1.234567 seven-digit lat first group",
]


class TestTextKernelParity:
    @pytest.fixture(scope="class")
    def engine(self, spark):
        from libosmtools_spark.data.synth import ensure_fixtures
        from libosmtools_spark.pipeline import SpatialEngine

        fx = ensure_fixtures("0.001")
        return SpatialEngine.from_fixtures(spark, fx)

    def _frames(self, spark, engine, texts):
        rows = [(f"u{i}", t) for i, t in enumerate(texts)]
        return spark.createDataFrame(rows, "url string, text string")

    def test_adversarial_geocode_parity(self, spark, engine):
        """text-in kernel == JVM geocode + lat/lon kernel, row for row, on
        texts exercising no-match, multi-match, domain edges, and partial
        regex matches."""
        from pyspark.sql import functions as F

        from libosmtools_spark.joins.mapjoin import map_spatial_join, map_spatial_join_text
        from libosmtools_spark.joins.spatial import geocode_pages, with_cell_key

        pages = self._frames(spark, engine, ADVERSARIAL_TEXTS)
        new = map_spatial_join_text(
            pages, engine.candidates_bcast, engine.rings_bcast, level=engine.level
        )
        pts = with_cell_key(geocode_pages(pages), level=engine.level).select(
            "url", "lat", "lon", "cell_key"
        )
        old = map_spatial_join(pts, engine.candidates_bcast, engine.rings_bcast)
        j = new.join(
            old.select(
                "url",
                F.col("cell_key").alias("k2"),
                F.col("region_ids").alias("r2"),
            ),
            "url",
            "full",
        )
        bad = j.filter(
            (~F.col("cell_key").eqNullSafe(F.col("k2")))
            | (F.col("region_ids") != F.col("r2"))
            | F.col("region_ids").isNull()
            | F.col("r2").isNull()
        ).count()
        assert bad == 0
        assert new.count() == len(ADVERSARIAL_TEXTS)

    def test_distinct_cell_keys_parity(self, spark, engine):
        """page_cell_keys_text's distinct key set == the JVM path's,
        including the NULL key for no-geocode pages."""
        from pyspark.sql import functions as F

        from libosmtools_spark.joins.mapjoin import page_cell_keys_text
        from libosmtools_spark.joins.spatial import geocode_pages, with_cell_key

        pages = self._frames(spark, engine, ADVERSARIAL_TEXTS)
        new = {
            r.cell_key
            for r in page_cell_keys_text(pages, level=engine.level).distinct().collect()
        }
        old = {
            r.cell_key
            for r in with_cell_key(geocode_pages(pages), level=engine.level)
            .select("cell_key")
            .distinct()
            .collect()
        }
        assert new == old

    def test_fixture_flagship_golden(self, spark, engine):
        """The rewired flagship_map still reproduces the committed golden
        byte-for-byte at sf0.001."""
        from pyspark.sql import functions as F

        from libosmtools_spark.data.synth import ensure_fixtures

        fx = ensure_fixtures("0.001")
        pages = spark.read.parquet(f"{fx}/pages.parquet")
        out = engine.flagship_map(pages)
        g = spark.read.parquet(f"{fx}/golden_page_regions.parquet")
        j = out.select("url", "region_ids").join(
            g.select("url", F.col("region_ids").alias("gr")), "url", "full"
        )
        assert j.filter(
            F.col("region_ids").isNull()
            | F.col("gr").isNull()
            | (F.col("region_ids") != F.col("gr"))
        ).count() == 0


class TestSimhashVoteParity:
    """The branch-free fingerprint vote (2·ones > n) must be bit-equal to
    the conditional-sum form Σ(bit ? +1 : −1) > 0 it replaced — including
    exact vote ties, which leave the bit clear on both forms."""

    def test_fingerprints_match_conditional_vote(self, spark):
        from pyspark.sql import functions as F

        from libosmtools_spark.dedup.dedup import (
            SIMHASH_BITS,
            _shingle_hash60_col,
            simhash_fingerprints,
        )
        from libosmtools_spark.text.analysis import shingle_pos_rows

        rows = [
            ("d0", "the quick brown fox jumps over the lazy dog"),
            ("d1", "the quick brown fox jumps over the lazy dot"),
            ("d2", ""),  # no shingles → fingerprint 0 via the left join
            ("d3", "ab"),  # shorter than k → no shingles
            ("d4", "a a a a a a"),  # one distinct word-trigram, max repetition
            ("d5", "a b a b"),  # two shingles → every per-bit vote is ±2 or a tie
            ("d6", "w x y z"),  # two distinct shingles → guaranteed tie bits
            ("d7", "ünïcodé — emoji 🎯 and newlines\nand\ttabs"),
        ]
        docs = spark.createDataFrame(rows, "doc_id string, text string")

        # independent reference: the original conditional-sum vote
        sh = shingle_pos_rows(docs, 3, "doc_id", "text").withColumn(
            "h", _shingle_hash60_col(F.col("shingle"))
        )
        votes = sh.groupBy("doc_id").agg(
            *[
                F.sum(
                    F.when(
                        F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1).cast("long")) == 1, 1
                    ).otherwise(-1)
                ).alias(f"v{b}")
                for b in range(SIMHASH_BITS)
            ]
        )
        fp = F.lit(0).cast("long")
        for b in range(SIMHASH_BITS):
            fp = fp + F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        ref = docs.select("doc_id").join(
            votes.select("doc_id", fp.alias("simhash")), "doc_id", "left"
        ).select("doc_id", F.coalesce("simhash", F.lit(0).cast("long")).alias("simhash"))

        got = {r.doc_id: r.simhash for r in simhash_fingerprints(docs).collect()}
        want = {r.doc_id: r.simhash for r in ref.collect()}
        assert got == want
        assert got["d2"] == 0 and got["d3"] == 0

        # a tie must exist somewhere in the adversarial set and resolve to 0
        two_shingle = {r.doc_id for r in sh.groupBy("doc_id").count().filter("count = 2").collect()}
        assert two_shingle, "fixture must include an even-vote document"


class TestMinhashSetFormParity:
    """The sorted-distinct hashed-shingle aggregate (array_sort ∘
    array_distinct ∘ collect_list) must leave every minhash signature bit
    unchanged vs the raw multiset collect_list it replaced: the signature
    is a per-permutation MIN, which is invariant under element reordering
    and duplicate removal."""

    def test_minhash_hashed_set_form_signature_parity(self, spark):
        import numpy as np
        from pyspark.sql import functions as F

        from libosmtools_spark.dedup.dedup import minhash_signature_udf
        from libosmtools_spark.text.analysis import shingle_pos_rows

        rows = [
            (1, "alpha beta gamma alpha beta gamma alpha beta gamma"),  # heavy dups
            (2, "x " * 50),  # one distinct shingle, max repetition
            (3, "the quick brown fox jumps over the lazy dog"),  # all unique
            (4, "a b c a b c d e f d e f"),  # interleaved repeats
            (5, "solo pair"),  # < k tokens → no rows on either form
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        base = shingle_pos_rows(docs, 3, "doc_id", "text").withColumn(
            "h", F.xxhash64("shingle")
        )
        sig = minhash_signature_udf(64)
        multiset = base.groupBy("doc_id").agg(F.collect_list("h").alias("sh"))
        setform = base.groupBy("doc_id").agg(
            F.array_sort(F.array_distinct(F.collect_list("h"))).alias("sh")
        )
        # the set form must actually be smaller somewhere (dups existed)
        n_multi = multiset.select(F.sum(F.size("sh"))).collect()[0][0]
        n_set = setform.select(F.sum(F.size("sh"))).collect()[0][0]
        assert n_set < n_multi

        got = {
            r.doc_id: list(r.sig)
            for r in setform.withColumn("sig", sig("sh")).select("doc_id", "sig").collect()
        }
        want = {
            r.doc_id: list(r.sig)
            for r in multiset.withColumn("sig", sig("sh")).select("doc_id", "sig").collect()
        }
        assert got == want
        assert set(got) == {1, 2, 3, 4}  # doc 5 has no shingle rows

        # the exploded set-form rows are distinct by construction — the
        # relational verify path relies on this (its dedup shuffle is gone)
        ex = setform.select("doc_id", F.explode("sh").alias("shingle"))
        assert ex.count() == ex.distinct().count()


if __name__ == "__main__":
    import sys

    sys.exit(pytest.main([__file__, "-x", "-q"]))
