"""Text analysis / dedup / similarity / multimodal / streaming / checkpoint
operators over the driver testdata and fixtures."""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

TESTDATA = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{TESTDATA}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{TESTDATA}/embeddings.parquet").cache()


class TestTextAnalysis:
    def test_analyze_shapes(self, docs):
        from libosmtools_spark.text.analysis import fingerprint_cols, predicted_lang_col, quality_cols

        t = F.col("text")
        q = quality_cols(t)
        out = docs.select(
            "doc_id",
            *(q[c].alias(c) for c in ("n_tokens", "alpha_ratio")),
            predicted_lang_col(t).alias("pred_lang"),
            fingerprint_cols(t)["fp_md5"].alias("fp_md5"),
        ).toPandas()
        assert len(out) == docs.count()
        assert (out["n_tokens"] >= 1).all()
        assert out["alpha_ratio"].between(0, 1).all()
        assert out["fp_md5"].str.len().eq(32).all()
        assert out["pred_lang"].isin(["en", "de", "es", "fr", "pt"]).all()

    def test_md5_matches_duckdb(self, docs):
        import duckdb

        from libosmtools_spark.text.analysis import fingerprint_cols

        got = docs.select("doc_id", fingerprint_cols(F.col("text"))["fp_md5"].alias("fp_md5")).toPandas()
        want = duckdb.sql(
            f"select doc_id, md5(text) as fp_md5 from read_parquet('{TESTDATA}/documents.parquet')"
        ).df()
        m = got.merge(want, on="doc_id", suffixes=("_s", "_d"))
        assert (m["fp_md5_s"] == m["fp_md5_d"]).all()

    def test_html_text_col_extraction(self, spark):
        """Tag-strip + ordered entity decode: arbitrary adversarial texts
        round-trip byte-identically through escape -> wrap -> extract,
        including double-escaped entities and lone angle brackets."""
        from libosmtools_spark.text.analysis import html_text_col

        texts = [
            "plain words only",
            "math: 1 < 2 & 3 > 2",
            "literal entity &lt; stays one level",
            "quotes ' and \" survive",
            "unicode café — ok",
            "",
        ]

        def esc(t):
            return t.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

        rows = [
            (i, t, f"<html><body><p>{esc(t)}</p></body></html>".encode())
            for i, t in enumerate(texts)
        ]
        df = spark.createDataFrame(rows, "i long, text string, html binary")
        out = df.select("text", html_text_col(F.col("html")).alias("x")).toPandas()
        assert (out["text"] == out["x"]).all(), out
        # decode is one level only: "&amp;lt;" -> "&lt;", never "<"
        one = spark.createDataFrame(
            [(b"<p>&amp;lt;</p>",)], "html binary"
        ).select(html_text_col(F.col("html")).alias("x")).collect()[0]["x"]
        assert one == "&lt;", one

    def test_html_extract_query_all_match(self, spark):
        """Registry query contract: matches=true on every documents row."""
        import __spark_entry__ as entry

        out = entry.queries()["html_extract"](spark, TESTDATA).toPandas()
        assert out["matches"].all() and len(out) == 500

    def test_token_count_matches_duckdb(self, docs):
        import duckdb

        from libosmtools_spark.text.analysis import token_count_col

        got = docs.select("doc_id", token_count_col(F.col("text")).alias("n")).toPandas()
        want = duckdb.sql(
            f"select doc_id, len(string_split_regex(trim(text), '\\s+')) as n "
            f"from read_parquet('{TESTDATA}/documents.parquet')"
        ).df()
        m = got.merge(want, on="doc_id", suffixes=("_s", "_d"))
        assert (m["n_s"] == m["n_d"]).all()


class TestDedup:
    def test_exact_dedup_groups(self, docs, spark):
        from libosmtools_spark.dedup.dedup import exact_dedup

        out = exact_dedup(docs).toPandas()
        assert len(out) == docs.count()
        assert (out["canonical_id"] <= out["doc_id"]).all()
        # brute check on pandas
        pdf = docs.select("doc_id", "text").toPandas()
        want = pdf.groupby("text")["doc_id"].transform("min")
        m = out.set_index("doc_id").loc[pdf["doc_id"], "canonical_id"].to_numpy()
        assert (m == want.to_numpy()).all()

    def test_exact_dedup_verify_agrees(self, docs, spark):
        """verify=True (text re-check inside multi-member hash groups)
        returns the identical result absent collisions — and the fixture
        has real duplicate groups, so the verified path is exercised."""
        from libosmtools_spark.dedup.dedup import exact_dedup

        dup = spark.createDataFrame(
            [(1000001, "a duplicate body"), (1000002, "a duplicate body"),
             (1000003, "a duplicate body"), (1000004, "unique body")],
            "doc_id long, text string",
        )
        both = docs.select("doc_id", "text").unionByName(dup)
        fast = exact_dedup(both).toPandas().sort_values("doc_id").reset_index(drop=True)
        ver = exact_dedup(both, verify=True).toPandas().sort_values("doc_id").reset_index(drop=True)
        assert (fast["group_size"] > 1).any()  # duplicate groups exist
        assert fast.equals(ver)
        g = ver[ver["doc_id"].isin([1000001, 1000002, 1000003])]
        assert set(g["canonical_id"]) == {1000001} and set(g["group_size"]) == {3}

    def test_jaccard_pairs_vs_brute(self, docs, spark):
        from libosmtools_spark.dedup.dedup import ngram_jaccard_pairs

        small = docs.limit(80).cache()
        got = ngram_jaccard_pairs(small, threshold=0.2).toPandas()
        # brute force in pandas
        pdf = small.select("doc_id", "text").toPandas()
        sh = {
            r.doc_id: set(
                " ".join(toks[i : i + 3])
                for toks in [r.text.strip().split()]
                for i in range(max(len(toks) - 2, 0))
            )
            for r in pdf.itertuples()
        }
        want = set()
        ids = sorted(sh)
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                u = len(sh[a] | sh[b])
                if u and len(sh[a] & sh[b]) / u >= 0.2:
                    want.add((a, b))
        assert set(zip(got["a"], got["b"])) == want

    def test_shingle_pos_rows_equals_hof_form(self, docs, spark):
        """The lead-window row form is exactly posexplode(shingles_col):
        same (doc_id, pos, shingle) set on the corpus AND on adversarial
        short/empty documents (which contribute no rows)."""
        from libosmtools_spark.text.analysis import shingle_pos_rows, shingles_col

        edge = spark.createDataFrame(
            [(9000001, ""), (9000002, "one"), (9000003, "just two"),
             (9000004, "exactly three tokens"), (9000005, "  padded   spacing  here  ")],
            "doc_id long, text string",
        )
        both = docs.select("doc_id", "text").unionByName(edge)
        a = shingle_pos_rows(both, 3)
        b = both.select(
            F.col("doc_id"),
            F.posexplode(shingles_col(F.col("text"), 3)).alias("pos", "shingle"),
        )
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
        assert a.filter(F.col("doc_id").isin(9000001, 9000002, 9000003)).count() == 0
        assert a.filter(F.col("doc_id") == 9000004).count() == 1

    def test_minhash_short_docs_no_pairs_no_crash(self, spark):
        """Documents with fewer than k tokens drop out of the signature
        stage (no all-sentinel hot bucket) and never form pairs; real
        duplicates in the same corpus are still found."""
        from libosmtools_spark.dedup.dedup import minhash_lsh_pairs

        body = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        rows = [(1, body), (2, body), (3, ""), (4, "x"), (5, "two words"),
                (6, "a wholly different sentence about another topic entirely ok")]
        d = spark.createDataFrame(rows, "doc_id long, text string")
        out = minhash_lsh_pairs(d, threshold=0.5).toPandas()
        assert set(zip(out["a"], out["b"])) == {(1, 2)}

    def test_minhash_lsh_recall(self, spark, monkeypatch, spy):
        from libosmtools_spark.dedup import dedup as D
        from libosmtools_spark.dedup.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

        # corpus with planted near-duplicates
        base = "the quick brown fox jumps over the lazy dog again and again today"
        rows = []
        for i in range(40):
            rows.append((i, base if i % 4 == 0 else f"{base} variant {i} " + "x " * i))
        docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
        relational = spy(D, "_verify_relational")
        filtered = spy(D, "_candidate_docs")
        exact = ngram_jaccard_pairs(docs, threshold=0.8).toPandas()
        lsh = minhash_lsh_pairs(docs, threshold=0.8, num_perm=64, bands=32).toPandas()
        assert not relational  # the gather side verified
        want = set(zip(exact["a"], exact["b"]))
        got = set(zip(lsh["a"], lsh["b"]))
        assert want, "planted duplicates must exist"
        # high-band LSH at j>=0.8 should reach full recall on identical docs
        assert got == want
        # the RELATIONAL verification paths (gather disabled so the branch
        # actually runs): both the corpus-wide explode and the count-gated
        # candidate-filtered variant must produce the exact same pairs
        monkeypatch.setattr(D, "VERIFY_GATHER_MAX_DOCS", 0)
        for min_docs, filter_ran in ((0, True), (20_000, False)):
            monkeypatch.setattr(D, "CANDIDATE_FILTER_MIN_DOCS", min_docs)
            relational.clear()
            filtered.clear()
            gated = minhash_lsh_pairs(docs, threshold=0.8, num_perm=64, bands=32).toPandas()
            assert len(relational) == 1 and bool(filtered) == filter_ran
            assert set(zip(gated["a"], gated["b"])) == want
            assert sorted(map(tuple, gated[["a", "b", "jaccard"]].itertuples(index=False))) \
                == sorted(map(tuple, lsh[["a", "b", "jaccard"]].itertuples(index=False)))

    def test_simhash_near_for_near_texts(self, spark):
        from libosmtools_spark.dedup.dedup import simhash_fingerprints

        rows = [
            (0, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (2, "totally different words entirely unrelated content here now"),
        ]
        docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
        out = simhash_fingerprints(docs).toPandas().set_index("doc_id")["simhash"]
        assert out[0] == out[1]
        ham = bin(np.uint64(out[0]) ^ np.uint64(out[2])).count("1")
        assert ham > 10


class TestANN:
    def test_brute_topk_matches_numpy(self, embeddings):
        from libosmtools_spark.sim.ann import cosine_topk_brute

        got = cosine_topk_brute(embeddings, k=5).toPandas()
        pdf = embeddings.toPandas()
        M = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        ids = pdf["vec_id"].to_numpy()
        Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
        S = Mn @ Mn.T
        for q in ids[:20]:
            qi = np.where(ids == q)[0][0]
            s = S[qi].copy()
            s[qi] = -np.inf
            order = np.lexsort((ids, -s))[:5]
            want = ids[order].tolist()
            g = got[got.vec_id == q].sort_values("rank")["neighbor_id"].tolist()
            assert g == want, q

    def test_lsh_recall_reasonable(self, embeddings):
        from libosmtools_spark.sim.ann import cosine_topk_brute, lsh_topk

        brute = cosine_topk_brute(embeddings, k=5).toPandas()
        approx = lsh_topk(embeddings, k=5, n_planes=4, n_tables=16).toPandas()
        b = set(zip(brute["vec_id"], brute["neighbor_id"]))
        a = set(zip(approx["vec_id"], approx["neighbor_id"]))
        recall = len(a & b) / len(b)
        assert recall > 0.6, recall  # 16 tables x 16 buckets over 500 vecs

    def test_lsh_near_dup_recall(self, spark):
        """The production operating point (10 planes x 12 tables): recall
        >= 0.95 for genuinely NEAR neighbors (planted near-duplicates at
        cosine ~0.95+), the retrieval regime sign-LSH exists for."""
        from libosmtools_spark.sim.ann import lsh_topk

        rng = np.random.default_rng(123)
        base = rng.normal(size=(1000, 64))
        dups = base[:400] + rng.normal(size=(400, 64)) * 0.15
        rows = [(int(i), v.tolist()) for i, v in enumerate(np.vstack([base, dups]))]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        got = lsh_topk(emb, k=5, n_planes=10, n_tables=12).toPandas()
        pairs = set(zip(got["vec_id"], got["neighbor_id"]))
        found = sum((i, 1000 + i) in pairs for i in range(400))
        assert found / 400 >= 0.95, found / 400

    def test_auto_lsh_params(self):
        """Geometry formula: exactly the oracle constants (10, 12) at every
        fixture scale, then log2 plane growth with recall-preserving table
        growth, tables capped."""
        from libosmtools_spark.sim.ann import LSH_MAX_TABLES, auto_lsh_params

        for n in (0, 1, 500, 2000, 4096):
            assert auto_lsh_params(n) == (10, 12), n
        p13, t13 = auto_lsh_params(20_000)
        assert p13 == 13 and 18 <= t13 <= 20, (p13, t13)
        prev = (10, 12)
        for n in (4097, 10_000, 100_000, 10**6, 10**9):
            p, t = auto_lsh_params(n)
            assert p >= prev[0] and t >= prev[1], (n, p, t)
            assert t <= LSH_MAX_TABLES
            prev = (p, t)

    def test_auto_lsh_near_dup_recall_past_fixture_scale(self, spark):
        """The AUTO geometry (planes grown past the 10-plane base, tables
        grown to compensate) holds near-duplicate recall >= 0.95 on a
        corpus large enough to actually trigger the growth."""
        from libosmtools_spark.sim.ann import auto_lsh_params, lsh_topk

        rng = np.random.default_rng(321)
        n_base, n_dup = 4000, 800
        base = rng.normal(size=(n_base, 32))
        dups = base[:n_dup] + rng.normal(size=(n_dup, 32)) * 0.15
        assert auto_lsh_params(n_base + n_dup)[0] > 10  # growth triggered
        rows = [(int(i), v.tolist()) for i, v in enumerate(np.vstack([base, dups]))]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        got = lsh_topk(emb, k=5).toPandas()  # default = auto geometry
        pairs = set(zip(got["vec_id"], got["neighbor_id"]))
        found = sum((i, n_base + i) in pairs for i in range(n_dup))
        assert found / n_dup >= 0.95, found / n_dup

    def test_ivf_near_dup_recall(self, spark):
        """IVF lists: a near-duplicate pair has nearly identical vectors,
        hence the same nearest centroid, hence the same list — recall ~1
        for the dedup regime."""
        from libosmtools_spark.sim.ann import ivf_topk

        rng = np.random.default_rng(21)
        base = rng.normal(size=(600, 64))
        dups = base[:200] + rng.normal(size=(200, 64)) * 0.12
        rows = [(int(i), v.tolist()) for i, v in enumerate(np.vstack([base, dups]))]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        got = ivf_topk(emb, k=5, n_lists=16, n_probe=4).toPandas()
        pairs = set(zip(got["vec_id"], got["neighbor_id"]))
        found = sum((i, 600 + i) in pairs or (600 + i, i) in pairs for i in range(200))
        assert found / 200 >= 0.95, found / 200

    def test_ivf_corpus_partition(self, embeddings):
        """Every corpus vector lives in exactly one list; candidates per
        query are bounded by the probed lists' population."""
        from libosmtools_spark.sim.ann import ivf_assign_udf, ivf_seed_centroids

        cents = ivf_seed_centroids(embeddings, 8)
        assign = ivf_assign_udf(cents, 3)
        out = embeddings.select("vec_id", assign(F.col("embedding")).alias("p")).toPandas()
        assert (out["p"].str.len() == 3).all()          # n_probe entries each
        assert out["p"].apply(lambda p: len(set(p)) == 3).all()  # distinct lists
        assert out["p"].apply(lambda p: all(0 <= x < 8 for x in p)).all()

    def test_cosine_dup_pairs_paths_agree(self, embeddings, monkeypatch, spy):
        """Exact near-dup pairs: both sides of cosine_dup_pairs'
        BRUTE_MAX_ROWS gate and the blocked entry at 3 blocks emit the
        identical pair set."""
        from libosmtools_spark.sim import ann

        blocked_ran = spy(ann, "cosine_dup_pairs_blocked")
        brute = ann.cosine_dup_pairs(embeddings, threshold=0.4).toPandas()
        assert not blocked_ran
        monkeypatch.setattr(ann, "BRUTE_MAX_ROWS", 0)
        gated = ann.cosine_dup_pairs(embeddings, threshold=0.4).toPandas()
        assert len(blocked_ran) == 1
        blocked = ann.cosine_dup_pairs_blocked(embeddings, threshold=0.4, n_blocks=3).toPandas()
        want = set(zip(brute["a"], brute["b"]))
        assert want == set(zip(gated["a"], gated["b"])) == set(zip(blocked["a"], blocked["b"]))
        assert len(brute) == len(brute.drop_duplicates())  # each pair exactly once
        assert len(blocked) == len(brute)

    def test_blocked_topk_complete_on_wide_ids_multi_partition(self, spark):
        """Regression: the blocked cogroup's per-position key types must be
        identical on both sides.  With (long,int) vs (int,long) keys the
        groups compare equal inside a partition (UnsafeRow 8-byte slots) but
        murmur3 ROUTES int and long differently, so group alignment became
        partition-layout-dependent — exact at small scale while silently
        dropping ~7/8 of the (qb,cb) pairs on the 8-file 20k-row bench
        replica (whole queries vanished from the output).  This pins the
        visible contract on a replica-shaped corpus: every query present,
        exactly k rows each, equal to the brute answer."""
        from libosmtools_spark.sim.ann import cosine_topk_blocked, cosine_topk_brute

        rng = np.random.default_rng(11)
        X = rng.normal(size=(1600, 16))
        # x10-replica id shape: replica stride 2^32, 8 input partitions
        rows = [
            (int((i % 8) * (1 << 32) + i // 8), v.tolist()) for i, v in enumerate(X)
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>").repartition(8)
        blocked = cosine_topk_blocked(emb, k=3).toPandas()
        brute = cosine_topk_brute(emb, k=3).toPandas()
        assert len(blocked) == 1600 * 3
        assert blocked["vec_id"].nunique() == 1600
        key = ["vec_id", "neighbor_id", "rank"]
        assert set(map(tuple, blocked[key].to_numpy())) == set(map(tuple, brute[key].to_numpy()))

    def test_ann_topk_gate_both_sides(self, embeddings, monkeypatch, spy):
        """Both sides of ann_topk's BRUTE_MAX_ROWS gate: a corpus of exactly
        the bound takes the broadcast matmul path, one row over it the
        blocked path, and the rows are identical."""
        from libosmtools_spark.sim import ann

        brute = spy(ann, "_brute_topk")
        blocked = spy(ann, "cosine_topk_blocked")
        n = embeddings.count()

        def rows(bound):
            monkeypatch.setattr(ann, "BRUTE_MAX_ROWS", bound)
            out = ann.ann_topk(embeddings, k=3).toPandas()
            return out.sort_values(["vec_id", "rank"]).reset_index(drop=True)

        at = rows(n)
        assert (len(brute), len(blocked)) == (1, 0)
        over = rows(n - 1)
        assert (len(brute), len(blocked)) == (1, 1)
        with pytest.raises(ValueError):  # the brute entry refuses past the bound
            ann.cosine_topk_brute(embeddings, k=3)
        assert len(at) == 3 * n
        pd.testing.assert_frame_equal(at, over)

    def test_exact_ties_match_lexsort_reference(self, spark):
        """Exact-tie differential test.  0/±1 vectors with exactly 4
        non-zeros (every norm 2), duplicated vectors and zero vectors give
        cosines that are multiples of 1/4, exact in any summation order, so
        only the tie rule (cosine desc, neighbour id asc) orders equal
        scores.  Brute, blocked (1 and 3 blocks) and gated top-k equal a
        numpy lexsort reference; brute and blocked dup pairs equal the
        reference pair set; lsh_topk at a fixed geometry equals the
        reference built from ORDERED colliding pairs (each direction
        scored on its own)."""
        from libosmtools_spark.sim import ann

        rng = np.random.default_rng(2024)
        dim, k = 16, 5
        base = np.zeros((40, dim))
        for row in base:
            row[rng.choice(dim, 4, replace=False)] = rng.choice([-1.0, 1.0], 4)
        X = np.vstack([base, base[rng.choice(40, 12, replace=False)], np.zeros((8, dim))])
        ids = rng.choice(10**6, len(X), replace=False).astype(np.int64)
        rows = [(int(i), v.tolist()) for i, v in zip(ids, X)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>").repartition(3)

        norms = np.linalg.norm(X, axis=1)
        norms[norms == 0] = 1.0
        C = (X @ X.T) / np.outer(norms, norms)  # exact: multiples of 1/4
        assert set(np.unique(C)) <= {q / 4 for q in range(-4, 5)}

        def reference(allowed):
            out = []
            for qi in range(len(ids)):
                cand = np.nonzero(allowed[qi])[0]
                order = cand[np.lexsort((ids[cand], -C[qi, cand]))][:k]
                out += [(int(ids[qi]), int(ids[c]), r + 1) for r, c in enumerate(order)]
            return sorted(out)

        def got(df):
            return sorted(map(tuple, df.select("vec_id", "neighbor_id", "rank").collect()))

        exact = reference(~np.eye(len(ids), dtype=bool))
        assert got(ann.cosine_topk_brute(emb, k)) == exact
        assert got(ann.ann_topk(emb, k)) == exact
        for n_blocks in (1, 3):
            assert got(ann.cosine_topk_blocked(emb, k, n_blocks=n_blocks)) == exact

        iu, ju = np.nonzero(C >= 0.5)
        want_pairs = {(int(ids[i]), int(ids[j])) for i, j in zip(iu, ju) if ids[i] < ids[j]}
        for pairs in (
            ann.cosine_dup_pairs(emb, 0.5),
            ann.cosine_dup_pairs_blocked(emb, 0.5, n_blocks=3),
        ):
            assert sorted(map(tuple, pairs.collect())) == sorted(want_pairs)

        n_planes, n_tables = 3, 4
        H = ann.lsh_hyperplanes(n_tables, n_planes, dim)
        Q = np.floor(X * ann.LSH_QUANT)
        weights = 1 << np.arange(n_planes)
        buckets = np.stack([((Q @ H[t].T) > 0) @ weights for t in range(n_tables)], axis=1)
        collide = (buckets[:, None, :] == buckets[None, :, :]).any(axis=2)
        np.fill_diagonal(collide, False)
        lsh = ann.lsh_topk(emb, k, n_planes=n_planes, n_tables=n_tables)
        assert got(lsh) == reference(collide)
        pos = {int(i): p for p, i in enumerate(ids)}
        for r in lsh.collect():
            assert r.cosine == C[pos[r.vec_id], pos[r.neighbor_id]]

class TestMultimodal:
    def test_feature_plumbing(self, spark, sf_smoke):
        from libosmtools_spark.mm.multimodal import extract_features

        pages = spark.read.parquet(os.path.join(sf_smoke, "pages.parquet")).limit(100)
        media = pages.select(
            F.xxhash64("url").alias("media_id"),
            F.lit("image").alias("kind"),
            F.col("html").alias("payload"),
        )
        out = extract_features(media).toPandas()
        assert len(out) == 100
        assert out["ok"].all()
        assert out["feat"].map(len).eq(8).all()
        assert out["sha256"].str.len().eq(64).all()
        # determinism
        out2 = extract_features(media).toPandas()
        m = out.sort_values("media_id").reset_index(drop=True)
        m2 = out2.sort_values("media_id").reset_index(drop=True)
        assert (m["sha256"] == m2["sha256"]).all()


class TestStreaming:
    def test_region_stream_matches_batch(self, spark, sf_smoke):
        """The full spatial join as a continuous query: streaming windowed
        per-region counts equal the batch computation on the same input."""
        import os

        from libosmtools_spark.pipeline import SpatialEngine
        from libosmtools_spark.streaming.geostream import (
            run_region_stream_to_memory,
            stream_region_counts,
        )

        eng = SpatialEngine.from_fixtures(spark, sf_smoke)
        pages_dir = os.path.join(sf_smoke, "pages.parquet")
        got = run_region_stream_to_memory(spark, pages_dir, eng, query_name="t_rstream").toPandas()
        batch = stream_region_counts(
            spark.read.parquet(pages_dir), eng.candidates_bcast, eng.rings_bcast,
            level=eng.level,
        ).toPandas()
        key = ["window_start", "region_id"]
        g = got.sort_values(key).reset_index(drop=True)
        b = batch.sort_values(key).reset_index(drop=True)
        assert len(g) == len(b) > 0
        assert (g["n_pages"].to_numpy() == b["n_pages"].to_numpy()).all()


class TestCheckpoint:
    def test_stage_skip_and_rebuild(self, spark, sf_smoke, tmp_path):
        from libosmtools_spark.run.checkpoint import CheckpointManager, input_fingerprint

        cp = CheckpointManager(spark, str(tmp_path / "ckpt"))
        fp = input_fingerprint(spark, os.path.join(sf_smoke, "pages.parquet"))
        calls = {"n": 0}

        def build():
            calls["n"] += 1
            return spark.read.parquet(os.path.join(sf_smoke, "pages.parquet")).select("url")

        a = cp.stage("urls", fp, build)
        b = cp.stage("urls", fp, build)  # must skip
        assert calls["n"] == 1
        assert a.count() == b.count()
        c = cp.stage("urls", "changed-fp", build)  # must rebuild
        assert calls["n"] == 2
        # manifest has 2 records for the stage
        import json

        with open(cp.manifest_path) as f:
            recs = [json.loads(x) for x in f]
        assert sum(1 for r in recs if r["stage"] == "urls") == 2

    def test_partition_metrics(self, spark, sf_smoke, tmp_path):
        from libosmtools_spark.run.checkpoint import CheckpointManager

        cp = CheckpointManager(spark, str(tmp_path / "ckpt2"))
        df = spark.read.parquet(os.path.join(sf_smoke, "pages.parquet"))
        pm = cp.partition_metrics(df).toPandas()
        assert pm["n_rows"].sum() == df.count()


if __name__ == "__main__":
    import sys

    sys.exit(pytest.main([__file__, "-x", "-q"]))


class TestScaleHygiene:
    def test_simhash_hot_fingerprint_bounded(self, spark):
        """10k no-shingle docs all coalesce to simhash 0.  The banded join
        must see each DISTINCT fingerprint once (not 10k × 4 bands rows),
        and the hamming-0 clique resolves via a plain fingerprint equi-join
        whose size is the (unavoidable) output itself."""
        from libosmtools_spark.dedup.dedup import simhash_pairs

        n = 10_000
        fps = spark.range(n).select(
            F.col("id").alias("doc_id"), F.lit(0).cast("long").alias("simhash")
        )
        pairs = simhash_pairs(fps, max_hamming=3, n_bands=4)
        # candidate volume through the BANDED path is bounded by distinct
        # fingerprints (here: 1), so planning+counting finishes fast; the
        # output is the full clique
        assert pairs.count() == n * (n - 1) // 2
        assert pairs.filter(F.col("hamming") != 0).count() == 0

    def test_no_storage_growth_across_calls(self, spark):
        """knn_ring and ngram_jaccard_pairs release their caches: repeated
        calls in one session must not accumulate persisted RDDs.
        simhash_pairs releases its fingerprint and banded checkpoints, so a
        q_simhash_pairs call (whose projected result the caller cannot
        release) leaves at most its one result checkpoint."""
        import __spark_entry__ as entry
        from libosmtools_spark.dedup.dedup import ngram_jaccard_pairs
        from libosmtools_spark.knn.ring import knn_ring

        docs = spark.read.parquet(f"{TESTDATA}/documents.parquet")
        pts = docs.select(
            "doc_id",
            ((F.col("doc_id") * 9973 % 1700) / 10.0 - 85.0).alias("lat"),
            ((F.col("doc_id") * 7919 % 3600) / 10.0 - 180.0).alias("lon"),
        )

        from libosmtools_spark.session import release_local_checkpoint

        def n_cached():
            jsc = spark.sparkContext._jsc.sc()
            return jsc.getPersistentRDDs().size()

        base = n_cached()
        for _ in range(3):
            for res in (knn_ring(pts, "doc_id", k=3), ngram_jaccard_pairs(docs, threshold=0.5)):
                res.count()
                release_local_checkpoint(res)
            # every intermediate cache/loop-checkpoint is released by the
            # operators themselves; the result checkpoint via the helper.
            # <= not ==: checkpoints left by EARLIER tests in the session
            # may be garbage-collected mid-loop, dropping the count below
            # the baseline — growth is the bug, shrinkage isn't.
            assert n_cached() <= base
        for calls in range(1, 4):
            entry.q_simhash_pairs(spark, TESTDATA).count()
            assert n_cached() <= base + calls


class TestEmptyInputs:
    def test_operators_accept_empty_corpora(self, spark):
        """Every dedup/similarity operator returns a typed empty result on
        an empty table instead of crashing in numpy stacking."""
        from libosmtools_spark.dedup.dedup import (
            exact_dedup, minhash_lsh_pairs, ngram_jaccard_pairs,
            simhash_fingerprints, simhash_pairs,
        )
        from libosmtools_spark.sim.ann import (
            ann_topk, cosine_dup_pairs, cosine_dup_pairs_blocked,
            cosine_topk_blocked, cosine_topk_brute, ivf_topk, lsh_topk,
        )

        docs = spark.createDataFrame([], "doc_id long, text string")
        emb = spark.createDataFrame([], "vec_id long, embedding array<double>")
        assert exact_dedup(docs).count() == 0
        assert ngram_jaccard_pairs(docs).count() == 0
        assert minhash_lsh_pairs(docs).count() == 0
        assert simhash_pairs(simhash_fingerprints(docs)).count() == 0
        assert ann_topk(emb).count() == 0
        assert lsh_topk(emb).count() == 0
        assert cosine_dup_pairs(emb).count() == 0
        assert ivf_topk(emb).count() == 0
        assert cosine_topk_brute(emb).count() == 0
        assert cosine_topk_blocked(emb).count() == 0
        assert cosine_dup_pairs_blocked(emb).count() == 0


class TestWinnowBPE:
    def test_bpe_token_count(self, spark):
        from libosmtools_spark.text.analysis import bpe_token_count_col

        rows = [(0, "hello world42 foo-bar!!"), (1, ""), (2, "a1b2")]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = docs.select("doc_id", bpe_token_count_col(F.col("text")).alias("n")).toPandas()
        got = out.set_index("doc_id")["n"]
        # hello | world | 42 | foo | - | bar | !! = 7 runs
        assert got[0] == 7 and got[1] == 0 and got[2] == 4

    def test_winnow_shared_substring_shares_fingerprint(self, spark):
        """The winnowing guarantee: documents sharing a sufficiently long
        run of tokens (longer than window + k) share at least one
        fingerprint; unrelated docs share none."""
        from libosmtools_spark.text.analysis import winnow_fingerprints

        common = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
        rows = [
            (0, f"prefix one two {common} suffix here"),
            (1, f"other words entirely {common} trailing bits"),
            (2, "completely unrelated vocabulary nothing matches at all ever"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        fps = winnow_fingerprints(docs, k=3, window=4).toPandas()
        by_doc = {d: set(g["fp"]) for d, g in fps.groupby("doc_id")}
        assert by_doc[0] & by_doc[1], "shared run must share a fingerprint"
        assert not (by_doc[0] & by_doc[2])
        # sketch is smaller than the shingle count (that's the point)
        n_sh0 = len(rows[0][1].split()) - 2
        assert 0 < len(by_doc[0]) < n_sh0
