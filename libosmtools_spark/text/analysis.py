"""Text-analysis operators for a large-scale training-data pipeline
(BASELINE north-rule extensions: the payload is web text).

Everything here is pure Column expressions (JVM-side, whole-stage codegen);
each operator has a matching DuckDB oracle in ``__spark_entry__.oracle_sql``
built from the same formulas, so results are bit-reproducible (integer
counts and IEEE-754 divisions only).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: stopword markers per language for the n-gram language-ID heuristic;
#: counts are of ' word ' occurrences (space-delimited, case-sensitive —
#: deterministic and cheap)
LANG_MARKERS = {
    "en": ("the", "and", "of"),
    "de": ("der", "und", "die"),
    "es": ("el", "los", "que"),
    "fr": ("le", "les", "des"),
    "pt": ("os", "uma", "das"),
}
#: tie-break priority (first wins on >=)
LANG_ORDER = ("en", "de", "es", "fr", "pt")


#: XML entity decode table, applied in this order — ``&amp;`` LAST, so a
#: double-escaped ``&amp;lt;`` decodes to the literal ``&lt;`` (one level),
#: never to ``<`` (two levels)
_HTML_ENTITIES = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
)


def html_text_col(html: Column) -> Column:
    """Extracted text from a Common-Crawl-style ``html`` binary payload —
    the operator behind the input_hint's "byte-identical extracted text per
    url" invariant: over the supported markup subset (element tags plus the
    five XML entities — the synthesizer's CC-style page shape), extraction
    reproduces the page's reference text byte for byte, asserted end-to-end
    in tests against the flagship goldens.

    Pure JVM Columns (UTF-8 decode → tag-strip regexp → ordered entity
    unescape): whole-stage codegen, no Python, and every step has an exact
    ANSI-SQL twin (decode/regexp_replace/replace) for the DuckDB oracle."""
    s = F.decode(html, "UTF-8")
    s = F.regexp_replace(s, r"<[^>]*>", "")
    for ent, ch in _HTML_ENTITIES:
        s = F.replace(s, F.lit(ent), F.lit(ch))
    return s


def token_count_col(text: Column) -> Column:
    """Whitespace token count.  ``split(trim(x), '\\s+')`` of an empty
    string yields [''] (count 1) in both Spark and DuckDB — documented
    edge; callers filter empty docs first if that matters."""
    return F.size(F.split(F.trim(text), r"\s+"))


def occurrence_count_col(text: Column, needle: str) -> Column:
    """Number of occurrences of ``needle`` via length arithmetic —
    identical integer semantics in any engine."""
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("long")


def lang_score_col(text: Column, lang: str) -> Column:
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    s = F.lit(0).cast("long")
    for w in LANG_MARKERS[lang]:
        s = s + occurrence_count_col(padded, f" {w} ")
    return s


def predicted_lang_col(text: Column) -> Column:
    """argmax over language scores, ties resolved by LANG_ORDER priority
    (>= comparison against the running max of later languages)."""
    scores = {lang: lang_score_col(text, lang) for lang in LANG_ORDER}
    expr = F.lit(LANG_ORDER[-1])
    # build from the back: lang wins if its score >= max of all later ones
    for lang in reversed(LANG_ORDER[:-1]):
        later = [scores[o] for o in LANG_ORDER[LANG_ORDER.index(lang) + 1 :]]
        mx = later[0]
        for o in later[1:]:
            mx = F.greatest(mx, o)
        expr = F.when(scores[lang] >= mx, F.lit(lang)).otherwise(expr)
    return expr


def quality_cols(text: Column) -> dict[str, Column]:
    """Quality-scoring signals: length, token count, alpha ratio,
    punctuation ratio, mean token length.  All ratios are single IEEE
    divisions of integer counts (bit-reproducible)."""
    n_chars = F.length(text)
    n_tokens = token_count_col(text)
    n_alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
    n_punct = F.length(F.regexp_replace(text, r"[^.,;:!?]", ""))
    n_spaces = F.length(F.regexp_replace(text, r"[^ ]", ""))
    # try_divide: empty docs yield NULL ratios instead of failing under ANSI
    # (oracle mirror: x / nullif(y, 0))
    return {
        "n_chars": n_chars.cast("long"),
        "n_tokens": n_tokens.cast("long"),
        "alpha_ratio": F.try_divide(n_alpha.cast("double"), n_chars.cast("double")),
        "punct_ratio": F.try_divide(n_punct.cast("double"), n_chars.cast("double")),
        "mean_token_len": F.try_divide(
            (n_chars - n_spaces).cast("double"), n_tokens.cast("double")
        ),
    }


def fingerprint_cols(text: Column) -> dict[str, Column]:
    """Content fingerprint: md5 hex (identical across engines) + length."""
    return {"fp_md5": F.md5(text.cast("binary")), "fp_len": F.length(text).cast("long")}


def shingles_col(text: Column, k: int = 3) -> Column:
    """Word k-gram shingles, JVM-side:
    transform(sequence(1, n-k+1), i -> array_join(slice(tokens, i, k))).

    NOTE: nested higher-order functions evaluate INTERPRETED (outside
    whole-stage codegen) — fine as the per-row Column form (and the one the
    SQL oracles mirror), but operators that explode the shingles anyway
    should build rows with ``shingle_pos_rows`` below (codegen end to end,
    measured ~6× on the 10× bench tier)."""
    toks = F.split(F.trim(text), r"\s+")
    n = F.size(toks) - F.lit(k - 1)
    # guard sub-k-token documents: sequence(1, 0) generates a DESCENDING
    # [1, 0] (not an empty array), whose 0 index makes slice() throw at
    # runtime — short docs must short-circuit to an empty shingle set
    return F.when(
        n >= F.lit(1),
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.array_join(F.slice(toks, i, k), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingle_pos_rows(
    docs: DataFrame, k: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, pos, shingle) rows — row-form equivalent of
    ``posexplode(shingles_col(text, k))``, built as posexplode(tokens) +
    a lead() window instead of the nested-HOF transform: split, lead,
    concat_ws and the window all run inside whole-stage codegen, measured
    ~6× the HOF form at the 10× bench tier (3.8 s → 0.7 s for 2.6M
    shingles).  Exactly the same (pos, shingle) set per document: trailing
    windows shorter than k (lead NULL) are filtered, so documents with
    fewer than k tokens contribute no rows.

    Scale tradeoff (measured, not guessed): the window adds ONE shuffle of
    token rows (~linear in text bytes) where the HOF form had none — but
    every consumer (minhash signature, simhash vote, winnow min-window)
    aggregates per document anyway, and that groupBy/window REUSES this
    exchange's hash partitioning (verified: 1 Exchange total in the
    minhash signature plan), so the op trades zero-shuffle-interpreted for
    one-shuffle-codegen and wins ~6× CPU."""
    from pyspark.sql import Window as W

    toks = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("pos", "tok"),
    )
    w = W.partitionBy(id_col).orderBy("pos")
    leads = [F.col("tok")] + [F.lead("tok", i).over(w) for i in range(1, k)]
    return (
        toks.withColumn("shingle", F.concat_ws(" ", *leads))
        # window expressions are not allowed in WHERE — materialize the
        # last lead as a column, then filter on it
        .withColumn("_last", leads[-1])
        .filter(F.col("_last").isNotNull())
        .select(id_col, "pos", "shingle")
    )


#: BPE-ish pre-tokenizer classes (letters / digits / punctuation runs) —
#: deliberately restricted to character classes whose semantics agree
#: between Java regex (Spark) and RE2 (DuckDB), so the count is exactly
#: cross-engine oracle-able
BPE_TOKEN_PATTERN = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+"


def bpe_token_count_col(text: Column) -> Column:
    """Sub-word-style token count: length of the BPE-ish regex split
    (letters runs + digit runs + punctuation runs — the GPT-2-style
    pre-tokenization shape, without the library dependency)."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_PATTERN), 0))


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 3,
    window: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, fp) rows: the document's WINNOWING sketch — for every
    sliding window of ``window`` consecutive word-k-gram hashes, keep the
    window minimum; distinct minima form the sketch (Schleimer et al.'s
    local fingerprinting: any sufficiently long match between two
    documents is guaranteed to share a fingerprint).

    Entirely relational — shingle hash (the cross-engine 60-bit md5
    contract, dedup._shingle_hash60_col) → min OVER a ROWS window per doc
    → distinct — so the operator is exactly SQL-oracle-able and runs
    entirely in whole-stage codegen (shingle rows via the lead-window
    shingle_pos_rows, not the interpreted HOF)."""
    from pyspark.sql import Window as W

    from libosmtools_spark.dedup.dedup import _shingle_hash60_col

    sh = shingle_pos_rows(docs, k, id_col, text_col).withColumn(
        "h", _shingle_hash60_col(F.col("shingle"))
    )
    w = (
        W.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(W.currentRow, window - 1)
    )
    return (
        sh.withColumn("fp", F.min("h").over(w))
        # only windows fully inside the document (the trailing partial
        # windows re-emit suffix minima; dropping them matches the paper's
        # n-w+1 window count and keeps the SQL mirror trivial)
        .withColumn("n_sh", F.count("*").over(W.partitionBy(id_col)))
        .filter(F.col("pos") <= F.col("n_sh") - window)
        .select(id_col, "fp")
        .distinct()
    )
