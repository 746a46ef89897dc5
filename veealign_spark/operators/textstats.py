"""Text-analysis operators for training-data pipelines: token stats,
quality scoring, marker-based language ID, document fingerprinting.
All built-in JVM expressions (codegen'd, engine-portable for oracle
checks)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from veealign_spark.operators.dedup import shingles_col, tokens_col

# marker stopwords per language for the n-gram-heuristic language ID;
# deterministic and intentionally tiny (a real pipeline would plug a
# model here via the same operator shape)
LANG_MARKERS = {
    "en": ["the", "a", "value"],
    "dataeng": ["spark", "stream", "batch"],
    "olap": ["agg", "scan", "filter"],
}
STOPWORDS = ["the", "a"]


# BPE-ish subword segmentation (GPT-2-style pretokenizer approximation,
# alternation-only so the same pattern runs in Java regex AND RE2/
# DuckDB): contractions | space?-letter-run | space?-digit-run |
# space?-punct-run. Counts approximate LLM token budgets far better
# than whitespace tokens on code/punctuation-heavy text.
BPE_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+"


def bpe_tokens_col(text):
    return F.regexp_extract_all(text, F.lit(BPE_PATTERN), F.lit(0))


def token_stats(documents: DataFrame) -> DataFrame:
    toks = tokens_col(F.col("text"))
    return documents.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
        F.length("text").cast("long").alias("n_chars"),
        F.size(bpe_tokens_col(F.col("text"))).cast("long").alias("n_bpe_tokens"),
    )


def quality_scores(documents: DataFrame) -> DataFrame:
    """Deterministic quality heuristics: length, stopword ratio, mean
    token length, type-token ratio, composite score."""
    toks = tokens_col(F.col("text"))
    n = F.size(toks).cast("double")
    n_stop = F.size(F.filter(toks, lambda w: w.isin(*STOPWORDS))).cast("double")
    mean_len = (F.length(F.regexp_replace("text", r"\s+", "")) / n).cast("double")
    ttr = F.size(F.array_distinct(toks)) / n
    return documents.select(
        "doc_id",
        F.round(n_stop / n, 6).alias("stopword_ratio"),
        F.round(mean_len, 6).alias("mean_token_len"),
        F.round(ttr, 6).alias("type_token_ratio"),
        F.round(
            (1 - n_stop / n) * ttr * F.least(n / F.lit(100.0), F.lit(1.0)), 6
        ).alias("quality"),
    )


def language_id(documents: DataFrame) -> DataFrame:
    """Marker-token voting language ID. Ties break by marker-set name
    order; zero votes -> 'unk'."""
    toks = tokens_col(F.col("text"))
    df = documents.select("doc_id", toks.alias("toks"))
    langs = sorted(LANG_MARKERS)
    for lang in langs:
        markers = LANG_MARKERS[lang]
        df = df.withColumn(
            f"v_{lang}", F.size(F.filter(F.col("toks"), lambda w: w.isin(*markers))).cast("long")
        )
    best = F.greatest(*[F.col(f"v_{lang}") for lang in langs])
    pred = F.lit("unk")
    for lang in reversed(langs):  # earlier name wins ties
        pred = F.when(
            (F.col(f"v_{lang}") == best) & (best > 0), F.lit(lang)
        ).otherwise(pred)
    return df.select(
        "doc_id", pred.alias("pred_lang"), *[F.col(f"v_{lang}") for lang in langs]
    )


def fingerprints(documents: DataFrame, shingle_n: int = 5) -> DataFrame:
    """Document fingerprint: min md5 over word n-grams (winnowing-style
    single fingerprint) + shingle cardinality.

    The row-local array form is kept deliberately: an explode +
    min/count_distinct aggregate variant measured 2-4x SLOWER
    (interleaved min-of-5) — shuffling |doc|x|shingles| rows and the
    distinct-agg Expand cost more than the interpreted per-element
    transform saves. Only the corpus repartition changed (r6): it is
    now conditional on scan parallelism (shared _spread_if_narrow
    guard) instead of an unconditional corpus reshuffle."""
    from veealign_spark.operators.dedup import _spread_if_narrow

    sh = shingles_col(F.col("text"), shingle_n)
    documents = _spread_if_narrow(documents, "doc_id")
    return documents.select(
        "doc_id",
        F.array_min(F.transform(sh, lambda s: F.md5(s))).alias("fingerprint"),
        F.size(F.array_distinct(sh)).cast("long").alias("n_shingles"),
    )


# PII patterns — regexes with no lookaround, compiling identically in
# Java regex and RE2/DuckDB, so redaction is oracle-checkable.
# Deliberately conservative/recall-leaning: training corpora scrub
# aggressively and accept some over-masking. ORDER MATTERS: the
# specific shapes (SSN, IPV4) run before the greedy PHONE class so a
# digits-and-hyphens SSN is tagged <SSN>, not swallowed as a phone.
PII_PATTERNS = [
    ("EMAIL", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("SSN", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b"),
    ("IPV4", r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"),
    ("PHONE", r"\+?[0-9][0-9()\-\s]{7,}[0-9]"),
]


def redact_pii(
    documents: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, text, redacted, n_redactions): every PII match replaced by
    its <TYPE> tag — the standard web-corpus scrub pass, pure chained
    regexp_replace (one codegen'd projection, no Python, no shuffle).
    n_redactions counts the substitutions actually made: each
    pattern's matches are counted against the partially-redacted text
    it sees in the chain, so a span masked by an earlier pattern is
    never double-counted."""
    cur = F.col(text_col)
    counts = F.lit(0)
    for tag, pat in PII_PATTERNS:
        counts = counts + F.size(
            F.regexp_extract_all(cur, F.lit(pat), F.lit(0))
        )
        cur = F.regexp_replace(cur, pat, f"<{tag}>")
    return documents.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("text"),
        cur.alias("redacted"),
        counts.cast("long").alias("n_redactions"),
    )


def repetition_stats(
    documents: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher/MassiveText-style repetition signals per document:
    top_token_frac (share of the most frequent token) and
    dup_2gram_frac (1 - distinct/total word 2-grams). High values mark
    degenerate/boilerplate text that repetition filters drop.

    Scale shape: dup_2gram_frac is a pure per-row projection computed
    BEFORE the explode, then carried (8 bytes/row) through the token
    shuffle — one corpus scan total, vs the naive two-scan-plus-join
    plan. The two aggregations are map-side combinable; docs with no
    tokens are dropped (no signal), matching the oracle's inner join."""
    from veealign_spark.operators.dedup import shingles_col, tokens_col

    grams = shingles_col(F.lower(F.col(text_col)), 2)
    dup = F.when(
        F.size(grams) > 0,
        1.0 - F.size(F.array_distinct(grams)) / F.size(grams),
    ).otherwise(F.lit(0.0))
    # Two-step select: with explode in the same projection, Catalyst
    # hoists the sibling expressions ABOVE the Generate, re-evaluating
    # the O(len^2) shingle expression once per token. Materializing
    # dup/toks in a lower projection keeps it once per document
    # (plan-asserted in tests/test_operators.py).
    per_doc = documents.select(
        F.col(id_col).alias("id"),
        dup.alias("dup_2gram_frac"),
        tokens_col(F.lower(F.col(text_col))).alias("toks"),
    )
    t = per_doc.select("id", "dup_2gram_frac", F.explode("toks").alias("tok"))
    per_tok = t.groupBy("id", "tok").agg(
        F.count(F.lit(1)).alias("c"),
        F.first("dup_2gram_frac").alias("d"),
    )
    return per_tok.groupBy("id").agg(
        (F.max("c") / F.sum("c")).alias("top_token_frac"),
        F.first("d").alias("dup_2gram_frac"),
    )
