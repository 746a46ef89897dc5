"""Deduplication operators for large-scale corpus pipelines.

Four families, all expressed in built-in JVM functions (no Python in
the hot path) so they whole-stage-codegen and scale linearly:

- exact: md5(text) hash-groupBy — the map-side-combinable classic.
- MinHash + LSH banding: shingle -> seeded min-hash per band ->
  band-bucket equi-join. Hash = md5(seed || shingle) compared as a
  hex *string*: min over a uniformly distributed injective hex string
  is a valid min-hash and is engine-portable (identical in any SQL
  engine with md5), which keeps these operators oracle-checkable.
- SimHash: per-token md5-derived bit votes -> fingerprint int.
- n-gram Jaccard: shared-shingle equi-join + |A∩B| / |A∪B|.

Scale notes: the shingle self-join is the skew point (stop-shingles) —
`max_shingle_freq` drops shingles whose document frequency exceeds the
cap, the standard stop-shingle guard in MinHash dedup at corpus scale;
at 100 TB the band join keys get salted exactly like candidates.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tokens_col(text, pattern: str = r"\s+"):
    return F.filter(F.split(text, pattern), lambda w: w != "")


def shingles_col(text, n: int = 3):
    """Word n-gram shingles of a text column (array<string>).
    NB: sequence(1, 0) in Spark is DESCENDING [1, 0], so texts shorter
    than n need the explicit empty branch."""
    toks = tokens_col(text)
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    grams = F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def exact_duplicates(documents: DataFrame) -> DataFrame:
    """Exact dedup: one row per distinct text with keeper + group size."""
    return (
        documents.groupBy(F.md5("text").alias("text_hash"))
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count(F.lit(1)).alias("group_size"),
        )
    )


def _spread_if_narrow(df: DataFrame, *keys: str) -> DataFrame:
    """Spread a narrowly-partitioned table across the cluster ONLY when
    scan parallelism is actually short (compressed doc tables and small
    parquet corpora sometimes arrive as a few tiny files = too few
    partitions for CPU-heavy per-row work): hashed on `keys`, or
    round-robin without them. When the scan is already wide, an
    unconditional repartition reshuffles the whole corpus for nothing —
    the 100 TB anti-pattern."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(par // 2, 2):
        return df.repartition(par, *keys)
    return df


def doc_shingles(documents: DataFrame, n: int = 3, distinct: bool = True) -> DataFrame:
    """(doc_id, shingle) rows. Per-doc dedup happens inside the array
    expression (array_distinct) BEFORE the explode — a row-local pass,
    not a corpus-sized dropDuplicates shuffle."""
    grams = shingles_col(F.col("text"), n)
    if distinct:
        grams = F.array_distinct(grams)
    docs = _spread_if_narrow(documents, "doc_id")
    return docs.select("doc_id", F.explode(grams).alias("shingle"))


def minhash_signatures(
    documents: DataFrame, n_bands: int = 8, shingle_n: int = 3
) -> DataFrame:
    """(doc_id, band, minhash) — one min-hash per band via seeded md5.

    Explode + map-side-combined min per (doc, band): the partial agg
    collapses each task's shingle rows to n_bands rows per doc before
    the exchange, so the shuffle is signature-sized, not corpus-sized.
    (A nested array-expression formulation was tried and is ~8x
    slower: Catalyst re-evaluates the tokenizer inside each lambda
    element — higher-order functions don't get subexpression
    elimination.)"""
    sh = doc_shingles(documents, shingle_n)
    # all n_bands seeded hashes computed in ONE projection per shingle
    # row and min-aggregated as n_bands columns in ONE groupBy — the
    # band-explode form inflated the pre-aggregation row count n_bands-x
    # (8x rows through the partial aggregate for the same md5 work) and
    # shuffled (doc, band) keys instead of doc keys. Hash strings are
    # identical (str(band) + "|" + shingle), so every minhash matches.
    mins = [
        F.min(F.md5(F.concat(F.lit(f"{b}|"), F.col("shingle")))).alias(f"__h{b}")
        for b in range(n_bands)
    ]
    agg = sh.groupBy("doc_id").agg(*mins)
    stacked = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"), F.col(f"__h{b}").alias("minhash")
                )
                for b in range(n_bands)
            ]
        )
    )
    return agg.select("doc_id", stacked.alias("bm")).select(
        "doc_id", F.col("bm.band").alias("band"), F.col("bm.minhash").alias("minhash")
    )


def minhash_lsh_pairs(
    documents: DataFrame,
    n_bands: int = 8,
    shingle_n: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing a (band, minhash) bucket,
    with the number of agreeing bands (est. Jaccard = n_agree/n_bands).

    Hot-bucket guard (the 100 TB skew hazard: a mass-duplicate corpus
    puts k docs in one bucket and the naive self-join emits k(k-1)/2
    pairs on one task): buckets larger than `max_bucket_size` are
    STAR-REDUCED — every member pairs with the bucket's min doc_id hub
    only (k-1 pairs). Cluster recovery downstream (connected
    components) is unchanged because the star spans the same component;
    this keeps recall, unlike dropping hot buckets.

    Return contract under `max_bucket_size`: `n_bands_agree` is then
    only a LOWER bound on the true band-agreement count for pairs
    touching capped buckets (non-hub pairs inside a hot bucket are
    dropped entirely; hub pairs count only the bands where they met),
    so est. Jaccard = n_agree/n_bands is biased low there. Callers
    thresholding on n_bands_agree must either leave max_bucket_size
    unset or recover clusters via the downstream connected-components
    pass, for which the star is exact. The census is an
    aggregation of the signature table itself, co-partitioned with the
    join key, so the guard adds no extra shuffle of the big side (the
    census can be corpus-bucket-sized — never broadcast it)."""
    # Materialization policy (measured, r6): the UNCAPPED self-join's
    # two sides are identical subplans, so Spark's ReuseExchange serves
    # both from ONE shingle+min-hash computation and one shuffle —
    # plan-asserted in tests; a localCheckpoint there only added a
    # blocking job. The CAPPED path references the signature table four
    # ways (census, small a/b, star) where exchange reuse is partial
    # and recompute measured ~2x slower — it keeps the eager
    # checkpoint (signature table is n_bands rows/doc of ~50 bytes,
    # tiny next to the text it summarizes, so the materialization is
    # right at 100 TB too).
    sig = minhash_signatures(documents, n_bands, shingle_n)
    if max_bucket_size:
        sig = sig.localCheckpoint(eager=True)
        stats = (
            sig.groupBy("band", "minhash")
            .agg(
                F.count(F.lit(1)).alias("bucket_n"),
                F.min("doc_id").alias("hub"),
            )
        )
        sig = sig.join(stats, ["band", "minhash"])
        small = sig.filter(F.col("bucket_n") <= max_bucket_size)
        a = small.select(F.col("doc_id").alias("doc_a"), "band", "minhash")
        b = small.select(F.col("doc_id").alias("doc_b"), "band", "minhash")
        pairs = a.join(b, ["band", "minhash"]).filter(F.col("doc_a") < F.col("doc_b"))
        star = (
            sig.filter(
                (F.col("bucket_n") > max_bucket_size)
                & (F.col("doc_id") != F.col("hub"))
            )
            .select(
                F.col("hub").alias("doc_a"),
                F.col("doc_id").alias("doc_b"),
                "band",
                "minhash",
            )
        )
        pairs = pairs.select("doc_a", "doc_b").unionByName(
            star.select("doc_a", "doc_b")
        )
    else:
        a = sig.select(F.col("doc_id").alias("doc_a"), "band", "minhash")
        b = sig.select(F.col("doc_id").alias("doc_b"), "band", "minhash")
        pairs = (
            a.join(b, ["band", "minhash"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
        )
    return pairs.groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).alias("n_bands_agree")
    )


def simhash_fingerprints(documents: DataFrame, n_bits: int = 16) -> DataFrame:
    """Per-doc SimHash: bit j votes +1/-1 per distinct token by parity
    of hex char j of md5(token); fingerprint = sum of set bits << j.

    The two-level explode+aggregate form is kept deliberately: a
    single-aggregate variant with n_bits per-bit sum columns measured
    ~2x SLOWER (interleaved min-of-5) — the wide aggregation buffer
    costs more than the bit-explode that partial aggregation collapses
    in-task. The corpus repartition is conditional (guard shared with
    doc_shingles): only a narrow scan is spread, a wide corpus is
    never reshuffled before this map-side-combinable aggregate."""
    docs = _spread_if_narrow(documents, "doc_id")
    toks = docs.select(
        "doc_id",
        F.explode(F.array_distinct(tokens_col(F.col("text")))).alias("tok"),
    )
    bits = toks.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(n_bits - 1))).alias("bit"),
        F.md5("tok").alias("h"),
    ).withColumn(
        "vote",
        (F.ascii(F.substring(F.col("h"), F.col("bit") + 1, 1)) % 2) * 2 - 1,
    )
    return (
        bits.groupBy("doc_id", "bit")
        .agg(F.sum("vote").alias("s"))
        .withColumn(
            "bitval",
            F.when(F.col("s") > 0, F.expr("shiftleft(1L, bit)")).otherwise(F.lit(0)),
        )
        .groupBy("doc_id")
        .agg(F.sum("bitval").alias("simhash"))
    )


def ngram_jaccard_pairs(
    documents: DataFrame,
    shingle_n: int = 3,
    min_jaccard: float = 0.5,
    max_shingle_freq: int = 100,
    block_col: str | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs found via the shared-
    shingle join (optionally restricted to a blocking column)."""
    sh = doc_shingles(documents, shingle_n)
    if max_shingle_freq:
        hot = (
            sh.groupBy("shingle")
            .count()
            .filter(F.col("count") > max_shingle_freq)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    if block_col:
        blk = documents.select("doc_id", F.col(block_col).alias("blk"))
        a = a.join(blk.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        b = b.join(blk.withColumnRenamed("doc_id", "doc_b"), "doc_b")
        inter = a.join(b, ["shingle", "blk"])
    else:
        inter = a.join(b, "shingle")
    pairs = (
        inter.filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        pairs.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("doc_a", "doc_b", "n_inter", "jaccard")
    )


def cross_corpus_contamination(
    documents: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    min_shared: int = 1,
) -> DataFrame:
    """Training-corpus DECONTAMINATION — the n-gram-overlap rule used
    to scrub evaluation sets out of web-scale training data (the GPT-3
    appendix-C 13-gram protocol family; PAPERS.md): a training document
    is contaminated iff it shares at least `min_shared` DISTINCT word
    n-grams with the benchmark corpus. Returns (doc_id, n_shared) for
    contaminated documents.

    Scale shape: the benchmark side (eval sets — tiny next to a 100 TB
    training corpus) is shingled, deduplicated and broadcast-joinable;
    the training side streams through the shingle equi-join with
    map-side distinct inside the row (array_distinct in doc_shingles),
    so state is benchmark-sized and work is corpus-proportional."""
    d = doc_shingles(documents, n)
    b = doc_shingles(benchmark, n).select("shingle").distinct()
    return (
        d.join(b, "shingle")
        .groupBy("doc_id")
        .agg(F.count_distinct("shingle").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
