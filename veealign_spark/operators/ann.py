"""Similarity search over embedding columns (array<float>).

- `cosine_topk`: brute-force top-k — the exact baseline. The dot
  product is a pure SQL expression (zip_with + left-fold aggregate in
  a fixed order, so results are bit-reproducible across engines), the
  top-k is a window. O(|Q| * |C|) — fine for moderate |Q|, and the
  recall oracle for the bucketed variant.
- `cosine_neardup_blocked`: all pairs above a cosine threshold within
  a blocking column (e.g. a coarse cluster label) — the blocked form
  that scales.
- `lsh_hyperplane_buckets` + `lsh_topk`: random-hyperplane signed LSH.
  Hyperplanes are deterministic (seeded) and shipped as a literal
  array expression, so bucketing stays JVM-side; at 100 TB the bucket
  join replaces the cross join entirely (probe multiple tables /
  hamming-adjacent buckets to trade recall for cost).

All cosines are computed in float64 regardless of storage type.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from veealign_spark.functions.text_norm import cosine_expr
from veealign_spark.operators.dedup import _spread_if_narrow


# ---------------------------------------------------------------------------
# Vectorized (Arrow) pair scoring — bit-identical to the SQL fold.
#
# The aggregate/zip_with cosine is a CodegenFallback expression: every
# element of every PAIR is evaluated interpreted. (An unrolled 64-term
# arithmetic chain was tried first and is worse: it blows Janino's method
# limit inside whole-stage codegen and the fallback evaluates a 400-node
# nested tree per row.) The scalable form is guide §4.2: let the JVM do
# scan/join/window, hand the pair batches to numpy. np.cumsum accumulates
# strictly left-to-right in float64 — the same op order as the SQL fold —
# and the trailing `+ 0.0` reproduces the fold's 0.0 seed on the -0.0
# edge, so every float64 bit (dot, norms, cosine) matches the expression
# path exactly (asserted against cosine_expr in tests).
# ---------------------------------------------------------------------------


def _vec2d(s, dim: int) -> "np.ndarray":
    a = np.vstack(s.to_numpy())
    return a.astype(np.float64) if a.dtype != np.float64 else a


def _cos_pd(dim: int):
    """pandas UDF: raw float64 cosine of two fixed-`dim` vectors,
    bit-identical to cosine_expr (left-to-right folds, same greatest
    clamp). Rounding stays JVM-side at the call site."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def cos(a: pd.Series, b: pd.Series) -> pd.Series:
        A, B = _vec2d(a, dim), _vec2d(b, dim)
        dot = (A * B).cumsum(axis=1)[:, -1] + 0.0
        na = np.sqrt((A * A).cumsum(axis=1)[:, -1] + 0.0)
        nb = np.sqrt((B * B).cumsum(axis=1)[:, -1] + 0.0)
        return pd.Series(dot / np.maximum(na * nb, 1e-12))

    return cos


def _pair_cosine(qv, cv, dim: int | None):
    """Pair cosine Column: vectorized Arrow path when `dim` is known,
    interpreted SQL fold otherwise. Same bits either way."""
    if dim is None:
        return cosine_expr(qv, cv)
    return _cos_pd(dim)(qv, cv)


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbours of each query among the corpus
    (self-matches excluded). Returns (query_id, neighbor_id, rank, cos).
    Pass `dim` when the vector dimension is known: pair scoring then
    runs vectorized over Arrow batches (same float64 bits), and the
    nested-loop join streams the CORPUS side (parallel across its
    partitions) while broadcasting the queries — the scale shape for
    few-queries-vs-large-corpus."""
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    if dim is None:
        pairs = q.crossJoin(c)
    else:
        pairs = _spread_if_narrow(c).crossJoin(F.broadcast(q))
    scored = (
        pairs.filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos",
            F.round(_pair_cosine(F.col("qv"), F.col("cv"), dim), round_to),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def cosine_neardup_blocked(
    embeddings: DataFrame,
    threshold: float = 0.9,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
    dim: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs (cos >= threshold) within blocks."""
    e = embeddings.select(
        F.col(id_col).alias("id"), F.col(block_col).alias("blk"), F.col(vec_col).alias("v")
    )
    a = e.select(F.col("id").alias("id_a"), "blk", F.col("v").alias("va"))
    b = e.select(F.col("id").alias("id_b"), "blk", F.col("v").alias("vb"))
    return (
        a.join(b, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos",
            F.round(_pair_cosine(F.col("va"), F.col("vb"), dim), round_to),
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def hyperplanes(dim: int, n_planes: int = 12, seed: int = 11) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def _bucket_expr(v, dim: int, n_planes: int, seed: int):
    """Sign-bit signature Column under seeded random hyperplanes,
    a literal-array dot product (JVM-side)."""
    H = hyperplanes(dim, n_planes, seed)
    bucket = F.lit(0).cast("long")
    for j in range(n_planes):
        plane = F.array(*[F.lit(float(x)) for x in H[j]])
        dot = F.aggregate(
            F.zip_with(v, plane, lambda a, b: a.cast("double") * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(dot > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return bucket


def _buckets_pd(dim: int, n_planes: int, seeds: list[int]):
    """pandas UDF: array of sign-bit bucket signatures (one per plane
    set in `seeds`) for a fixed-`dim` vector column. Per-plane dots use
    the same left-to-right float64 fold as _bucket_expr (np.cumsum), so
    every sign bit — and therefore every bucket id — is identical to
    the expression path; the work is vectorized instead of interpreted
    per element per plane."""
    from pyspark.sql.functions import pandas_udf

    H = np.stack([hyperplanes(dim, n_planes, s) for s in seeds])  # (T, P, D)
    powers = (np.int64(1) << np.arange(n_planes, dtype=np.int64))

    @pandas_udf("array<bigint>")
    def buckets(v: pd.Series) -> pd.Series:
        V = _vec2d(v, dim)
        out = np.zeros((len(V), H.shape[0]), dtype=np.int64)
        for t in range(H.shape[0]):
            for j in range(n_planes):
                dots = (V * H[t, j]).cumsum(axis=1)[:, -1]
                out[:, t] += (dots > 0) * powers[j]
        return pd.Series(list(out))

    return buckets


def lsh_hyperplane_buckets(
    embeddings: DataFrame,
    dim: int,
    n_planes: int = 12,
    seed: int = 11,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, bucket) — bucket = sign-bit signature under seeded random
    hyperplanes, computed as a literal-array dot product (JVM-side)."""
    return embeddings.select(
        F.col(id_col).alias("id"),
        _bucket_expr(F.col(vec_col), dim, n_planes, seed).alias("bucket"),
    )


def _cap_bucket_members(nbr: DataFrame, bucket_cols: list[str], cap: int) -> DataFrame:
    """Hot-bucket guard for the ANN bucket joins (the dedup
    star-reduction's sibling): keep at most `cap` neighbour-side
    members per bucket, chosen by deterministic md5 order, so a
    degenerate bucket (constant/zero vectors all hashing together, k
    members) emits at most k*cap candidate pairs instead of k^2.
    Queries are never dropped — every query still gets up to `cap`
    candidates from its bucket, which for a degenerate bucket (all
    members equally similar) is a recall-neutral cut. Task-level skew
    of the remaining k*cap pairs is AQE skew-join territory (the
    session config enables spark.sql.adaptive)."""
    w = Window.partitionBy(*bucket_cols).orderBy(
        F.md5(F.col("neighbor_id").cast("string")), F.col("neighbor_id")
    )
    return (
        nbr.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= cap)
        .drop("__rn")
    )


def lsh_candidates_multiprobe(
    embeddings: DataFrame,
    dim: int,
    n_planes: int = 8,
    n_tables: int = 4,
    probe_bits: int | None = None,
    seed: int = 11,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate (query_id, neighbor_id, qv, cv) pairs via multi-table,
    multi-probe hyperplane LSH.

    Two recall knobs (the round-1 review gap):
    - `n_tables` independent plane sets (seed+t): a true neighbour is
      found if ANY table buckets it with the query — recall
      1-(1-p^b)^L for per-plane collision prob p.
    - hamming-distance-1 probing: each query additionally probes the
      `probe_bits` buckets that differ in one sign bit (neighbours just
      across one hyperplane), at probe_bits x candidate cost within a
      table instead of a whole extra table.

    All bucketing is JVM expressions; candidates are deduplicated
    across tables/probes BEFORE cosine scoring so each pair is scored
    once. The recall/cost contract (>=0.9 recall at k=5, <=20% of the
    brute-force pair count on a clustered corpus) is pinned by
    tests/test_operators.py::test_lsh_multiprobe_recall_vs_cost."""
    pb = n_planes if probe_bits is None else probe_bits
    e = embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    # all n_tables signatures in ONE vectorized pass + posexplode: the
    # t-table union form rescanned the source once per table (and the
    # q/c sides below each re-derive `home`, doubling that again — 2*t
    # scans); here each side is a single scan whatever n_tables is,
    # with identical (id, tbl, bucket) rows out. Buckets come from the
    # Arrow-batched signer (bit-identical sign bits, see _buckets_pd)
    # instead of n_tables*n_planes interpreted fold expressions.
    # lazy checkpoint: the q (probe-exploded) and c sides are DIFFERENT
    # subplans over `home`, so exchange reuse cannot deduplicate them —
    # without the checkpoint the signing pass runs once per side
    # (measured min-of-5: 0.94 -> 0.72 s at sf0.1 with it)
    home = e.select(
        "id",
        F.posexplode(
            _buckets_pd(dim, n_planes, [seed + t for t in range(n_tables)])(
                F.col("v")
            )
        ).alias("tbl", "bucket"),
    ).localCheckpoint(eager=False)
    probes = F.explode(
        F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << j)) for j in range(pb)],
        )
    )
    q = home.select(F.col("id").alias("query_id"), "tbl", probes.alias("bucket"))
    c = home.select(F.col("id").alias("neighbor_id"), "tbl", "bucket")
    if max_bucket_size:
        c = _cap_bucket_members(c, ["tbl", "bucket"], max_bucket_size)
    # one repartition by query_id up front: HashPartitioning(query_id)
    # satisfies the clustering the pair-dedup aggregate needs (subset
    # of its keys) AND the downstream top-k window's — so dedup and
    # the per-query ranking both run shuffle-free on this partitioning
    # instead of exchanging once for (query_id, neighbor_id) and again
    # for query_id
    pairs = (
        q.join(c, ["tbl", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .repartition("query_id")
        .dropDuplicates()
    )
    return (
        pairs.join(e.select(F.col("id").alias("query_id"), F.col("v").alias("qv")), "query_id")
        .join(e.select(F.col("id").alias("neighbor_id"), F.col("v").alias("cv")), "neighbor_id")
    )


def lsh_topk_multiprobe(
    embeddings: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 4,
    probe_bits: int | None = None,
    seed: int = 11,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Approximate top-k with the multi-table / multi-probe candidate
    generator; exact cosine within candidates."""
    cand = lsh_candidates_multiprobe(
        embeddings, dim, n_planes, n_tables, probe_bits, seed, id_col, vec_col,
        max_bucket_size=max_bucket_size,
    )
    scored = cand.withColumn(
        "cos",
        F.round(_pair_cosine(F.col("qv"), F.col("cv"), dim), round_to),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def _l2_expr(v, c):
    return F.aggregate(
        F.zip_with(v, c, lambda a, b: (a.cast("double") - b) * (a.cast("double") - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def ivf_cells(
    embeddings: DataFrame,
    n_cells: int = 16,
    n_probe: int = 2,
    seed: int = 11,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_rows_per_cell: int = 256,
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer: k-means centroids (pyspark.ml KMeans,
    seeded) over the corpus; returns (corpus_cells, probe_cells) —
    each vector's home cell, and each query's n_probe nearest cells.

    Cell assignment stays JVM-side: the centroid table is tiny and
    broadcast; distance is a zip_with/aggregate expression, so the only
    per-row cost is n_cells fused arithmetic ops — no Python, no UDF.
    The centroids are trained on a seeded SAMPLE of the corpus, not
    all of it: `train_rows_per_cell * n_cells` rows suffice for a
    coarse quantizer, and fitting KMeans over the full corpus would
    make the cheap index build cost a multiple of the scan at 100 TB
    (small corpora below the target sample size train on everything,
    so fixture results are unchanged)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    spark = embeddings.sparkSession
    e = embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    train = e.select(array_to_vector(F.col("v").cast("array<double>")).alias("features"))
    target = train_rows_per_cell * n_cells
    n = train.count()
    if n > target:
        train = train.sample(fraction=min(1.0, 1.25 * target / n), seed=seed)
    model = KMeans(k=n_cells, seed=seed, featuresCol="features").fit(train)
    centers_df = F.broadcast(
        spark.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
            "cell int, center array<double>",
        )
    )
    assign = e.crossJoin(centers_df).withColumn("d", _l2_expr(F.col("v"), F.col("center")))
    w = Window.partitionBy("id").orderBy("d", "cell")
    ranked = assign.withColumn("rn", F.row_number().over(w)).select(
        "id", "v", "cell", "rn"
    )
    return ranked.filter(F.col("rn") == 1).drop("rn"), ranked.filter(
        F.col("rn") <= n_probe
    ).drop("rn")


def ivf_topk(
    embeddings: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 2,
    seed: int = 11,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """IVF approximate top-k: queries probe their n_probe nearest
    k-means cells and score exact cosine against the cells' members —
    the centroid-bucketed alternative to hyperplane LSH (cells adapt
    to the data distribution, so recall at equal cost is usually
    higher on clustered corpora; recall/cost pinned in pytest)."""
    corpus_cells, probe_cells = ivf_cells(
        embeddings, n_cells, n_probe, seed, id_col, vec_col
    )
    q = probe_cells.select(
        F.col("id").alias("query_id"), F.col("v").alias("qv"), "cell"
    )
    c = corpus_cells.select(
        F.col("id").alias("neighbor_id"), F.col("v").alias("cv"), "cell"
    )
    scored = (
        q.join(c, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        # repartition by query_id first: one exchange serves both the
        # multi-probe dedup aggregate and the top-k window below
        .repartition("query_id")
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("cos", F.round(cosine_expr(F.col("qv"), F.col("cv")), round_to))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def kmeans_portable(
    X: "np.ndarray", n_cells: int, seed: int = 11, max_iter: int = 25
) -> "np.ndarray":
    """Deterministic engine-independent k-means (seeded kmeans++ init +
    Lloyd, float64). Used by the PORTABLE IVF quantizer: the coarse
    centroids come from a bounded, md5-bucket-sampled row set that any
    engine reproduces, so the whole IVF query becomes expressible as
    literals + arithmetic and lands under the DuckDB hash oracle
    (MLlib's KMeans|| is seeded per-JVM and not reproducible outside
    Spark — fine for the cluster-scale fit, useless for an oracle)."""
    rng = np.random.default_rng(seed)
    X = np.asarray(X, dtype=np.float64)
    n = len(X)
    k = min(n_cells, n)
    # kmeans++ init
    centers = [X[int(rng.integers(n))]]
    for _ in range(1, k):
        d2 = np.min(
            [((X - c) ** 2).sum(axis=1) for c in centers], axis=0
        )
        tot = d2.sum()
        if tot <= 0:
            centers.append(X[int(rng.integers(n))])
            continue
        # cumsum can round below 1.0 in float64; clamp so a drawn
        # uniform above the final cumulative sum can't index past X
        idx = int(np.searchsorted(np.cumsum(d2 / tot), rng.random()))
        centers.append(X[min(idx, n - 1)])
    C = np.array(centers)
    for _ in range(max_iter):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        newC = np.array(
            [X[assign == j].mean(axis=0) if (assign == j).any() else C[j]
             for j in range(k)]
        )
        if np.allclose(newC, C, atol=1e-12):
            C = newC
            break
        C = newC
    return C


def ivf_topk_portable(
    embeddings: DataFrame,
    centroids: "np.ndarray",
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
    dist_round: int = 6,
) -> DataFrame:
    """IVF top-k with caller-provided centroid literals: cell
    assignment is a pure expression (centroid table broadcast via a
    literal VALUES-style DataFrame, L2 distances rounded to
    `dist_round` before ranking so the argmin is stable across
    engines' summation orders), probing and exact cosine identical to
    ivf_topk. Fully DuckDB-expressible -> hash-oracled."""
    spark = embeddings.sparkSession
    dim = len(centroids[0]) if len(centroids) else None
    e = embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    centers_df = F.broadcast(
        spark.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
            "cell int, center array<double>",
        )
    )
    assign = e.crossJoin(centers_df).withColumn(
        "d", F.round(_l2_expr(F.col("v"), F.col("center")), dist_round)
    )
    w = Window.partitionBy("id").orderBy("d", "cell")
    # lazy checkpoint: corpus_cells and probe_cells are different
    # filters over the same ranked assignment — without it the
    # n_cells-way distance pass and its window run once per side
    # (measured min-of-5: 1.98 -> 1.22 s at sf0.1)
    ranked = assign.withColumn("rn", F.row_number().over(w)).select(
        "id", "v", "cell", "rn"
    ).localCheckpoint(eager=False)
    corpus_cells = ranked.filter(F.col("rn") == 1).drop("rn")
    probe_cells = ranked.filter(F.col("rn") <= n_probe).drop("rn")
    q = probe_cells.select(
        F.col("id").alias("query_id"), F.col("v").alias("qv"), "cell"
    )
    c = corpus_cells.select(
        F.col("id").alias("neighbor_id"), F.col("v").alias("cv"), "cell"
    )
    scored = (
        q.join(c, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        # repartition by query_id first: one exchange serves both the
        # multi-probe dedup aggregate and the top-k window below
        .repartition("query_id")
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn(
            "cos",
            F.round(_pair_cosine(F.col("qv"), F.col("cv"), dim), round_to),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w2).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def lsh_topk(
    embeddings: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 10,
    seed: int = 11,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Approximate top-k: exact cosine, but only within LSH buckets.
    The scale path — the cross join shrinks to bucket-local joins.
    `max_bucket_size` caps the neighbour side of each bucket (see
    _cap_bucket_members) so a degenerate bucket cannot emit k^2
    pairs."""
    # bucket computed ALONGSIDE the vector in one projection — the old
    # form joined embeddings back to lsh_hyperplane_buckets on id, a
    # self-join (shuffle + second scan) just to re-attach the vector
    # bucket computed ALONGSIDE the vector in one projection — the old
    # form joined embeddings back to lsh_hyperplane_buckets on id, a
    # self-join (shuffle + second scan) just to re-attach the vector.
    # Signatures come from the Arrow-batched signer (bit-identical
    # sign bits, see _buckets_pd) instead of n_planes interpreted folds.
    # lazy checkpoint: both join sides need (vector, bucket), so any
    # plan either scans+signs the corpus twice or materializes the
    # signed table once — the checkpoint picks materialize-once (the
    # same bytes the bucket-join shuffle moves anyway; measured
    # min-of-5: 0.75 -> 0.55 s at sf0.1)
    e = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.element_at(
            _buckets_pd(dim, n_planes, [seed])(F.col(vec_col)), 1
        ).alias("bucket"),
    ).localCheckpoint(eager=False)
    a = e.select(F.col("id").alias("query_id"), F.col("v").alias("qv"), "bucket")
    c = e.select(F.col("id").alias("neighbor_id"), F.col("v").alias("cv"), "bucket")
    if max_bucket_size:
        c = _cap_bucket_members(c, ["bucket"], max_bucket_size)
    scored = (
        a.join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos",
            F.round(_pair_cosine(F.col("qv"), F.col("cv"), dim), round_to),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )
