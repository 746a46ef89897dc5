"""Distributed pair scoring — the dual-attention kernel as a Spark
operator (K1-K10; SURVEY.md §2.8).

Dataflow: contexts are encoded JVM-side into fixed-shape arrays
(encode_features / encode_prop_contexts — J5 "embedify" as a join
against the vocabulary, label substitution P2 included), candidates
(ent1, ent2) are hash-joined to the per-key encoded table once per
side (J6), and one `mapInArrow` per entity kind streams the Arrow
batches through the pure-numpy kernel (kernel_np, K1-K9). Strings
never cross into Python, and no per-row Python object is made: the
matcher is Siamese (a side's representation depends on its own entity
only, train.py:335-338), so each batch dictionary-encodes its entity
keys, reads each distinct entity's columns once as flat Arrow values,
encodes it once, and indexes the pairs into those representations for
the cosines. A pair with a context-less side takes the direct
raw-name-cosine route (A6, the KeyError fallback of train.py:384-397).

Where a token's vector comes from is a VectorSource, chosen by
vocabulary size (PipelineConfig.vocab_broadcast_threshold):

- broadcast: the (indexer, matrix) pair rides a SparkContext
  broadcast (the reference's frozen nn.Embedding, train.py:248-250,
  was the same idea single-node). Encoders resolve int64 indices;
  executors gather matrix rows.
- pre-joined: the vectors themselves are joined from the distributed
  dim table (build_embeddings_table) — no driver collect, no
  broadcast, unbounded vocabulary; the rows carry d times the bytes.

Both sources feed the same kernel entry points with the same float64
vectors, so the two layouts agree to within ~1 ulp (BLAS accumulation
order can differ with batch shape) — asserted by tests/test_prejoined.py.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.broadcast import Broadcast
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from veealign_spark.functions.embeddings import embed_terms_np, embed_udf_factory
from veealign_spark.functions.text_norm import norm_label_col, normalize_term
from veealign_spark.operators import adaptive, kernel_np
from veealign_spark.operators.kernel_np import KernelParams

# Domain and range slots per property context (the K10 prop-list pad).
MAX_PROP_LEN = 16


def term_universe(
    triples: DataFrame,
    concepts: DataFrame | None = None,
    label_map: DataFrame | None = None,
) -> DataFrame:
    """Distinct raw terms whose embeddings the kernel may look up:
    every subject/object/predicate local name (the reference embeds
    each unique extracted element once — data_preprocessing.py:192,
    the manual dedup-before-embed optimization). When a P2 label map
    is given, its labels join the universe — ids with rdfs:labels are
    embedded via their label (data_preprocessing.py:195-197)."""
    terms = (
        triples.select(F.col("subj").alias("term"))
        .unionByName(triples.select(F.col("obj").alias("term")))
        .unionByName(triples.select(F.col("pred").alias("term")))
    )
    if concepts is not None:
        terms = terms.unionByName(
            concepts.select(F.coalesce("label", "id").alias("term"))
        )
    if label_map is not None:
        terms = terms.unionByName(label_map.select(F.col("label").alias("term")))
    return terms.distinct()


def _substitute_labels(
    df: DataFrame, src_col, tok_col, label_map: DataFrame | None
):
    """P2 at the embed boundary (data_preprocessing.py:195-197,
    ontology.py:224-227): tokens that are labeled ids embed via their
    rdfs:label. Broadcast join on (src, id); returns df with `tok`
    replaced by coalesce(label, tok). No-op when label_map is None."""
    out = df.withColumn("__tok", tok_col).withColumn("__src", src_col)
    if label_map is None:
        return out
    # dedupe join keys: an id declared under several elements (legal
    # RDF/XML) would otherwise fan out rows and blow up the downstream
    # map_from_entries with duplicate map keys; keep the minimum label
    # per (src, id) — a deterministic stand-in for the reference
    # dict's first-writer-wins
    lm = label_map.groupBy(
        F.col("src").alias("__src"), F.col("id").alias("__tok")
    ).agg(F.min("label").alias("__label"))
    return (
        out.join(F.broadcast(lm), ["__src", "__tok"], "left")
        .withColumn("__tok", F.coalesce("__label", "__tok"))
        .drop("__label")
    )


def scalable_rank(
    df: DataFrame, key: str = "key", start: int = 1, idx_col: str = "idx",
    small_rows: int | None = None,
) -> DataFrame:
    """Deterministic dense global rank by `key`, size-adaptive.

    At or below `small_rows` (default adaptive.small_input_rows; env
    VEEALIGN_SMALL_INPUT_ROWS) a plain ``row_number() over (order by
    key)`` runs — one partition is correct AND fastest there (one pass,
    no census jobs). Above it, the scale path: range-repartition on the
    key, per-partition row_number, then add the cumulative partition-
    size offset (tiny driver census — one row per PARTITION, never per
    key), so no corpus-sized table crosses a single-partition exchange
    (the Window.orderBy scale-killer). Total order over a range
    partition is the global sort order, so both paths equal
    row_number() over a global sort.

    The input is materialized once (lazy localCheckpoint + count — one
    job) so the size probe and the rank read one upstream compute
    (upstream here is usually the embed UDF / term-universe distinct —
    the expensive part). Checkpoint blocks are context-cleaned when the
    DataFrame is released, unlike persist(), which pins blocks in the
    cache registry until an explicit unpersist (repeated callers such
    as limit_negatives in the k-fold loop were accumulating cached
    blocks for the session lifetime)."""
    if small_rows is None:
        small_rows = adaptive.small_input_rows()
    spark = df.sparkSession
    df = df.localCheckpoint(eager=False)
    if df.count() <= small_rows:
        return df.withColumn(
            idx_col,
            (F.row_number().over(Window.orderBy(key)) + F.lit(start - 1)).cast("long"),
        )
    n = max(spark.sparkContext.defaultParallelism, 2)
    ranked = (
        df.repartitionByRange(n, key)
        .sortWithinPartitions(key)
        .withColumn("__pid", F.spark_partition_id())
        .withColumn(
            "__rn",
            F.row_number().over(Window.partitionBy("__pid").orderBy(key)),
        )
        .localCheckpoint(eager=True)  # pin partition ids across reuse
    )
    counts = ranked.groupBy("__pid").agg(F.count(F.lit(1)).alias("c")).collect()
    pids, offs, acc = [], [], start - 1
    for r in sorted(counts, key=lambda r: r["__pid"]):
        pids.append(r["__pid"])
        offs.append(acc)
        acc += r["c"]
    off_df = spark.createDataFrame(
        pa.table({"__pid": pids or [0], "__off": offs or [0]}), "__pid int, __off long"
    )
    return (
        ranked.join(F.broadcast(off_df), "__pid")
        .withColumn(idx_col, (F.col("__off") + F.col("__rn")).cast("long"))
        .drop("__pid", "__rn", "__off")
    )


def build_embeddings_table(
    spark: SparkSession,
    triples: DataFrame,
    dim: int,
    concepts: DataFrame | None = None,
    label_map: DataFrame | None = None,
    terms: DataFrame | None = None,
    external: DataFrame | None = None,
) -> DataFrame:
    """Distributed embeddings dim table (EMBEDDINGS schema): normalized
    term -> (idx, vec). Deterministic: idx assigned by sorted term rank
    via the two-level scalable_rank (no single-partition sort); idx 0
    stays reserved for the all-zero <UNK>/pad row — the row-0-zeros
    invariant, data_preprocessing.py:201,245.

    `external` is the bring-your-own-encoder seam (S3/S4 unified —
    the reference loads precomputed USE vectors,
    data_preprocessing.py:25-29, and merges a vector cache,
    train.py:72-87): a (term, vec:array<double>) table, any term
    spelling (normalized here; normalization is idempotent). Terms it
    covers take its vectors verbatim; uncovered terms fall back to the
    deterministic stub — so a deployment swaps encoders by publishing
    a vectors table, never touching engine code."""
    embed = embed_udf_factory(dim)
    base = terms if terms is not None else term_universe(triples, concepts, label_map)
    norm = (
        base.select(norm_label_col(F.col("term")).alias("key"))
        .filter(F.col("key") != "")
        .distinct()
    )
    ranked = scalable_rank(norm, "key")
    if external is None:
        return ranked.withColumn("vec", embed(F.col("key")))
    ext = normalize_external(external, dim).withColumnRenamed("vec", "__ext_vec")
    return (
        ranked.join(ext, "key", "left")
        .withColumn("vec", F.coalesce("__ext_vec", embed(F.col("key"))))
        .drop("__ext_vec")
    )


def normalize_external(external: DataFrame, dim: int | None = None) -> DataFrame:
    """Canonicalize a bring-your-own-encoder (term, vec) table into a
    (key, vec) table with exactly one row per normalized key. BOTH
    vector layouts (pre-joined build_embeddings_table and broadcast
    external_vec_map) resolve duplicates through this single function,
    so they can never silently pick different vectors for the same key:
    when several raw term spellings normalize to one key, the winner is
    min(vec) under Spark's lexicographic array ordering — a defined,
    layout-independent choice (the old per-path dropDuplicates kept an
    arbitrary partition-order row, ADVICE r4).

    `dim`: when given, wrong-length vectors FAIL FAST here (bounded
    limit(1) probe) instead of flowing a mis-shaped array into the
    kernel where it would surface as an opaque reshape error."""
    ext = (
        external.select(
            norm_label_col(F.col("term")).alias("key"),
            F.col("vec").cast("array<double>").alias("vec"),
        )
        .filter(F.col("key") != "")
    )
    if dim is not None:
        bad = ext.filter(F.size("vec") != dim).limit(1).collect()
        if bad:
            raise ValueError(
                f"external vectors table: key {bad[0]['key']!r} has "
                f"dimension {len(bad[0]['vec'])}, expected emb_dim={dim}"
            )
    return ext.groupBy("key").agg(F.min("vec").alias("vec"))


def external_vec_map(external: DataFrame, keys: list[str], dim: int | None = None) -> dict:
    """normalized-key -> np.ndarray for the given vocabulary slice of
    an external (term, vec) table. Inner join against the (bounded,
    driver-held) vocabulary then collect — the result is at most
    vocabulary-sized, the same bound the broadcast layout already
    lives under. Duplicate/shape handling delegates to
    normalize_external so both vector layouts resolve identically."""
    spark = external.sparkSession
    tdf = spark.createDataFrame(pa.table({"key": keys}), "key string")
    rows = (
        normalize_external(external, dim)
        .join(F.broadcast(tdf), "key")
        .collect()
    )
    return {r["key"]: np.asarray(r["vec"], dtype=np.float64) for r in rows}


def refresh_embeddings(
    existing: DataFrame | None, new_terms: DataFrame, dim: int
) -> DataFrame:
    """S3 embedding-cache merge: embed only terms absent from the
    existing dim table (the reference's pickle-cache merge loop,
    train.py:72-87, as an anti-join + union). `new_terms` has a
    single `term` column (raw); existing follows EMBEDDINGS schema
    minus idx (key, vec)."""
    norm_terms = (
        new_terms.select(norm_label_col(F.col("term")).alias("key"))
        .filter(F.col("key") != "")
        .distinct()
    )
    embed = embed_udf_factory(dim)
    if existing is None:
        fresh = norm_terms
        base = None
    else:
        base = existing.select("key", "vec")
        fresh = norm_terms.join(base.select("key"), "key", "left_anti")
    fresh_emb = fresh.withColumn("vec", embed(F.col("key")))
    merged = fresh_emb if base is None else base.unionByName(fresh_emb)
    return scalable_rank(merged, "key")


class EmbBroadcast:
    """(indexer, matrix) broadcast pair. Row 0 is the zero UNK row.

    from_terms holds the full vocabulary on the driver — that is the
    broadcast layout's defining constraint, bounded by
    PipelineConfig.vocab_broadcast_threshold (above it the pipeline
    builds the pre-joined source instead; see the module banner).
    """

    def __init__(self, bc):
        self.bc = bc

    @classmethod
    def from_terms(
        cls, spark: SparkSession, terms: list[str], dim: int,
        max_rows: int = 5_000_000,
        external: DataFrame | None = None,
    ) -> "EmbBroadcast":
        """`external`: optional (term, vec) table — the bring-your-own
        -encoder seam (see build_embeddings_table). Covered keys take
        the external vectors verbatim; the stub fills the rest."""
        if len(terms) > max_rows:
            raise ValueError(
                f"EmbBroadcast.from_terms over {len(terms)} terms exceeds "
                f"max_rows={max_rows} — route this vocabulary to the "
                "pre-joined source (PipelineConfig.vocab_broadcast_threshold "
                "below the vocabulary size) instead"
            )
        keys = sorted({normalize_term(t) for t in terms} - {""})
        mat = np.vstack([np.zeros((1, dim)), embed_terms_np(keys, dim)])
        if external is not None:
            ext = external_vec_map(external, keys, dim)
            for i, k in enumerate(keys):
                v = ext.get(k)
                if v is not None:
                    mat[i + 1] = v
        return cls(spark.sparkContext.broadcast(
            {"indexer": {k: i + 1 for i, k in enumerate(keys)}, "matrix": mat}
        ))


@dataclass(eq=False)
class VectorSource:
    """Where a token's embedding comes from — the only thing the two
    layouts differ in. `table` maps a normalized term (`norm`) to `val`.

    - broadcast (`bc` set): `val` is the int64 row of the broadcast
      matrix. The table is broadcast-joined, the pad is index 0 (the
      zero row), Arrow carries int64 index arrays and each executor
      gathers matrix rows.
    - pre-joined (`bc` None): `val` is the vector itself, from the
      distributed build_embeddings_table; it is plain-joined, the pad
      is the zero vector, and Arrow carries the flattened vectors.
    """

    table: DataFrame
    dim: int
    bc: Broadcast | None = None

    @classmethod
    def broadcast(cls, spark: SparkSession, emb: EmbBroadcast) -> "VectorSource":
        state = emb.bc.value
        idx = state["indexer"]
        # built from an Arrow table, which Spark holds as a LocalRelation:
        # a list of tuples would be parallelized and re-pickled by a
        # PythonRDD, starting a second Python daemon and one worker per
        # core just to ship vocabulary-sized rows
        table = spark.createDataFrame(
            pa.table({"norm": list(idx), "val": list(idx.values())}),
            "norm string, val long",
        )
        return cls(table, state["matrix"].shape[1], emb.bc)

    @classmethod
    def prejoined(cls, emb_table: DataFrame, dim: int) -> "VectorSource":
        # lazy localCheckpoint: every lookup reads one computation of
        # the embed UDF instead of re-running it per consumer plan
        table = emb_table.select(F.col("key").alias("norm"), F.col("vec").alias("val"))
        return cls(table.localCheckpoint(eager=False), dim)

    @property
    def val_type(self) -> str:
        return "long" if self.bc is not None else "array<double>"

    def pad(self):
        return F.lit(0) if self.bc is not None else F.array_repeat(F.lit(0.0), self.dim)

    def lookup(self, df: DataFrame, *keep: str, out: str = "val") -> DataFrame:
        """`keep` columns of df plus its `norm` resolved to `out` (pad
        when the term is out of vocabulary)."""
        t = F.broadcast(self.table) if self.bc is not None else self.table
        return df.join(t, "norm", "left").select(
            *keep, F.coalesce("val", self.pad()).alias(out)
        )

    def fill(self, m: str, lo: int, n: int):
        """Dense values of positions [lo, lo+n) of the pos -> val map
        column `m`, pad where absent; vectors are flattened so every
        slot is one fixed-length array."""
        cells = F.transform(
            F.sequence(F.lit(lo), F.lit(lo + n - 1)),
            lambda i: F.coalesce(F.element_at(m, i.cast("int")), self.pad()),
        )
        return cells if self.bc is not None else F.flatten(cells)

    def gather(self):
        """Executor-side reader: one side's Arrow column, nulls already
        dropped -> float64 [n, *shape, d]. A list column is read as its
        flat values (ListArray.flatten, no per-row objects) reshaped; an
        int64 index column is read as it is. On the broadcast source
        the values are matrix rows, gathered as kernel_np's index entry
        points do (emb[idx]), so both sources feed the kernel the same
        vectors. The returned function holds only the broadcast handle
        and d, never a DataFrame, so it pickles into the UDF."""
        d, bc = self.dim, self.bc

        def read(col: pa.Array, shape=()) -> np.ndarray:
            n = len(col)
            if not pa.types.is_integer(col.type):
                col = col.flatten()
            vals = col.to_numpy(zero_copy_only=False)
            if bc is None:
                return vals.reshape(n, *shape, d)
            return bc.value["matrix"][vals.reshape(n, *shape)]

        return read


# ---------------------------------------------------------------------------
# Encoders: JVM-side embedify (J5) of contexts into fixed-shape arrays, so
# strings never cross into Python.
# ---------------------------------------------------------------------------

def _flat_feature_positions(P: int, L: int):
    """Ragged features -> array<struct<pos,tok>> with pos the row-major
    [t][p][l] position."""
    return F.flatten(
        F.transform(
            F.col("features"),
            lambda slot, t: F.flatten(
                F.transform(
                    slot,
                    lambda path, p: F.transform(
                        path,
                        lambda tok, l: F.struct(
                            (t * P * L + p * L + l).alias("pos"),
                            tok.alias("tok"),
                        ),
                    ),
                )
            ),
        )
    )


def _position_map(df: DataFrame, keys: list[str], val_type: str) -> DataFrame:
    """Group (keys, pos, val) rows into one pos -> val map column `m`
    (a null pos — an entity with no context — adds no entry)."""
    entry = F.when(F.col("pos").isNotNull(), F.struct(F.col("pos"), F.col("val")))
    return df.groupBy(*keys).agg(
        F.map_from_entries(
            F.array_agg(entry).cast(f"array<struct<pos:int,val:{val_type}>>")
        ).alias("m")
    )


def encode_features(
    features: DataFrame,
    source: VectorSource,
    max_types: int = 4,
    max_paths: int = 2,
    max_pathlen: int = 4,
    label_map: DataFrame | None = None,
) -> DataFrame:
    """(key, node, feat): `node` is the entity's own name value and
    `feat` the dense [t][p][l] grid (row-major) of T*P*L token values,
    pad where a slot is empty — int64 indices on the broadcast source,
    T*P*L*d doubles on the pre-joined one.

    Normalization and lookup run JVM-side (norm_label_col + one join
    against the source table); the ragged->dense scatter uses a
    position map (map_from_entries + sequence fill).
    """
    T, P, L = max_types, max_paths, max_pathlen
    flat = _flat_feature_positions(P, L)
    exploded = _substitute_labels(
        features.select(
            "src",
            F.concat_ws("#", "src", "entity").alias("key"),
            F.col("entity").alias("ent_local"),
            F.explode_outer(flat).alias("pt"),
        ),
        F.col("src"),
        F.col("pt.tok"),
        label_map,
    ).select(
        "key",
        "ent_local",
        F.col("__src").alias("e_src"),
        F.col("pt.pos").alias("pos"),
        norm_label_col(F.col("__tok")).alias("norm"),
    )
    keys = ["key", "ent_local", "e_src"]
    dense = _position_map(
        source.lookup(exploded, *keys, "pos"), keys, source.val_type
    ).select(*keys, source.fill("m", 0, T * P * L).alias("feat"))
    node = _substitute_labels(
        dense, F.col("e_src"), F.col("ent_local"), label_map
    ).select("key", "feat", norm_label_col(F.col("__tok")).alias("norm"))
    return source.lookup(node, "key", "feat", out="node").select("key", "node", "feat")


def encode_prop_contexts(
    prop_contexts: DataFrame,
    source: VectorSource,
    label_map: DataFrame | None = None,
) -> DataFrame:
    """(key, self, dom, rng): the property's own name value plus dense
    MAX_PROP_LEN-slot domain and range arrays (see encode_features for
    the value layout). One explode + one groupBy for all three slots
    (tagged positions)."""
    M = MAX_PROP_LEN
    base = prop_contexts.select(
        "src",
        F.concat_ws("#", "src", "prop").alias("key"),
        F.col("prop").alias("prop_local"),
        F.slice("domains", 1, M).alias("domains"),
        F.slice("ranges", 1, M).alias("ranges"),
    )
    # tagged flat positions: self at -1, domains at [0, M), ranges at [M, 2M)
    tagged = F.concat(
        F.array(F.struct(F.lit(-1).alias("pos"), F.col("prop_local").alias("tok"))),
        F.transform(
            F.col("domains"),
            lambda tok, i: F.struct(i.alias("pos"), tok.alias("tok")),
        ),
        F.transform(
            F.col("ranges"),
            lambda tok, i: F.struct((i + M).alias("pos"), tok.alias("tok")),
        ),
    )
    ex = _substitute_labels(
        base.select("src", "key", F.explode(tagged).alias("pt")),
        F.col("src"),
        F.col("pt.tok"),
        label_map,
    ).select(
        "key", F.col("pt.pos").alias("pos"), norm_label_col(F.col("__tok")).alias("norm")
    )
    dense = _position_map(
        source.lookup(ex, "key", "pos"), ["key"], source.val_type
    )
    return dense.select(
        "key",
        F.coalesce(F.element_at("m", -1), source.pad()).alias("self"),
        source.fill("m", 0, M).alias("dom"),
        source.fill("m", M, M).alias("rng"),
    )


def encode_nodes(
    keys: DataFrame,
    source: VectorSource,
    label_map: DataFrame | None = None,
) -> DataFrame:
    """(key, node) for `src#id` keys — the direct-route name lookups."""
    local = F.substring_index(F.col("key"), "#", -1)
    src = F.substring_index(F.col("key"), "#", 1)
    named = _substitute_labels(keys.select("key"), src, local, label_map).select(
        "key", norm_label_col(F.col("__tok")).alias("norm")
    )
    return source.lookup(named, "key", out="node")


# ---------------------------------------------------------------------------
# Scorers: one join per candidate side, one Arrow boundary per entity kind,
# pure numpy over the batch (kernel_np's embedding entry points).
# ---------------------------------------------------------------------------

_SCORES = "ent1 string, ent2 string, score double"


def _join_sides(
    candidates: DataFrame,
    enc: DataFrame,
    source: VectorSource,
    label_map: DataFrame | None,
) -> DataFrame:
    """Candidates joined once per side to one per-key dim table: `d`,
    the endpoint's name value for the direct route (A6), plus the
    encoded columns of `enc` (null when the entity has no context).
    `d` covers every candidate endpoint, so the left join keeps every
    pair; the lazy localCheckpoint shares one computation between both
    side joins. Columns come back suffixed 1/2 per side."""
    endpoints = (
        candidates.select(F.col("ent1").alias("key"))
        .unionByName(candidates.select(F.col("ent2").alias("key")))
        .distinct()
    )
    cols = ["d"] + [c for c in enc.columns if c != "key"]
    dim = (
        encode_nodes(endpoints, source, label_map)
        .withColumnRenamed("node", "d")
        .join(enc, "key", "left")
        .localCheckpoint(eager=False)
    )
    j = candidates
    for s in "12":
        j = j.join(
            dim.select(
                F.col("key").alias(f"ent{s}"),
                *[F.col(c).alias(f"{c}{s}") for c in cols],
            ),
            f"ent{s}",
            "left",
        )
    return j.select("ent1", "ent2", *[f"{c}{s}" for s in "12" for c in cols])


class _Sides:
    """The distinct entities of one candidate batch (rows ent1, ent2
    plus each side's columns suffixed 1/2, as _join_sides emits them).

    Every key has exactly one encoded row (_position_map groups by key;
    the label map is deduplicated), so an entity's columns are read once,
    from the side and row where it first occurs. The entity table lists
    the side-1 entities first; `e1`/`e2` are each pair's two positions
    in it."""

    def __init__(self, batch: pa.RecordBatch):
        n = batch.num_rows
        keys = pa.concat_arrays([batch.column("ent1"), batch.column("ent2")])
        codes = keys.dictionary_encode().indices.to_numpy()
        _, first = np.unique(codes, return_index=True)
        order = np.argsort(first)
        rank = np.empty_like(order)
        rank[order] = np.arange(len(order))
        first = first[order]
        k = np.searchsorted(first, n)
        self.batch = batch
        self.rows = (first[:k], first[k:] - n)
        self.e1, self.e2 = rank[codes[:n]], rank[codes[n:]]

    def has(self, col: str) -> np.ndarray:
        """Per entity: whether its `col` is set (it has an encoding)."""
        return np.concatenate([
            self.batch.column(f"{col}{s}").is_valid().to_numpy(zero_copy_only=False)[r]
            for s, r in zip("12", self.rows)
        ])

    def pick(self, pairs: np.ndarray):
        """The entities on either side of the `pairs` rows, as a mask
        over the entity table, and each of those rows' two positions
        among them."""
        need = np.zeros(len(self.rows[0]) + len(self.rows[1]), dtype=bool)
        e1, e2 = self.e1[pairs], self.e2[pairs]
        need[e1] = need[e2] = True
        at = np.cumsum(need) - 1
        return need, at[e1], at[e2]

    def take(self, col: str, need: np.ndarray) -> pa.Array:
        """Column `col` of the entities in `need`, one row each."""
        k = len(self.rows[0])
        return pa.concat_arrays([
            self.batch.column(f"{col}{s}").take(r[m])
            for s, r, m in zip("12", self.rows, (need[:k], need[k:]))
        ])


def _siamese_scores(batch: pa.RecordBatch, read, has: str, encode, compare) -> np.ndarray:
    """Scores of one batch: rows whose two sides both have `has` set
    compare `encode`'s per-entity representations; the rest take the
    A6 direct route, the raw name-embedding cosine of `d` (Quirk Q3
    resolved to the reference's intent, sim >= threshold). `encode`
    gets a `get(col, shape=())` reader of the picked entities."""
    sides = _Sides(batch)
    ok = sides.has(has)
    hit = ok[sides.e1] & ok[sides.e2]
    scores = np.empty(batch.num_rows, dtype=np.float64)
    routes = (
        (hit, encode, compare),
        (~hit, lambda get: get("d"), kernel_np.direct_cosine),
    )
    for rows, rep, cmp in routes:
        if rows.any():
            need, a1, a2 = sides.pick(rows)
            r = rep(lambda col, shape=(): read(sides.take(col, need), shape))
            scores[rows] = cmp(r[a1], r[a2])
    return scores


def concept_batch_scores(
    batch: pa.RecordBatch, read, p: KernelParams, max_types: int = 4
) -> np.ndarray:
    """K1-K8 over one batch of score_concepts' joined rows: each
    distinct entity's contextual representation once, then the pair
    cosines. `read` is VectorSource.gather()."""
    shape = (max_types, p.max_paths, p.max_pathlen)
    return _siamese_scores(
        batch, read, "f",
        lambda get: kernel_np.concept_reps_emb(get("n"), get("f", shape), p),
        kernel_np.cosine,
    )


def prop_batch_scores(batch: pa.RecordBatch, read, p: KernelParams) -> np.ndarray:
    """K9 over one batch of score_props' joined rows: each distinct
    property's (self, domains, ranges) sum-pooled once — slots in
    position order like emb[prop_features].sum(axis=-2) — then the
    pair's three-cosine mixture."""
    M = MAX_PROP_LEN
    return _siamese_scores(
        batch, read, "self",
        lambda get: np.stack(
            [get("self"), get("dom", (M,)).sum(axis=-2), get("rng", (M,)).sum(axis=-2)],
            axis=1,
        ),
        lambda a, b: kernel_np.score_property_pairs_emb(np.stack([a, b], axis=1), p),
    )


def _map_scores(
    j: DataFrame, score, source: VectorSource, params: KernelParams, *args
) -> DataFrame:
    """One mapInArrow over the joined rows: `score(batch, read, p,
    *args)` per non-empty Arrow batch, keys passed through as they
    came."""
    read = source.gather()
    p_dict = params.to_dict()

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        p = KernelParams.from_dict(p_dict)
        for b in batches:
            if b.num_rows:
                yield pa.RecordBatch.from_arrays(
                    [b.column("ent1"), b.column("ent2"), pa.array(score(b, read, p, *args))],
                    names=["ent1", "ent2", "score"],
                )

    return j.mapInArrow(run, _SCORES)


def score_concepts(
    candidates: DataFrame,
    enc_features: DataFrame,
    source: VectorSource,
    params: KernelParams,
    max_types: int = 4,
    label_map: DataFrame | None = None,
) -> DataFrame:
    """Concept pairs -> (ent1, ent2, score) over encode_features output
    (K1-K8). Pairs with a side lacking encoded features take the direct
    route (A6), the reference's KeyError fallback (train.py:384-397)."""
    j = _join_sides(
        candidates,
        enc_features.select("key", F.col("node").alias("n"), F.col("feat").alias("f")),
        source,
        label_map,
    )
    return _map_scores(j, concept_batch_scores, source, params, max_types)


def score_props(
    candidates: DataFrame,
    enc_props: DataFrame,
    source: VectorSource,
    params: KernelParams,
    label_map: DataFrame | None = None,
) -> DataFrame:
    """Property pairs (K9): sum-pooled (self, domains, ranges) cosine
    mixture (train.py:339-346). Props without an encoded context row
    (never seen with both a domain and a range — possible when the
    property universe comes from parsed OWL, S1) take the direct
    route (A6)."""
    j = _join_sides(
        candidates, enc_props.select("key", "self", "dom", "rng"), source, label_map
    )
    return _map_scores(j, prop_batch_scores, source, params)
