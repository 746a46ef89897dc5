"""Candidate-pair generation (J1-J3; SURVEY.md §2.3).

The reference takes the full itertools.product of the two concept
universes (data_preprocessing.py:53-54) — O(n1*n2) pairs is fine at
OAEI fixture scale (~100 concepts a side) and fatal at 10^12-turn
scale. Both generators take ONE concept table holding every source and
emit each cross-source pair once, as data (self-join on src1 < src2,
ent1 from the lexicographically smaller source):

- `cross_candidates_multi`: the faithful cross product (fixture scale,
  and the recall oracle for blocking tests);
- `blocked_candidates_multi`: SparkER-style token blocking (cf.
  "SparkER: Scaling Entity Resolution in Spark", EDBT 2019 —
  PAPERS.md): each entity emits one blocking key per normalized-name
  token (plus its top root ancestor as a context key), candidates are
  the equi-join on key, deduplicated. Head tokens (stopword-ish,
  Zipf-hot) are the skew hazard: keys whose frequency over all sources
  exceeds `hot_key_threshold` are salted — one join side gets
  pmod(xxhash64(key), n_salt) appended, the other is replicated across
  all salt values (explicit replicate pattern; AQE skew-join remains on
  as the fallback). This is the north_rule "skew handled explicitly"
  clause.

Blocking recall contract: any pair sharing >=1 normalized name token
or a top ancestor survives. Pairs with zero lexical/context overlap
are exactly the ones the name-embedding kernel scores ~0, so blocking
loses only pairs the threshold would reject. The emitted set is pinned
against a pure-Python reference by tests/test_candidates.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from veealign_spark.functions.text_norm import norm_label_col


def with_norm(concepts: DataFrame) -> DataFrame:
    """P1/P2-style normalized label: coalesce(label, id) -> norm tokens.

    (The reference resolves coded IDs to rdfs:labels, ontology.py:
    224-227; here `label` plays that role when present.)
    """
    base = F.coalesce(F.col("label"), F.col("id"))
    return concepts.withColumn("norm", norm_label_col(base)).withColumn(
        "key", F.concat_ws("#", "src", "id")
    )


def cross_candidates_multi(concepts: DataFrame) -> DataFrame:
    """J1 across ALL source pairs in one plan node: pairs are generated
    as data via a self-join on src1 < src2 instead of a per-pair Python
    loop (which grows the plan O(S^2) in the number of sources — the
    many-source KG-fusion scale hazard). Orientation: ent1 comes from
    the lexicographically smaller source."""
    a = with_norm(concepts).select(
        F.col("src").alias("src1"), F.col("key").alias("ent1")
    )
    b = with_norm(concepts).select(
        F.col("src").alias("src2"), F.col("key").alias("ent2")
    )
    return a.crossJoin(b).filter(F.col("src1") < F.col("src2")).select("ent1", "ent2")


def _blocking_keys(
    concepts: DataFrame,
    top_ancestor: DataFrame | None,
    lexicon: DataFrame | None = None,
) -> DataFrame:
    toks = with_norm(concepts).select(
        "key", F.explode(F.split("norm", " ")).alias("block_key")
    )
    if lexicon is not None:
        # cross-lingual blocking: map tokens to canonical forms via a
        # broadcast lexicon (multifarm-style sources share no surface
        # tokens; the canonicalized token is the block key)
        toks = (
            toks.join(
                F.broadcast(lexicon.select(F.col("token").alias("block_key"),
                                           F.col("canonical"))),
                "block_key",
                "left",
            )
            .select("key", F.coalesce("canonical", "block_key").alias("block_key"))
        )
    if top_ancestor is not None:
        anc = top_ancestor.select(
            F.concat_ws("#", "src", "entity").alias("key"),
            F.concat(F.lit("anc:"), F.col("ancestor")).alias("block_key"),
        )
        toks = toks.unionByName(anc)
    return toks.filter(F.col("block_key") != "").dropDuplicates()


def blocked_candidates_multi(
    concepts: DataFrame,
    top_ancestor: DataFrame | None = None,
    hot_key_threshold: int = 1000,
    n_salt: int = 16,
    lexicon: DataFrame | None = None,
    touch_sources: list[str] | None = None,
) -> DataFrame:
    """J1' across ALL source pairs in one self-join (pairs-as-data,
    like cross_candidates_multi), with explicit hot-key salting: the
    assigned side hashes hot keys into n_salt buckets, the
    replicated side explodes across all of them, so a Zipf-hot block
    key never lands on a single task.

    `touch_sources` restricts output to pairs where at least one side
    belongs to the listed sources, by filtering the JOIN SIDES (two
    one-small-side joins, union, dedup) rather than the output — the
    incremental-ingest shape, where standing-vs-standing join work
    must not be paid at all. Block censuses still run over the full
    universe (hotness is a property of the combined corpus), and the
    emitted pair set is exactly the unrestricted output filtered to
    pairs touching the listed sources."""
    # lazy checkpoint: the key table feeds the hot census AND both join
    # sides — three references over an entity-universe-sized table
    # whose build includes the regex normalization and a dedup
    # aggregate; materializing once measured min-of-5 0.53 -> 0.30 s
    # at bench scale (keys are short strings — never corpus-sized)
    k = _blocking_keys(concepts, top_ancestor, lexicon).withColumn(
        "src", F.substring_index("key", "#", 1)
    ).localCheckpoint(eager=False)
    freq = k.groupBy("block_key").count()
    hot = freq.filter(F.col("count") > hot_key_threshold).select(
        "block_key", F.lit(True).alias("is_hot")
    )
    k1s = (
        k.join(F.broadcast(hot), "block_key", "left")
        .withColumn(
            "salt",
            F.when(
                F.col("is_hot"), F.pmod(F.xxhash64("key"), F.lit(n_salt))
            ).otherwise(F.lit(0)),
        )
        .drop("is_hot")
    )
    salts = F.when(
        F.col("is_hot"), F.sequence(F.lit(0), F.lit(n_salt - 1))
    ).otherwise(F.array(F.lit(0)))
    k2s = (
        k.join(F.broadcast(hot), "block_key", "left")
        .withColumn("salt", F.explode(salts.cast("array<bigint>")))
        .drop("is_hot")
    )
    k2sel = k2s.select(
        "block_key",
        "salt",
        F.col("key").alias("key2"),
        F.col("src").alias("src2"),
    )

    def pair_join(left, right):
        return (
            left.join(right, ["block_key", "salt"])
            .filter(F.col("src") < F.col("src2"))
            .select(F.col("key").alias("ent1"), F.col("key2").alias("ent2"))
        )

    if touch_sources is None:
        return pair_join(k1s, k2sel).dropDuplicates()
    return (
        pair_join(k1s.filter(F.col("src").isin(touch_sources)), k2sel)
        .unionByName(
            pair_join(k1s, k2sel.filter(F.col("src2").isin(touch_sources)))
        )
        .dropDuplicates()
    )
