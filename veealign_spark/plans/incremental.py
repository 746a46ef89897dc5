"""Source-grain incremental ingest: link NEW sources against a
standing KG without recomputing standing-vs-standing work.

The deployment shape this serves: a 10^12-turn corpus has already been
resolved into a standing KG (run_pipeline / previous increments); a
new feed (a new ontology, a new transcript source) arrives and must be
aligned against everything standing. Rerunning the batch pipeline
scales with the CORPUS; an increment scales with the INCREMENT.

There is one KG stage graph (plans/pipeline.py `_build_kg`): a batch
build is an increment onto the empty KG, and `incremental_update` runs
the same graph onto the standing KG. It relies on these properties:

- contexts / features / prop-contexts are per-source (subclass and
  property edges never cross sources — reference ontology.py parses
  each ontology independently), so the standing tables are reused
  verbatim and the linear stages run over the new triples only;
- candidate pairs are generated over the combined concept universe
  but filtered to pairs touching a new source BEFORE the expensive
  kernel-scoring stage — standing-vs-standing pairs are never
  re-scored;
- cluster merge re-closes the standing clusters with the newly
  accepted pairs, and the KG tables are remapped, not rebuilt.

Because of the per-source context property, the incremental result is
IDENTICAL to a full batch rerun over the union (same accepted set,
same cluster partition, same canonical ids, same KG tables) whenever
the config (threshold, max_types, kernel params) is held fixed —
pinned by tests/test_incremental.py.

What runs before the graph: the A5 arity pin, the increment's
fingerprint (which namespaces its stage names), and the source-overlap
check. The two source-universe probes collect DISTINCT source names
(feed count, not corpus size); a real deployment keeps a source
registry table instead of deriving it from the corpus. Standing dicts
from older runs may lack the concept/prop dim tables, the vocabulary or
the KG tables; those are re-derived from the standing triples and
clusters (one corpus scan each).
"""

from __future__ import annotations

import hashlib
from dataclasses import replace as _dc_replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from veealign_spark.operators import canonicalize, scoring
from veealign_spark.plans.pipeline import (  # noqa: F401 (score_candidates_stage: re-exported)
    PipelineConfig,
    _build_kg,
    concepts_from_triples,
    props_from_triples,
    score_candidates_stage,
)


def _src_of(col):
    return F.split(col, "#").getItem(0)


def incremental_update(
    spark: SparkSession,
    standing: dict,
    new_transcripts: DataFrame | None = None,
    new_triples: DataFrame | None = None,
    config: PipelineConfig | None = None,
    gold: DataFrame | None = None,
    label_map: DataFrame | None = None,
) -> dict:
    """Align new sources against `standing` (a run_pipeline /
    incremental_update result dict, or the same keys re-read from
    materialized tables: triples, contexts, features, prop_contexts,
    accepted, clusters [, concepts, props, vocab, kg_triples]). Returns
    the same result shape as run_pipeline over the union (without
    `params`), plus `new_sources` and `new_triples`."""
    cfg = config or PipelineConfig()
    # A5 arity must be the STANDING run's: increment feature arrays are
    # unioned with standing features, so a re-derived max_types over
    # the union (or a mismatched explicit one) would silently mis-shape
    # the scoring tensors. run_pipeline records max_types in its result.
    std_mt = standing.get("max_types")
    if cfg.derive_types:
        if std_mt is None:
            raise ValueError(
                "incremental_update: derive_types=True but the standing "
                "result carries no 'max_types' to pin the feature arity "
                "(an arity re-derived over the union can differ from the "
                "standing features' — silently wrong scores). Pass a "
                "run_pipeline/incremental_update result dict, or set "
                "cfg.max_types explicitly with derive_types=False."
            )
        cfg = _dc_replace(cfg, derive_types=False, max_types=std_mt)
    elif std_mt is not None and std_mt != cfg.max_types:
        raise ValueError(
            f"incremental_update: cfg.max_types={cfg.max_types} != standing "
            f"run's max_types={std_mt}; increment features would carry a "
            "different type arity than the standing features they union with"
        )

    # increment identity BEFORE any staging: the source set PLUS a
    # content signature (row count + order-independent xxhash64 sum
    # over all input columns). Stage names are namespaced by this
    # fingerprint, so a shared checkpoint_dir resumes a stage ONLY for
    # the same increment BATCH — a different feed, a chained increment,
    # AND (ADVICE r4) a corrected/re-fed batch for the SAME new sources
    # all get fresh stage dirs instead of silently loading the previous
    # increment's staged parquet. The signature job scans only the
    # increment batch (small by design — never the standing corpus).
    if new_triples is not None:
        sig_df = new_triples
        src_probe = new_triples.select("src")
    elif new_transcripts is not None:
        sig_df = new_transcripts
        src_probe = new_transcripts.select(
            F.substring_index("conv_id", "_", 1).alias("src")
        )
    else:
        raise ValueError("incremental_update needs new_transcripts or new_triples")
    new_srcs = sorted(r["src"] for r in src_probe.distinct().collect())
    sig = sig_df.select(
        F.count(F.lit(1)).alias("n"),
        # decimal sum: order-independent and ANSI-overflow-safe
        F.sum(F.xxhash64(*sig_df.columns).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    inc_fp = hashlib.md5(
        f"{','.join(new_srcs)}|{sig['n']}|{sig['h'] or 0}".encode()
    ).hexdigest()[:10]
    inc = f"inc_{inc_fp}"

    std_triples = standing["triples"]
    std_srcs = {r["src"] for r in std_triples.select("src").distinct().collect()}
    overlap = std_srcs.intersection(new_srcs)
    if overlap:
        raise ValueError(
            "source-grain ingest: new batch must introduce NEW sources "
            f"(in-place source growth changes standing contexts); overlap: {sorted(overlap)}"
        )

    # standing dicts from older runs lack some tables: re-derive them
    # from the standing triples and clusters
    base = dict(standing)
    if base.get("concepts") is None:
        base["concepts"] = concepts_from_triples(std_triples)
    if base.get("props") is None:
        base["props"] = props_from_triples(std_triples)
    if base.get("vocab") is None:
        base["vocab"] = scoring.term_universe(std_triples, base["concepts"], label_map)
    if base.get("kg_triples") is None:
        base["kg_triples"] = canonicalize.materialize_kg(
            std_triples, standing["clusters"]
        )["kg_triples"]

    # stage names carry the inc_<fingerprint>_ prefix, so a shared
    # checkpoint_dir resumes the batch build and each increment exactly
    res, new = _build_kg(
        spark, cfg, base, new_transcripts, new_triples, gold, label_map,
        touch_sources=new_srcs, prefix=f"{inc}_",
    )
    del res["params"]
    return {**res, "new_triples": new, "new_sources": new_srcs}


def incremental_remove(
    spark: SparkSession,
    standing: dict,
    remove_sources: list[str],
    config: PipelineConfig | None = None,
) -> dict:
    """Retract whole sources from a standing KG — the deletion twin of
    incremental_update — without re-scoring any remaining pair.

    Additions only MERGE connected components (incremental_update's
    premise); removal SPLITS them, which no remap can express. The key
    property making retraction cheap anyway: an accepted edge between
    two clusters would have merged them, so no remaining edge crosses
    from a cluster containing a removed entity to one that does not.
    Therefore only the clusters that contained a removed-source entity
    ("affected") can change; every other (entity, canon_id) row is
    reused verbatim, and connected components re-runs ONLY on the
    affected clusters' remaining accepted edges — a subgraph bounded
    by the removed sources' alignment degree, not by the corpus or
    even the match graph.

    Work profile: per-source tables (triples / contexts / features /
    prop_contexts / concepts / props) filter on their src column;
    accepted pairs filter on endpoint source; the CC re-run is
    affected-subgraph-sized. The ONLY corpus-proportional step is the
    KG re-materialization (one linear rewrite+dedup scan) — the
    canonical kg_triples table keeps no per-source provenance, so a
    triple asserted by both a removed and a remaining source cannot be
    subtracted in place. (A provenance-counted KG table would make
    this step KG-sized too; the kernel-scoring quadratic — the actual
    scale wall — is skipped entirely either way.)

    Equality contract (tests/test_incremental.py): under a fixed
    config (threshold, max_types — same caveat as incremental_update's
    arity pin), the result is bit-identical on accepted / clusters /
    kg_* to a full run_pipeline over the remaining sources. Pair
    scores are pairwise-local (features are per-source, embeddings
    per-term), and blocking is recall-complete per pair, so the union
    run's accepted pairs restricted to remaining sources ARE the
    remaining-only run's accepted pairs. The returned vocab is the
    standing one (a superset of the remaining term universe — an
    embedding-index superset never changes any remaining pair's
    score, and a later incremental_update unions terms anyway).
    """
    rm = sorted(set(remove_sources))
    std_triples = standing["triples"]
    std_srcs = {r["src"] for r in std_triples.select("src").distinct().collect()}
    missing = [s for s in rm if s not in std_srcs]
    if missing:
        raise ValueError(f"incremental_remove: not standing sources: {missing}")

    def keep_src(df):
        return df.filter(~F.col("src").isin(rm))

    def keep_pair(df):
        return df.filter(
            ~_src_of(F.col("ent1")).isin(rm) & ~_src_of(F.col("ent2")).isin(rm)
        )

    triples_rem = keep_src(std_triples)
    accepted_rem = keep_pair(standing["accepted"])

    clusters = standing["clusters"]
    # clusters that contained any removed-source entity (tiny: one
    # distinct over the removed members' canon ids, broadcast back)
    removed_canons = (
        clusters.filter(_src_of(F.col("entity")).isin(rm))
        .select("canon_id")
        .distinct()
    )
    untouched = clusters.join(F.broadcast(removed_canons), "canon_id", "left_anti")
    affected_entities = clusters.join(
        F.broadcast(removed_canons), "canon_id"
    ).select("entity")
    # remaining accepted edges inside affected clusters: semijoin on
    # ONE endpoint suffices — a remaining edge out of an affected
    # cluster into an untouched one cannot exist (it would have merged
    # them in the standing CC)
    affected_edges = accepted_rem.select("ent1", "ent2").join(
        affected_entities.withColumnRenamed("entity", "ent1"), "ent1", "semi"
    )
    re_cc = canonicalize.connected_components(affected_edges)
    clusters_new = untouched.select("entity", "canon_id").unionByName(re_cc)

    kg = canonicalize.materialize_kg(triples_rem, clusters_new)
    return {
        "triples": triples_rem,
        "contexts": keep_src(standing["contexts"]),
        "features": keep_src(standing["features"]),
        "prop_contexts": keep_src(standing["prop_contexts"]),
        "concepts": keep_src(standing["concepts"]) if standing.get("concepts") is not None else None,
        "props": keep_src(standing["props"]) if standing.get("props") is not None else None,
        "vocab": standing.get("vocab"),
        "accepted": accepted_rem,
        "clusters": clusters_new,
        "threshold": standing.get("threshold"),
        "max_types": standing.get("max_types"),
        "removed_sources": rm,
        **kg,
    }
