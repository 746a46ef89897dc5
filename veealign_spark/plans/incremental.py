"""Source-grain incremental ingest: link NEW sources against a
standing KG without recomputing standing-vs-standing work.

The deployment shape this serves: a 10^12-turn corpus has already been
resolved into a standing KG (run_pipeline / previous increments); a
new feed (a new ontology, a new transcript source) arrives and must be
aligned against everything standing. Rerunning the batch pipeline
scales with the CORPUS; this plan scales with the INCREMENT:

- contexts / features / prop-contexts are per-source (subclass and
  property edges never cross sources — reference ontology.py parses
  each ontology independently), so the standing tables are reused
  verbatim and the linear stages run over the new triples only;
- candidate pairs are generated over the combined concept universe
  but filtered to pairs touching a new source BEFORE the expensive
  kernel-scoring stage — standing-vs-standing pairs are never
  re-scored;
- cluster merge runs connected components over the standing
  (entity -> canon_id) assignments, used as edges, union the newly
  accepted pairs.  CC(CC(A) union B) == CC(A union B), so a new
  alignment that bridges two standing clusters merges them exactly as
  a full rerun would.

Because of the per-source context property, the incremental result is
IDENTICAL to a full batch rerun over the union (same accepted set,
same cluster partition, same canonical ids, same KG tables) whenever
the config (threshold, max_types, kernel params) is held fixed —
pinned by tests/test_incremental.py.

Scale notes: the two source-universe probes below collect DISTINCT
source names (feed count, not corpus size); a real deployment keeps a
source registry table instead of deriving it from the corpus. The
standing dicts returned by run_pipeline carry the concept/prop dim
tables; when absent (older checkpoints) they are re-derived from the
standing triples (one linear scan).
"""

from __future__ import annotations

import hashlib
from dataclasses import replace as _dc_replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from veealign_spark.operators import canonicalize, contexts, scoring
from veealign_spark.plans.pipeline import (
    KG_TABLES,
    PipelineConfig,
    StageLedger,
    acceptance_threshold,
    concept_candidates,
    concepts_from_triples,
    prop_candidates,
    props_from_triples,
    score_candidates_stage,
    triples_from_transcripts,
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
    accepted, clusters [, concepts, props]). Returns the same result
    shape as run_pipeline over the union, plus `new_sources` and
    `new_triples`."""
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
    params = cfg.kernel_params()

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

    # same stage graph discipline as run_pipeline: every increment
    # stage is materialized exactly once (lazy localCheckpoint + count,
    # or parquet + lineage under checkpoint_dir with inc_<fingerprint>_
    # names so a shared dir resumes both plans exactly), and each
    # starts as soon as the stages it reads are done. Without staging
    # the lazy extraction→contexts→scoring DAG re-executes for every
    # downstream action — the kernel scoring alone runs ~4x (accepted
    # census, CC edge count, union-find collect, final reads).
    ledger = StageLedger(spark, cfg.checkpoint_dir)

    def union(r, key):  # the standing table union the increment's
        return standing[key].unionByName(r[key])

    concepts_std = standing.get("concepts")
    if concepts_std is None:
        concepts_std = concepts_from_triples(std_triples)
    props_std = standing.get("props")
    if props_std is None:
        props_std = props_from_triples(std_triples)

    # vocabulary: standing vocab (already materialized, vocab-sized)
    # union the increment's terms — the probe never re-scans the
    # standing corpus. Set-equal to term_universe over the union, so
    # scores are unchanged (vectors are looked up by term, not index).
    # Older standing dicts without a vocab derive it over the union.
    vocab_std = standing.get("vocab")

    def build_vocab(r):
        if vocab_std is None:
            return scoring.term_universe(union(r, "triples"), r["concepts"], label_map)
        return vocab_std.unionByName(
            scoring.term_universe(
                r["triples"], concepts_from_triples(r["triples"]), label_map
            )
        ).distinct()

    def build_score_plan(r):
        return score_candidates_stage(
            spark, cfg, params, union(r, "triples"), r["concepts"],
            union(r, "features"), union(r, "prop_contexts"), r["candidates"],
            prop_candidates(r["props"], touch_sources=new_srcs),
            label_map=label_map, terms=r["vocab"],
        )

    # cluster merge: standing assignments are already the CC of the
    # standing accepted edges; re-closing them with the new edges is
    # equivalent to CC over the full accepted set
    def build_clusters(r):
        edges = (
            standing["clusters"]
            .select(F.col("entity").alias("ent1"), F.col("canon_id").alias("ent2"))
            .unionByName(
                r["alignments"].filter(F.col("accepted")).select("ent1", "ent2")
            )
        )
        return canonicalize.connected_components(edges)

    # KG materialization: remap the STANDING canonical tables through
    # the (old_canon -> new_canon) merge map + union the increment's
    # rows — O(|KG| + increment), never re-deduplicating the corpus
    # (materialize_kg_delta docstring has the merge-only argument).
    def build_kg(r):
        standing_kg = standing.get("kg_triples")
        if standing_kg is None:  # older standing dicts without KG tables
            return canonicalize.materialize_kg(union(r, "triples"), r["clusters"])
        return canonicalize.materialize_kg_delta(
            standing_kg, standing["clusters"], r["clusters"], r["triples"]
        )

    # linear stages (contexts, features, prop_contexts) run over the
    # increment only
    res = ledger.run({
        "triples": ((), lambda r: (
            new_triples if new_triples is not None
            else triples_from_transcripts(new_transcripts)
        )),
        "contexts": (("triples",), lambda r: contexts.build_contexts(
            r["triples"], bag_of_neighbours=cfg.bag_of_neighbours,
            max_pathlen=cfg.max_pathlen,
        )),
        "features": (("contexts",), lambda r: contexts.assemble_features(
            r["contexts"], cfg.max_types, cfg.max_paths, cfg.max_pathlen
        )),
        "prop_contexts": (("triples",), lambda r: contexts.build_prop_contexts(r["triples"])),
        "concepts": (("triples",), lambda r: concepts_std.unionByName(
            concepts_from_triples(r["triples"])
        ), False),
        "props": (("triples",), lambda r: props_std.unionByName(
            props_from_triples(r["triples"])
        ), False),
        "vocab": (("triples", "concepts"), build_vocab),
        # candidates restricted to pairs touching a new source
        "candidates": (("contexts", "concepts"), lambda r: concept_candidates(
            cfg, r["concepts"], union(r, "contexts"), touch_sources=new_srcs
        )),
        "score_plan": (
            ("triples", "concepts", "props", "features", "prop_contexts",
             "vocab", "candidates"),
            build_score_plan, False,
        ),
        "scores": (("score_plan",), lambda r: r["score_plan"][0]),
        "threshold": (("scores",), lambda r: acceptance_threshold(
            params, r["scores"], gold
        ), False),
        "alignments": (("scores", "threshold"), lambda r: r["scores"].withColumn(
            "accepted", F.col("score") >= F.lit(r["threshold"])
        )),
        "clusters": (("alignments",), build_clusters),
        "kg": (("triples", "clusters"), build_kg, False),
        **{k: (("kg",), lambda r, k=k: r["kg"][k]) for k in KG_TABLES},
    }, prefix=f"{inc}_")
    _, vector_mode, timings = res["score_plan"]
    return {
        **{k: union(res, k) for k in ("triples", "contexts", "features", "prop_contexts")},
        **{k: res[k] for k in (
            "concepts", "props", "vocab", "candidates", "scores", "alignments",
            "clusters", "threshold", *KG_TABLES,
        )},
        "new_triples": res["triples"],
        "accepted": standing["accepted"].unionByName(
            res["alignments"].filter(F.col("accepted"))
        ),
        "vector_mode": vector_mode,
        "unstaged_timings": timings,
        "metrics": ledger.metrics,
        "new_sources": new_srcs,
        "max_types": cfg.max_types,
    }


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
