"""End-to-end KG-construction pipeline (SURVEY.md §3.4 target lifecycle).

transcripts -> extract mentions (vectorized) -> triples staging ->
contexts (A1-A5, G1-G2) -> candidates (J1'/J2, cross or blocked+salted)
-> dual-attention scoring (K1-K9 pandas UDF) -> threshold (P6) ->
connected components (G3) -> canonical kg_* tables + lineage/metrics.

The stages are declared once, as one dependency graph over a base KG
(`_build_kg`): a batch build (`run_pipeline`) is an increment onto the
empty KG, and `plans/incremental.py` runs the same graph onto a
standing KG. `StageLedger.run` schedules it: each stage starts as soon
as the stages it reads have finished, so independent jobs (contexts
beside prop_contexts and the vocabulary distinct; the three kg_*
tables) back-fill the executors each other's stage tails leave idle.
On the first failure nothing new starts, the stages already running
finish, metrics.json is written and the original exception reaches the
caller, so no Spark job is left running and a re-run resumes exactly
the stages that finished.

Resumability (north_rule): every stage boundary can snapshot to
parquet under checkpoint_dir/stage=<name> (Iceberg snapshots on a real
cluster — parquet is the sandbox stand-in, same semantics: a completed
stage directory is skipped on re-run). Each snapshot also writes a
per-partition lineage row-count table and appends to a run-metrics
ledger, so a resumed run can prove which partitions came from which
stage execution.
"""

from __future__ import annotations

import json
import os
import time
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from veealign_spark.operators import candidates as cand
from veealign_spark.operators import canonicalize, contexts, scoring
from veealign_spark.operators import metrics as metrics_ops
from veealign_spark.operators.kernel_np import KernelParams, default_params
from veealign_spark.sources import transcripts as src_transcripts


@dataclass
class PipelineConfig:
    max_paths: int = 2
    max_pathlen: int = 4
    max_types: int = 4
    derive_types: bool = False  # A5: derive max_types from the data
    bag_of_neighbours: bool = False
    weighted_sum: bool = True
    emb_dim: int = 32
    threshold: float = 0.90
    blocking: str = "cross"  # "cross" (fixture) | "blocked" (scale)
    checkpoint_dir: str | None = None
    # Vector layout (operators/scoring.py VectorSource), chosen per run
    # by a bounded vocabulary probe: at or below this many distinct
    # terms the (indexer, matrix) pair rides a SparkContext broadcast —
    # fastest per row, bounded by driver/executor memory; above it the
    # vectors JOIN onto features/candidates from the distributed dim
    # table — no driver collect, unbounded vocabulary. 0 forces the
    # pre-joined layout. Default MEASURED, not argued
    # (scripts/bench_vector_modes.py, BENCH/PLANS.md r5: vocabulary
    # inflated via pad labels so scoring work is constant):
    # broadcast/prejoined wall ratio 0.90 at 250k terms, 1.97 at 500k,
    # 1.90 at 1M, 3.99 at 3M — the broadcast layout's driver-side
    # normalize+embed+pickle grows linearly while the prejoined
    # dim-table build is flat. Crossover ~300k on that box (32 cores,
    # 16g driver). On 4 cores (best of 2, one window, BENCH/PLANS.md)
    # the ratio is 0.97-1.03 at 250k and 1.27-1.63 at 500k: the
    # 4-core crossover sits at or below 250k.
    vocab_broadcast_threshold: int = 300_000
    # "seeded" (fixture-pinned gaussian projection) | "identity"
    # (residual rep = node + ctx_gain*context — the untrained default
    # for real inputs; see kernel_np.default_params)
    kernel_init: str = "seeded"
    ctx_gain: float = 0.3
    # trained weights (operators.training.train_kernel) — when set,
    # kernel_params() returns them verbatim (threshold included) and
    # derive_types must match the n_types they were trained with
    params_override: KernelParams | None = None
    # bring-your-own-encoder seam: path to a (term, vec:array<double>)
    # parquet table (any term spelling; normalized on load). Covered
    # terms take these vectors verbatim on BOTH vector layouts
    # (broadcast and pre-joined); uncovered terms fall back to the
    # deterministic stub. Reference semantics: precomputed USE load
    # (data_preprocessing.py:25-29) + vector-cache merge
    # (train.py:72-87) — S3/S4 unified.
    external_vectors: str | None = None

    def kernel_params(self) -> KernelParams:
        if self.params_override is not None:
            return self.params_override
        p = default_params(
            emb_dim=self.emb_dim,
            n_types=self.max_types,
            max_paths=self.max_paths,
            max_pathlen=self.max_pathlen,
            threshold=self.threshold,
            init=self.kernel_init,
            ctx_gain=self.ctx_gain,
        )
        p.weighted_sum = self.weighted_sum
        return p


class StageLedger:
    """Stage snapshot/resume + per-partition lineage + metrics, and the
    scheduler of a plan's stage graph (`run`).

    Failure policy (`run`): the first exception stops all submission;
    stages already running finish and are recorded, metrics.json is
    written, and the exception is re-raised unchanged. A stage either
    completed (its snapshot and metrics row exist) or left nothing a
    re-run would load, so resume after a failed run is exact.

    Without a checkpoint_dir, stages materialize as local checkpoints
    (memory+disk blocks in the executors). Local-checkpoint blocks are
    NOT recomputable — size the driver/executor heap to the largest
    stage (env SPARK_DRIVER_MEM for the session factory; the 50-source
    full-rerun benchmark needs 64g because its candidates/scores
    stages hold ~100M rows). A checkpoint_dir (parquet; Iceberg
    snapshots on a real cluster) is the durable path and the right
    choice for any standing-KG build."""

    def __init__(self, spark: SparkSession, root: str | None):
        self.spark = spark
        self.root = root
        self.metrics: list[dict] = []

    def _path(self, name: str) -> str | None:
        return os.path.join(self.root, f"stage={name}") if self.root else None

    def done(self, name: str) -> bool:
        p = self._path(name)
        return bool(p) and os.path.exists(os.path.join(p, "_SUCCESS"))

    def load(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self._path(name))

    def snapshot(self, name: str, df: DataFrame) -> DataFrame:
        """Write stage output + lineage; return the re-read DataFrame
        (cuts lineage like a checkpoint and makes resume exact)."""
        p = self._path(name)
        t0 = time.time()
        if p is None:
            # lazy checkpoint + count = ONE job materializes the stage
            # (eager=True would pay a second, separate job per stage)
            df = df.localCheckpoint(eager=False)
            n = df.count()
            self.metrics.append({"stage": name, "rows": n, "sec": time.time() - t0})
            return df
        df.write.mode("overwrite").parquet(p)
        out = self.spark.read.parquet(p)
        lineage = out.groupBy(F.spark_partition_id().alias("partition_id")).agg(
            F.count(F.lit(1)).alias("rows")
        )
        lineage.withColumn("stage", F.lit(name)).write.mode("overwrite").parquet(
            os.path.join(self.root, f"lineage/stage={name}")
        )
        n = out.count()
        self.metrics.append({"stage": name, "rows": n, "sec": time.time() - t0})
        return out

    def stage(self, name: str, build) -> DataFrame:
        if self.done(name):
            df = self.load(name)
            self.metrics.append({"stage": name, "rows": df.count(), "resumed": True})
            return df
        return self.snapshot(name, build())

    def run(self, graph: dict, prefix: str = "") -> dict:
        """Run a stage graph `{name: (deps, build[, staged])}` and return
        every node's value by name. `build(r)` reads the values of its
        `deps` from `r`. A node is staged through `stage(prefix + name,
        ...)` unless it is declared with `staged=False` (driver-side
        plans and scalars), whose value is `build(r)` itself.

        One pool, as wide as the graph, starts each node as soon as its
        deps are done; nodes are submitted from the calling thread only.
        On the first failure nothing more is submitted and the nodes
        already running are waited for, so no Spark job outlives the
        call; metrics.json is then written and that exception re-raised.
        """
        done: dict = {}
        todo = dict(graph)
        running: dict = {}
        error: BaseException | None = None

        def task(name, build, staged=True):
            if not staged:
                return build(done)
            return self.stage(prefix + name, lambda: build(done))

        with ThreadPoolExecutor(len(graph)) as pool:
            while running or (todo and error is None):
                for name, (deps, *spec) in list(todo.items() if error is None else ()):
                    if all(d in done for d in deps):
                        del todo[name]
                        running[pool.submit(task, name, *spec)] = name
                if not running:
                    break
                finished, _ = wait(running, return_when=FIRST_COMPLETED)
                for f in finished:
                    name = running.pop(f)
                    if f.exception() is None:
                        done[name] = f.result()
                    elif error is None:
                        error = f.exception()
        self.flush()
        if error is not None:
            raise error
        if todo:
            raise ValueError(f"stage graph: unmet deps for {sorted(todo)}")
        return done

    def flush(self) -> None:
        if self.root:
            with open(os.path.join(self.root, "metrics.json"), "w") as f:
                json.dump(self.metrics, f, indent=1)


def concepts_from_triples(triples: DataFrame) -> DataFrame:
    """Concept universe: subclass endpoints + obj-prop endpoints +
    datatype-prop subjects (datatype ranges are literal types, not
    concepts — mirrors the reference's owl:Class universe)."""
    sub = triples.filter(F.col("kind") == "Subclass")
    obj = triples.filter(F.col("kind") == "Object Property")
    dat = triples.filter(F.col("kind") == "Datatype Property")
    ents = (
        sub.select("src", F.col("subj").alias("id"))
        .unionByName(sub.select("src", F.col("obj").alias("id")))
        .unionByName(obj.select("src", F.col("subj").alias("id")))
        .unionByName(obj.select("src", F.col("obj").alias("id")))
        .unionByName(dat.select("src", F.col("subj").alias("id")))
        .distinct()
    )
    return ents.withColumn("label", F.lit(None).cast("string"))


def props_from_triples(triples: DataFrame) -> DataFrame:
    return (
        triples.filter(F.col("kind") != "Subclass")
        .select("src", F.col("pred").alias("id"), "kind")
        .distinct()
        .withColumn("label", F.lit(None).cast("string"))
    )


KG_TABLES = ("kg_triples", "kg_entities", "kg_edges")


def triples_from_transcripts(transcripts: DataFrame) -> DataFrame:
    return src_transcripts.mentions_to_triples(
        src_transcripts.extract_mentions(transcripts)
    )


def concept_candidates(
    cfg: PipelineConfig,
    concepts: DataFrame,
    ctx: DataFrame,
    touch_sources: list[str] | None = None,
) -> DataFrame:
    """Concept candidates: ALL source pairs in one plan node — pairs
    are data (self-join on src1 < src2), not per-pair Python unions, so
    the plan stays O(1) in the number of sources (many-source KG-fusion
    scale requirement). With `touch_sources`, only pairs with a side in
    one of them: the blocked join filters its sides BEFORE the join
    (censuses still see every source); the cross path, the
    fixture/oracle baseline, post-filters."""
    if cfg.blocking == "cross":
        pairs = cand.cross_candidates_multi(concepts)
        if touch_sources is None:
            return pairs
        src1, src2 = (F.split(c, "#").getItem(0) for c in ("ent1", "ent2"))
        return pairs.filter(src1.isin(touch_sources) | src2.isin(touch_sources))
    # top root ancestor as a context blocking key — reuse the root
    # paths already materialized in the contexts stage (nbr_type 0)
    anc = (
        ctx.filter(F.col("nbr_type") == 0)
        .select("src", "entity", F.element_at("path", -1).alias("ancestor"))
        .dropDuplicates()
    )
    return cand.blocked_candidates_multi(concepts, anc, touch_sources=touch_sources)


def prop_candidates(props: DataFrame, touch_sources: list[str] | None = None) -> DataFrame:
    """Property candidates: the same pairs-as-data self-join as the
    concept candidates, kind-matched (Object with Object, Datatype with
    Datatype — data_preprocessing keeps the two universes separate);
    with `touch_sources`, only pairs with a side in one of them."""
    pn = cand.with_norm(props)
    pairs = (
        pn.select("kind", F.col("src").alias("src1"), F.col("key").alias("ent1"))
        .join(
            pn.select("kind", F.col("src").alias("src2"), F.col("key").alias("ent2")),
            "kind",
        )
        .filter(F.col("src1") < F.col("src2"))
    )
    if touch_sources is not None:
        pairs = pairs.filter(
            F.col("src1").isin(touch_sources) | F.col("src2").isin(touch_sources)
        )
    return pairs.select("ent1", "ent2")


def acceptance_threshold(params, scores: DataFrame, gold: DataFrame | None) -> float:
    """The config-pinned threshold, or with `gold` the one tuned on it
    by the single-pass P/R-curve sweep (A9, argmax F1)."""
    return params.threshold if gold is None else metrics_ops.best_threshold(scores, gold)[0]


def score_candidates_stage(
    spark: SparkSession,
    cfg: PipelineConfig,
    params,
    triples: DataFrame,
    concepts: DataFrame,
    features: DataFrame,
    prop_ctx: DataFrame,
    candidates_df: DataFrame,
    prop_cand: DataFrame,
    label_map: DataFrame | None = None,
    terms: DataFrame | None = None,
):
    """Vocabulary routing + JVM-side encode + dual-attention kernel
    scoring for concept and property candidates: the score_plan node
    of the KG stage graph (`_build_kg`), for a batch build and an
    increment alike. Returns (scores, resolved_vector_mode, timings).

    `terms` is the vocabulary (scoring.term_universe): the graph stages
    it, so its distinct runs beside the contexts stage and the probe
    here reads a materialized table; without it the vocabulary is
    derived from `triples` and `concepts`.

    Embedding layout: broadcast (indexer, matrix) vs pre-joined
    distributed dim table (see PipelineConfig.vocab_broadcast_threshold).
    The size probe and the vocabulary fetch are ONE bounded job:
    limit(threshold+1) — ≤ threshold+1 rows ever reach the driver, so
    an over-threshold vocabulary is detected WITHOUT an unbounded
    collect (the excess row routes to the pre-joined path), and a
    broadcastable one is already in hand (no second pass).

    timings["vocab"] is the probe and the vector source's build;
    timings["encode"] is the driver-side construction of the encode and
    scorer plans, and it also holds the shuffle stages the scorers'
    lazy dim-table localCheckpoints run when called under AQE."""
    timings: dict[str, float] = {}
    external = (
        spark.read.parquet(cfg.external_vectors)
        if cfg.external_vectors
        else None
    )
    t0 = time.time()
    tu = terms if terms is not None else scoring.term_universe(triples, concepts, label_map)
    cap = cfg.vocab_broadcast_threshold
    # Arrow transfer for the probe: up to cap+1 terms move as one
    # Arrow batch instead of py4j Row objects (the bounded-collect
    # guarantee is unchanged — limit() still caps what can ever
    # reach the driver; at the 300k-term threshold this is the
    # difference between ~0.3s and several seconds)
    head = tu.limit(cap + 1).toPandas()["term"].tolist()
    if len(head) <= cap:
        vector_mode = "broadcast"
        source = scoring.VectorSource.broadcast(
            spark,
            scoring.EmbBroadcast.from_terms(spark, head, cfg.emb_dim, external=external),
        )
    else:
        vector_mode = "prejoined"
        source = scoring.VectorSource.prejoined(
            scoring.build_embeddings_table(
                spark, triples, cfg.emb_dim, concepts, label_map, terms=tu,
                external=external,
            ),
            cfg.emb_dim,
        )
    timings["vocab"] = time.time() - t0

    # AQE coalesces the (byte-wise tiny) candidate table to very few
    # partitions, which would serialize the CPU-heavy scoring UDF —
    # explicitly re-spread across the cluster before the kernel.
    # One task wave, maximal Arrow batch size: per-row kernel cost is
    # uniform, so parallelism*1 partitions beat *2 (half the python
    # worker round-trips for the same core occupancy). The property
    # scorer keeps max(n // 4, 2) partitions: the scorers encode each
    # distinct entity once per Arrow batch, so fuller batches repeat
    # more entities; spreading the property candidates over n
    # partitions measured no wall gain on kg_wide (4 cores) and
    # 0.5-1 s more Python-worker CPU.
    n_score = spark.sparkContext.defaultParallelism
    candidates_df = candidates_df.repartition(n_score)
    prop_cand = prop_cand.repartition(max(n_score // 4, 2))

    # JVM-side embedify: features/prop contexts become fixed-shape
    # arrays before the Arrow boundary (strings never reach Python):
    # int64 index tensors on the broadcast source, pre-joined float64
    # vectors on the pre-joined one. Each encoder output has one
    # reader, the scorer's per-key dim table (scoring._join_sides),
    # which is itself a lazy localCheckpoint shared by both side joins;
    # under AQE that checkpoint runs its plan's shuffle and broadcast
    # stages when it is called, and only its final stage waits for the
    # scores job.
    t0 = time.time()

    # Plan-construction is driver-side wall time: every DataFrame op
    # eagerly re-runs the Catalyst analyzer, and the encode+scorer
    # trees measure ~2.6 s built sequentially at bench scale (vs 1.6 s
    # for the scores job itself). The concept chain (encode_features ->
    # score_concepts) and the property chain (encode_prop_contexts ->
    # score_props) share no intermediate DataFrame, so the two chains
    # are CONSTRUCTED on two driver threads — same overlap idea the
    # guide applies to independent jobs (§2.6), applied to the
    # analyzer; the checkpoints' upstream stages (above) run on the
    # same two threads. Plans are identical to the sequential build.
    def _chain_c():
        enc = scoring.encode_features(
            features, source, cfg.max_types, cfg.max_paths, cfg.max_pathlen,
            label_map=label_map,
        )
        return scoring.score_concepts(
            candidates_df, enc, source, params, cfg.max_types, label_map=label_map
        ).withColumn("is_prop", F.lit(False))

    def _chain_p():
        enc = scoring.encode_prop_contexts(prop_ctx, source, label_map=label_map)
        return scoring.score_props(
            prop_cand, enc, source, params, label_map=label_map
        ).withColumn("is_prop", F.lit(True))

    with ThreadPoolExecutor(2) as _ex:
        _fc, _fp = _ex.submit(_chain_c), _ex.submit(_chain_p)
        scores_c, scores_p = _fc.result(), _fp.result()
    timings["encode"] = time.time() - t0
    return scores_c.unionByName(scores_p), vector_mode, timings


def _build_kg(
    spark: SparkSession, cfg: PipelineConfig, base: dict,
    transcripts: DataFrame | None, triples: DataFrame | None,
    gold: DataFrame | None, label_map: DataFrame | None,
    concepts: DataFrame | None = None, props: DataFrame | None = None,
    touch_sources: list[str] | None = None, prefix: str = "",
) -> tuple[dict, DataFrame]:
    """The KG stage graph: ingest one batch of `triples` (or of
    `transcripts`) onto the KG `base`; return (the result dict over
    base + batch, the batch's staged triples).

    `base` is {} (the empty KG: a batch build) or a standing result
    dict. The per-source stages run over the batch only. A base
    changes four things; the empty base takes the batch shape of each:
    - its tables are unioned into every table the scorers and the
      result read;
    - candidates keep the pairs with a side in `touch_sources` (None:
      all pairs, and the blocked join keeps its batch shape);
    - clusters re-close the standing (entity -> canon_id) assignments,
      used as edges, with the new accepted pairs: CC(CC(A) + B) ==
      CC(A + B), so a bridging alignment merges two standing clusters
      exactly as a full rerun would;
    - the KG is the standing tables remapped through the merge plus
      the batch's rows (materialize_kg_delta).

    Every node but the driver-side ones (params, score_plan, threshold,
    kg) is staged as `prefix + name`; the concept/property dim tables
    only on a batch build under a checkpoint_dir (a standing-KG build,
    whose dims an increment reads back). Otherwise they stay lazy: the
    extra materializations cost the N->4N spark-submit scaling run ~20 s
    at the 4N point, where fixed job latency bounds speedup."""
    ledger = StageLedger(spark, cfg.checkpoint_dir)
    stage_dims = ledger.root is not None and not base

    def union(key, df):
        return base[key].unionByName(df) if base else df

    def build_params(r):
        if cfg.derive_types:
            # A5 (data_preprocessing.py:318): global max # of non-empty
            # neighbour types; the kernel's type-mixing weights resize to
            # match (K7 branch, train.py:256-264)
            cfg.max_types = max(contexts.derive_max_types(r["contexts"]), 1)
        return cfg.kernel_params()

    # The vocabulary is staged on every run: its distinct reads only the
    # batch's triples (and the given concepts), so it runs beside
    # contexts, and a base's vocabulary is unioned in, never re-scanned.
    # The derived path skips the concepts subtree: derived concept ids
    # are a subset of the triples' subj/obj terms. Vectors are looked
    # up by term, so the union's row order leaves scores unchanged.
    def build_vocab(r):
        vocab = scoring.term_universe(r["triples"], concepts, label_map)
        return base["vocab"].unionByName(vocab).distinct() if base else vocab

    def build_score_plan(r):
        return score_candidates_stage(
            spark, cfg, r["params"], union("triples", r["triples"]), r["concepts"],
            union("features", r["features"]), union("prop_contexts", r["prop_contexts"]),
            r["candidates"], prop_candidates(r["props"], touch_sources),
            label_map=label_map, terms=r["vocab"],
        )

    def build_clusters(r):
        edges = r["alignments"].filter(F.col("accepted"))
        if base:
            edges = base["clusters"].select(
                F.col("entity").alias("ent1"), F.col("canon_id").alias("ent2")
            ).unionByName(edges.select("ent1", "ent2"))
        return canonicalize.connected_components(edges)

    def build_kg(r):
        if not base:
            return canonicalize.materialize_kg(r["triples"], r["clusters"])
        return canonicalize.materialize_kg_delta(
            base["kg_triples"], base["clusters"], r["clusters"], r["triples"]
        )

    res = ledger.run({
        "triples": ((), lambda r: (
            triples if triples is not None else triples_from_transcripts(transcripts)
        )),
        "contexts": (("triples",), lambda r: contexts.build_contexts(
            r["triples"], bag_of_neighbours=cfg.bag_of_neighbours,
            max_pathlen=cfg.max_pathlen,
        )),
        "prop_contexts": (("triples",), lambda r: contexts.build_prop_contexts(r["triples"])),
        "vocab": (("triples",), build_vocab),
        "params": (("contexts",), build_params, False),
        "features": (("contexts", "params"), lambda r: contexts.assemble_features(
            r["contexts"], cfg.max_types, cfg.max_paths, cfg.max_pathlen
        )),
        "concepts": (("triples",), lambda r: union("concepts", (
            concepts if concepts is not None else concepts_from_triples(r["triples"])
        )), stage_dims),
        "props": (("triples",), lambda r: union("props", (
            props if props is not None else props_from_triples(r["triples"])
        )), stage_dims),
        "candidates": (("contexts", "concepts"), lambda r: concept_candidates(
            cfg, r["concepts"], union("contexts", r["contexts"]), touch_sources
        )),
        "score_plan": (
            ("params", "triples", "concepts", "features", "prop_contexts",
             "props", "vocab", "candidates"),
            build_score_plan, False,
        ),
        "scores": (("score_plan",), lambda r: r["score_plan"][0]),
        "threshold": (("params", "scores"), lambda r: acceptance_threshold(
            r["params"], r["scores"], gold
        ), False),
        "alignments": (("scores", "threshold"), lambda r: r["scores"].withColumn(
            "accepted", F.col("score") >= F.lit(r["threshold"])
        )),
        "clusters": (("alignments",), build_clusters),
        "kg": (("triples", "clusters"), build_kg, False),
        **{k: (("kg",), lambda r, k=k: r["kg"][k]) for k in KG_TABLES},
    }, prefix=prefix)
    _, vector_mode, timings = res["score_plan"]
    return {
        **{k: union(k, res[k]) for k in ("triples", "contexts", "features", "prop_contexts")},
        **{k: res[k] for k in (
            "concepts", "props", "vocab", "candidates", "scores", "alignments",
            "clusters", "params", "threshold", *KG_TABLES,
        )},
        "accepted": union("accepted", res["alignments"].filter(F.col("accepted"))),
        "metrics": ledger.metrics,
        "max_types": cfg.max_types,
        "vector_mode": vector_mode,
        "unstaged_timings": timings,
    }, res["triples"]


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame | None = None,
    config: PipelineConfig | None = None,
    gold: DataFrame | None = None,
    triples: DataFrame | None = None,
    concepts: DataFrame | None = None,
    props: DataFrame | None = None,
    label_map: DataFrame | None = None,
) -> dict:
    """Full pipeline: the KG stage graph over the empty KG. Returns dict
    of result DataFrames + metrics.

    Two entry shapes:
    - transcripts=... : mentions are extracted and staged into triples
      (the 100 TB fact path);
    - triples=... (+ optional concepts/props/label_map from
      sources.owl.ontology_tables): real-ontology ingestion (S1) —
      the concept/property universes and P2 label resolution come from
      the parsed OWL instead of being derived from the edge table.

    If `gold` is given, the acceptance threshold is tuned on it by the
    single-pass P/R-curve sweep (A9, argmax F1 — the reference's
    validation-tuned threshold, train.py:608-611) instead of the
    config-pinned value; the tuned value is returned in the result.
    """
    if triples is None and transcripts is None:
        raise ValueError("run_pipeline needs transcripts or triples")
    return _build_kg(
        spark, config or PipelineConfig(), {}, transcripts, triples, gold, label_map,
        concepts, props,
    )[0]
