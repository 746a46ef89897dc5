"""End-to-end KG-construction pipeline (SURVEY.md §3.4 target lifecycle).

transcripts -> extract mentions (vectorized) -> triples staging ->
contexts (A1-A5, G1-G2) -> candidates (J1'/J2, cross or blocked+salted)
-> dual-attention scoring (K1-K9 pandas UDF) -> threshold (P6) ->
connected components (G3) -> canonical kg_* tables + lineage/metrics.

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
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from veealign_spark.operators import candidates as cand
from veealign_spark.operators import canonicalize, contexts, scoring
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
    hot_key_threshold: int = 1000
    n_salt: int = 16
    checkpoint_dir: str | None = None
    extractor: str = "jvm"  # "jvm" | "pandas"
    params_seed: int = 7
    score_partitions: int | None = None
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
    # 16g driver).
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
            seed=self.params_seed,
            init=self.kernel_init,
            ctx_gain=self.ctx_gain,
        )
        p.weighted_sum = self.weighted_sum
        return p


class StageLedger:
    """Stage snapshot/resume + per-partition lineage + metrics.

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


def score_candidates_stage(
    spark: SparkSession,
    cfg: PipelineConfig,
    params,
    triples: DataFrame,
    concepts: DataFrame,
    features: DataFrame,
    prop_ctx: DataFrame,
    candidates_df: DataFrame | Future[DataFrame],
    prop_cand: DataFrame,
    label_map: DataFrame | None = None,
    terms: DataFrame | None = None,
):
    """Vocabulary routing + JVM-side encode + dual-attention kernel
    scoring for concept and property candidates. Shared by the batch
    pipeline and the incremental-ingest plan (plans/incremental.py).
    Returns (scores, resolved_vector_mode, timings).

    `candidates_df` is the (ent1, ent2) concept candidate table, or a
    concurrent.futures.Future that resolves to it: run_pipeline hands
    over a Future so the candidates stage materializes while the
    vocabulary probe runs; it is resolved only after the probe.

    Embedding layout: broadcast (indexer, matrix) vs pre-joined
    distributed dim table (see PipelineConfig.vocab_broadcast_threshold).
    The size probe and the vocabulary fetch are ONE bounded job:
    limit(threshold+1) — ≤ threshold+1 rows ever reach the driver, so
    an over-threshold vocabulary is detected WITHOUT an unbounded
    collect (the excess row routes to the pre-joined path), and a
    broadcastable one is already in hand (no second pass)."""
    timings: dict[str, float] = {}
    external = (
        spark.read.parquet(cfg.external_vectors)
        if cfg.external_vectors
        else None
    )
    t0 = time.time()
    # `terms` lets the caller supply a pre-materialized vocabulary
    # (the pipeline stages it for resume; the incremental plan derives
    # it from standing-vocab union increment-terms so the probe never
    # re-scans the standing corpus)
    tu = terms
    owns_tu = tu is None
    if owns_tu:
        # persisted so a pre-joined route reuses the distinct pass
        # the probe already paid (corpus-sized at 10^12 turns)
        tu = scoring.term_universe(triples, concepts, label_map).persist()
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
        if owns_tu:
            tu.unpersist()
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

    # Resolve a Future candidates table only now, after the probe (the
    # two jobs share no inputs beyond already-materialized stages).
    if isinstance(candidates_df, Future):
        candidates_df = candidates_df.result()

    # AQE coalesces the (byte-wise tiny) candidate table to very few
    # partitions, which would serialize the CPU-heavy scoring UDF —
    # explicitly re-spread across the cluster before the kernel.
    # One task wave, maximal Arrow batch size: per-row kernel cost is
    # uniform, so parallelism*1 partitions beat *2 (half the python
    # worker round-trips for the same core occupancy)
    n_score = cfg.score_partitions or spark.sparkContext.defaultParallelism
    candidates_df = candidates_df.repartition(n_score)
    prop_cand = prop_cand.repartition(max(n_score // 4, 2))

    # JVM-side embedify: features/prop contexts become fixed-shape
    # arrays before the Arrow boundary (strings never reach Python):
    # int64 index tensors on the broadcast source, pre-joined float64
    # vectors on the pre-joined one. Entity-universe-sized dim tables,
    # referenced twice each in the scoring joins — LAZY
    # localCheckpoints: the RDD identity shares one computation between
    # both references (the r5 eager+threaded form paid two extra driver
    # jobs for the same work). Under AQE a lazy localCheckpoint still
    # runs its plan's shuffle and broadcast stages when it is called;
    # only the final stage waits for the scores job.
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
        ).localCheckpoint(eager=False)
        return scoring.score_concepts(
            candidates_df, enc, source, params, cfg.max_types, label_map=label_map
        ).withColumn("is_prop", F.lit(False))

    def _chain_p():
        enc = scoring.encode_prop_contexts(
            prop_ctx, source, label_map=label_map
        ).localCheckpoint(eager=False)
        return scoring.score_props(
            prop_cand, enc, source, params, label_map=label_map
        ).withColumn("is_prop", F.lit(True))

    with ThreadPoolExecutor(2) as _ex:
        _fc, _fp = _ex.submit(_chain_c), _ex.submit(_chain_p)
        scores_c, scores_p = _fc.result(), _fp.result()
    timings["encode"] = time.time() - t0
    return scores_c.unionByName(scores_p), vector_mode, timings


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
    """Full pipeline. Returns dict of result DataFrames + metrics.

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
    cfg = config or PipelineConfig()
    ledger = StageLedger(spark, cfg.checkpoint_dir)
    params = cfg.kernel_params()

    if triples is None:
        if transcripts is None:
            raise ValueError("run_pipeline needs transcripts or triples")
        extract = (
            src_transcripts.extract_mentions
            if cfg.extractor == "jvm"
            else src_transcripts.extract_mentions_pandas
        )
        mentions = extract(transcripts)
        triples = ledger.stage(
            "triples", lambda: src_transcripts.mentions_to_triples(mentions)
        )
    else:
        triples = ledger.stage("triples", lambda t=triples: t)

    # prop_contexts depends only on triples — overlap it with the
    # contexts -> features chain (independent jobs back-fill the
    # executors each other's stage tails leave idle, guide-style
    # concurrent submission; stage identity/resume semantics unchanged)
    with ThreadPoolExecutor(1) as _bg:
        _f_prop = _bg.submit(
            ledger.stage,
            "prop_contexts",
            lambda: contexts.build_prop_contexts(triples),
        )
        ctx = ledger.stage(
            "contexts",
            lambda: contexts.build_contexts(
                triples,
                bag_of_neighbours=cfg.bag_of_neighbours,
                max_pathlen=cfg.max_pathlen,
            ),
        )
        if cfg.derive_types:
            # A5 (data_preprocessing.py:318): global max # of non-empty
            # neighbour types; the kernel's type-mixing weights resize to
            # match (K7 branch, train.py:256-264)
            cfg.max_types = max(contexts.derive_max_types(ctx), 1)
            params = cfg.kernel_params()
        features = ledger.stage(
            "features",
            lambda: contexts.assemble_features(
                ctx, cfg.max_types, cfg.max_paths, cfg.max_pathlen
            ),
        )
        prop_ctx = _f_prop.result()

    derived_dims = concepts is None
    if concepts is None:
        concepts = concepts_from_triples(triples)
    if props is None:
        props = props_from_triples(triples)
    # Entity-universe-sized dim tables consumed by the vocabulary
    # probe AND the candidate join. On the derived path the vocabulary
    # skips the concepts subtree entirely: derived concept ids are
    # subclass/property endpoints, i.e. a subset of the triples'
    # subj/obj terms already in the universe.
    #
    # They are STAGED (so the corpus-wide distinct never reruns, and
    # the incremental plan can reuse them from the standing dict) only
    # when a checkpoint_dir marks this run as a standing-KG build —
    # for a one-shot job the extra stage materializations are pure
    # overhead (measured: they cost the N->4N spark-submit scaling run
    # ~20s at the 4N point, where fixed job latency bounds speedup).
    # The three stages are independent corpus scans, submitted
    # concurrently. Without a checkpoint_dir the same DataFrames ride
    # the result dict lazily; an incremental consumer stages its
    # inc_vocab from them exactly once.
    vocab_src = None if derived_dims else concepts
    if ledger.root:
        with ThreadPoolExecutor(3) as _ex:
            _fc = _ex.submit(ledger.stage, "concepts", lambda c=concepts: c)
            _fp = _ex.submit(ledger.stage, "props", lambda p=props: p)
            _fv = _ex.submit(
                ledger.stage,
                "vocab",
                lambda: scoring.term_universe(triples, vocab_src, label_map),
            )
            concepts, props, vocab = _fc.result(), _fp.result(), _fv.result()
        score_terms = vocab
    else:
        vocab = scoring.term_universe(triples, vocab_src, label_map)
        score_terms = None  # probe derives + persists internally

    # candidate generation: ALL source pairs in one plan node — pairs
    # are data (self-join on src1 < src2), not per-pair Python unions,
    # so the plan stays O(1) in the number of sources (many-source
    # KG-fusion scale requirement)
    if cfg.blocking == "cross":
        all_cand = cand.cross_candidates_multi(concepts)
    else:
        # top root ancestor as a context blocking key — reuse the root
        # paths already materialized in the contexts stage (nbr_type 0)
        anc = (
            ctx.filter(F.col("nbr_type") == 0)
            .select("src", "entity", F.element_at("path", -1).alias("ancestor"))
            .dropDuplicates()
        )
        all_cand = cand.blocked_candidates_multi(
            concepts,
            anc,
            hot_key_threshold=cfg.hot_key_threshold,
            n_salt=cfg.n_salt,
        )

    # property candidates: same pairs-as-data self-join, kind-matched
    # (Object with Object, Datatype with Datatype — data_preprocessing
    # keeps the two universes separate)
    pn = cand.with_norm(props)
    prop_cand = (
        pn.select("kind", F.col("src").alias("src1"), F.col("key").alias("ent1"))
        .join(
            pn.select(
                "kind", F.col("src").alias("src2"), F.col("key").alias("ent2")
            ),
            "kind",
        )
        .filter(F.col("src1") < F.col("src2"))
        .select("ent1", "ent2")
    )

    # The candidates stage job and the scoring stage's vocabulary-probe
    # job are independent (candidates needs contexts+concepts, the
    # probe needs triples+concepts — all already materialized), so the
    # candidates materialization runs on a background thread while the
    # probe executes; score_candidates_stage resolves the future right
    # after the probe, before anything consumes the candidate table.
    with ThreadPoolExecutor(1) as _cex:
        _f_cand = _cex.submit(ledger.stage, "candidates", lambda: all_cand)
        scores_all, vector_mode, timings = score_candidates_stage(
            spark, cfg, params, triples, concepts, features, prop_ctx,
            _f_cand, prop_cand, label_map=label_map, terms=score_terms,
        )
        candidates_df = _f_cand.result()
    scores = ledger.stage("scores", lambda: scores_all)

    threshold = params.threshold
    if gold is not None:
        from veealign_spark.operators import metrics as metrics_ops

        threshold, _f1 = metrics_ops.best_threshold(scores, gold)
    alignments = ledger.stage(
        "alignments",
        lambda: scores.withColumn(
            "accepted", F.col("score") >= F.lit(threshold)
        ),
    )
    accepted = alignments.filter(F.col("accepted"))

    clusters = ledger.stage(
        "clusters", lambda: canonicalize.connected_components(accepted)
    )
    kg = canonicalize.materialize_kg(triples, clusters)
    # the three kg_* materializations are independent KG-sized jobs —
    # submit them concurrently instead of paying three sequential
    # job latencies
    with ThreadPoolExecutor(3) as _ex:
        _fs = {
            k: _ex.submit(ledger.stage, k, lambda df=v: df)
            for k, v in kg.items()
        }
        kg = {k: f.result() for k, f in _fs.items()}

    ledger.flush()
    return {
        "triples": triples,
        "contexts": ctx,
        "features": features,
        "prop_contexts": prop_ctx,
        "concepts": concepts,
        "props": props,
        "vocab": vocab,
        "candidates": candidates_df,
        "scores": scores,
        "alignments": alignments,
        "accepted": accepted,
        "clusters": clusters,
        "metrics": ledger.metrics,
        "params": params,
        "max_types": cfg.max_types,
        "threshold": threshold,
        "vector_mode": vector_mode,
        "unstaged_timings": timings,
        **kg,
    }
