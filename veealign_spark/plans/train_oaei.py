"""Train the dual-attention kernel on an OAEI track and evaluate it.

Protocols (both recorded in BENCH/OAEI.md):

- "element" (the reference's default, config.ini ontology_split=False):
  labeled pairs from ALL gold source pairs are shuffled and split
  1-1/K train / 1/K validation at the element level; the trained
  weights + tuned threshold then score the whole track. This is the
  reference's published protocol (its ~0.73 F1 number) — note the
  evaluation pairs overlap the training cells.
- "ontology" (leak-free): K-fold over gold SOURCE PAIRS; each fold
  trains on the other folds' pairs and is evaluated ONLY on its
  held-out pairs with weights and threshold that never saw them;
  micro P/R aggregates over all folds.

Data preparation is the engine's distributed operators end to end
(S1 parse, A1-A5 contexts, J1/J3 candidate labeling, T2 negative cap,
T3 oversampling); the collected training batch is capped at
max_false + positives rows. Optimization is operators.training
(analytic-gradient MSE + Adam, reference train.py:520-640 semantics).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from veealign_spark.operators import candidates as cand
from veealign_spark.operators import contexts, sampling, scoring, training
from veealign_spark.operators.kernel_np import KernelParams, default_params
from veealign_spark.plans import oaei_eval
from veealign_spark.plans.pipeline import PipelineConfig
from veealign_spark.sources import owl
from veealign_spark.sources.oaei import load_alignment_rdf


def _labeled_pairs(universe: DataFrame, pair_df: DataFrame, gold: DataFrame) -> DataFrame:
    """Cross product within the given source pairs, left-labeled by
    gold (J1 + J3). The single-column pre-filters must join DISTINCT
    source names: a source that participates in m gold pairs appears m
    times in pair_df, and joining the raw column would emit every
    labeled pair m1*m2 times — a silent ~(pairs/sources)^2 inflation
    of the pool (pure redundancy: each (ent1, ent2) belongs to exactly
    one source pair) that wastes scoring compute and double-counts tp
    in any sweep that trusts row counts."""
    a = universe.select(F.col("src").alias("src1"), F.col("key").alias("ent1"))
    b = universe.select(F.col("src").alias("src2"), F.col("key").alias("ent2"))
    pairs = (
        a.join(F.broadcast(pair_df.select("src1").distinct()), "src1")
        .crossJoin(b.join(F.broadcast(pair_df.select("src2").distinct()), "src2"))
        .join(F.broadcast(pair_df.dropDuplicates()), ["src1", "src2"])
        .select("ent1", "ent2")
    )
    return pairs.join(
        gold.select("ent1", "ent2").withColumn("y", F.lit(True)), ["ent1", "ent2"], "left"
    ).fillna(False, ["y"])


def prepare_training(
    spark: SparkSession,
    tables: dict,
    cfg: PipelineConfig,
    gold_all: DataFrame,
    pair_df: DataFrame,
    max_false: int = 5000,
    seed: int = 7,
) -> dict:
    """Spark-side prep -> collected numpy training arrays.

    Returns {base_params, max_types, concept_rows, prop_rows,
    node2, A2, y, prop_cos, prop_y, n_direct} where the arrays cover
    every labeled pair with encodable features (pairs on the A6 direct
    route carry no trainable parameters and are excluded from the
    loss, as in the reference's KeyError fallback)."""
    triples = tables["triples"]
    concepts = tables["concepts"]
    props = tables["props"]
    label_map = tables["labels"]

    ctx = contexts.build_contexts(
        triples, bag_of_neighbours=cfg.bag_of_neighbours, max_pathlen=cfg.max_pathlen
    )
    max_types = (
        max(contexts.derive_max_types(ctx), 1) if cfg.derive_types else cfg.max_types
    )
    features = contexts.assemble_features(
        ctx, max_types, cfg.max_paths, cfg.max_pathlen
    )
    prop_ctx = contexts.build_prop_contexts(triples)

    terms = [
        r["term"]
        for r in scoring.term_universe(triples, concepts, label_map).collect()
    ]
    emb_bc = scoring.EmbBroadcast.from_terms(spark, terms, cfg.emb_dim)
    source = scoring.VectorSource.broadcast(spark, emb_bc)
    # the encoded feature tables stay DataFrames (the distributed
    # full-pool threshold sweep — tune_threshold — and the distributed
    # gradient path read them in place); the lazy checkpoint makes the
    # bounded pool-key collects below materialize blocks the DataFrame
    # reuse then reads instead of recomputing the encode
    enc_df = scoring.encode_features(
        features, source, max_types, cfg.max_paths, cfg.max_pathlen,
        label_map=label_map,
    ).localCheckpoint(eager=False)
    encp_df = scoring.encode_prop_contexts(
        prop_ctx, source, label_map=label_map
    ).localCheckpoint(eager=False)

    # labeled concept pairs (J1+J3): the FULL pool stays a DataFrame —
    # density-true threshold tuning over it is the distributed
    # tune_threshold sweep (a threshold tuned on a balanced sample
    # over-accepts by the negative:positive density ratio at track
    # scale). Only the T2-capped batches the gradient sees are ever
    # collected; nothing pool-sized reaches the driver.
    cn = cand.with_norm(concepts).select("src", "key")
    gold_c = oaei_eval.orient_pairs(gold_all.select("ent1", "ent2"))
    lab_c_full = _labeled_pairs(cn, pair_df, gold_c).localCheckpoint(eager=False)
    lab_c = sampling.limit_negatives(lab_c_full, max_false, label_col="y", seed=seed)
    c_rows = [(r["ent1"], r["ent2"], bool(r["y"])) for r in lab_c.collect()]

    pn = cand.with_norm(props).select("src", "key", "kind")
    lab_p = None
    for kind in ("Object Property", "Datatype Property"):
        lp = _labeled_pairs(pn.filter(F.col("kind") == kind), pair_df, gold_c)
        lab_p = lp if lab_p is None else lab_p.unionByName(lp)
    lab_p_full = lab_p.localCheckpoint(eager=False)
    lab_p = sampling.limit_negatives(lab_p_full, max_false, label_col="y", seed=seed + 1)
    p_rows = [(r["ent1"], r["ent2"], bool(r["y"])) for r in lab_p.collect()]

    # pool-bounded feature collects: only encodings for entities that
    # appear in the T2-capped pools reach the driver (<= 2x capped rows
    # per table — NEVER the entity universe; a 100x corpus grows the
    # universe, not these). Broadcast-semijoin against the pool keys.
    def _pool_keys_df(rows):
        keys = sorted({k for r in rows for k in (r[0], r[1])})
        return spark.createDataFrame([(k,) for k in keys] or [("",)], "key string")

    ckeys_df = _pool_keys_df(c_rows)
    pkeys_df = _pool_keys_df(p_rows)
    enc = enc_df.join(F.broadcast(ckeys_df), "key", "semi").collect()
    encp = encp_df.join(F.broadcast(pkeys_df), "key", "semi").collect()
    node_map = {
        r["key"]: int(r["node"])
        for r in scoring.encode_nodes(
            ckeys_df.unionByName(pkeys_df).distinct(), source, label_map
        ).collect()
    }

    mat = emb_bc.bc.value["matrix"]
    T, P, L = max_types, cfg.max_paths, cfg.max_pathlen
    enc_map = {
        r["key"]: (int(r["node"]), np.asarray(r["feat"], dtype=np.int64))
        for r in enc
    }
    base = default_params(
        emb_dim=cfg.emb_dim, n_types=max_types, max_paths=P, max_pathlen=L,
        threshold=cfg.threshold, init=cfg.kernel_init,
        ctx_gain=cfg.ctx_gain,
    )
    base.weighted_sum = cfg.weighted_sum

    keep, n_direct = [], 0
    for e1, e2, y in c_rows:
        if e1 in enc_map and e2 in enc_map:
            keep.append((e1, e2, y))
        else:
            n_direct += 1
    node2 = np.zeros((len(keep), 2, cfg.emb_dim))
    y_arr = np.array([float(k[2]) for k in keep])
    A2 = np.zeros((len(keep), 2, T, L, cfg.emb_dim))
    chunk = 512
    for lo in range(0, len(keep), chunk):
        part = keep[lo:lo + chunk]
        for side in (0, 1):
            ni = np.array([enc_map[k[side]][0] for k in part], dtype=np.int64)
            fi = np.stack([enc_map[k[side]][1] for k in part]).reshape(-1, T, P, L)
            node2[lo:lo + len(part), side] = mat[ni]
            A2[lo:lo + len(part), side] = training.attended_tensor(
                mat[ni], mat[fi], base
            )

    encp_map = {
        r["key"]: (
            np.atleast_1d(np.asarray(r["self"], dtype=np.int64)),
            np.asarray(r["dom"], dtype=np.int64),
            np.asarray(r["rng"], dtype=np.int64),
        )
        for r in encp
    }
    pkeep = [(e1, e2, y) for e1, e2, y in p_rows if e1 in encp_map and e2 in encp_map]
    agg = np.zeros((len(pkeep), 2, 3, cfg.emb_dim))
    for i, (e1, e2, _y) in enumerate(pkeep):
        for side, key in enumerate((e1, e2)):
            for slot, idxs in enumerate(encp_map[key]):
                agg[i, side, slot] = mat[idxs].sum(axis=0)
    prop_cos = training.prop_cosines(agg) if len(pkeep) else np.zeros((0, 3))
    prop_y = np.array([float(k[2]) for k in pkeep])

    return {
        "base_params": base,
        "max_types": max_types,
        "concept_keys": [(k[0], k[1]) for k in keep],
        "node2": node2, "A2": A2, "y": y_arr,
        "prop_cos": prop_cos, "prop_y": prop_y,
        "n_direct": n_direct,
        "emb_dim": cfg.emb_dim,
        "mat": mat, "enc_map": enc_map, "encp_map": encp_map,
        "node_map": node_map,
        "lab_c_full": lab_c_full, "lab_p_full": lab_p_full,
        "enc_df": enc_df, "encp_df": encp_df,
        "emb_bc": emb_bc, "source": source, "label_map": label_map,
        "max_false": max_false, "seed": seed,
    }


def distributed_pools(prep: dict) -> tuple[DataFrame, DataFrame]:
    """(concept_pool, prop_pool) DataFrames for the SCALE-branch trainer
    (operators.training_dist): the same T2-capped labeled pools the
    numpy path collects (identical seeds -> identical rows), kept
    distributed and joined with the encoded feature tables — concept
    rows (n1, f1, n2, f2, y), property rows reduced to the three
    constant cosines (c0, c1, c2, y). Pairs with an un-encodable side
    drop via the inner joins, the numpy path's enc_map membership rule
    (those pairs ride the A6 direct route and carry no trainable
    parameters)."""
    from veealign_spark.operators import training_dist

    lab_c = sampling.limit_negatives(
        prep["lab_c_full"], prep["max_false"], label_col="y", seed=prep["seed"]
    )
    lab_p = sampling.limit_negatives(
        prep["lab_p_full"], prep["max_false"], label_col="y",
        seed=prep["seed"] + 1,
    )
    enc_df = prep["enc_df"]

    def side(tag):
        return enc_df.select(
            F.col("key").alias(f"ent{tag}"),
            F.col("node").alias(f"n{tag}"),
            F.col("feat").alias(f"f{tag}"),
        )

    cpool = (
        lab_c.join(side(1), "ent1").join(side(2), "ent2")
        .select("n1", "f1", "n2", "f2", F.col("y").cast("double").alias("y"))
    )
    ppool = training_dist.prop_cosine_pool(
        lab_p, prep["encp_df"], prep["emb_bc"]
    )
    return cpool, ppool


def train_kernel_auto(
    prep: dict,
    k: int = 5,
    fold: int = 0,
    seed: int = 7,
    small_rows: int | None = None,
    **train_kw,
) -> tuple[KernelParams, dict]:
    """Size-adaptive trainer dispatch (the adaptive.py pattern): at or
    below `small_rows` capped-pool rows the driver-numpy minibatch loop
    runs (reference batch semantics, bit-for-bit stable — the branch
    every fixture-scale caller takes); above it the pools stay
    DataFrames and operators.training_dist runs the large-batch
    protocol (one distributed full-pool gradient per Adam step —
    equivalent to batch_size >= pool size, pinned equal by pytest).
    The validation slice is driver-side in both branches (bounded by
    the element split's T4 down-sampling).

    Protocol note, stated rather than hidden: the scale branch trains
    on the FULL capped pools (no element-level train slice, no T3
    oversampling — large-batch gradients average the true label
    density) and uses the balanced validation slice only for
    early-stop + threshold. At fixture scale the two branches are
    therefore different protocols; the equivalence pytest pins the
    MECHANISM (distributed gradient == numpy gradient at equal
    settings), not this dispatcher's branch equality."""
    from veealign_spark.operators import adaptive, training_dist

    if small_rows is None:
        small_rows = adaptive.small_input_rows()
    n_pool = len(prep["y"]) + len(prep["prop_y"])
    tr, va = element_split(prep, k=k, fold=fold, seed=seed)
    if n_pool <= small_rows:
        return training.train_kernel(tr, va, prep["base_params"], seed=seed, **train_kw)
    cpool, ppool = distributed_pools(prep)
    train_kw.pop("batch_size", None)  # full-pool steps at scale
    return training_dist.train_kernel_distributed(
        cpool, ppool, va, prep["base_params"], prep["emb_bc"],
        prep["max_types"], **train_kw,
    )


def full_pool_scores(prep: dict, params: KernelParams) -> tuple[DataFrame, DataFrame]:
    """Distributed forward-only scores of the FULL labeled candidate
    pool: (scores, pool_gold) DataFrames. Rides the pipeline's exact
    broadcast-source kernel path (scoring.score_concepts/score_props;
    A6 direct-cosine route for feature-less pairs) over the prep's
    encoded tables —
    nothing pool-sized ever reaches the driver. pool_gold is the
    positive subset of the pool (the density-true tuning target)."""
    scores_c = scoring.score_concepts(
        prep["lab_c_full"].select("ent1", "ent2"),
        prep["enc_df"], prep["source"], params, prep["max_types"],
        label_map=prep["label_map"],
    )
    scores_p = scoring.score_props(
        prep["lab_p_full"].select("ent1", "ent2"),
        prep["encp_df"], prep["source"], params,
        label_map=prep["label_map"],
    )
    gold = (
        prep["lab_c_full"].filter(F.col("y")).select("ent1", "ent2")
        .unionByName(prep["lab_p_full"].filter(F.col("y")).select("ent1", "ent2"))
    )
    return scores_c.unionByName(scores_p), gold


def tune_threshold(prep: dict, params: KernelParams) -> tuple[float, float]:
    """Density-true argmax-F1 threshold over the full labeled pool via
    the distributed A9 sweep (metrics.best_threshold — zero
    single-partition exchanges on the scale path). Replaces the former
    driver-side score_full_pool twin, which collected every labeled
    pair to the driver: the one unbounded collect left in the repo."""
    from veealign_spark.operators import metrics as metrics_ops

    scores, gold = full_pool_scores(prep, params)
    return metrics_ops.best_threshold(scores, gold)


def element_split(
    prep: dict, k: int = 5, fold: int = 0, seed: int = 7
) -> tuple[training.TrainData, training.TrainData]:
    """Reference element-level split (train.py:505-549): positives and
    negatives shuffled and sliced separately; training positives
    oversampled to 1:1 with negatives (T3); validation negatives
    down-sampled to the validation-positive count."""
    rng = np.random.default_rng(seed)

    def split_idx(mask: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        idx = np.flatnonzero(mask)
        idx = idx[rng.permutation(len(idx))]
        ratio = 1.0 / k
        lo = int(ratio * fold * len(idx))
        hi = int((ratio * fold + ratio) * len(idx))
        return np.concatenate([idx[:lo], idx[hi:]]), idx[lo:hi]

    t_tr, t_va = split_idx(prep["y"] == 1.0)
    f_tr, f_va = split_idx(prep["y"] == 0.0)
    pt_tr, pt_va = split_idx(prep["prop_y"] == 1.0)
    pf_tr, pf_va = split_idx(prep["prop_y"] == 0.0)

    def oversample(pos: np.ndarray, neg: np.ndarray) -> np.ndarray:
        if len(pos) == 0:
            return neg
        reps = int(np.ceil(len(neg) / len(pos)))
        return np.concatenate([np.tile(pos, reps)[: len(neg)], neg])

    tr_idx = oversample(t_tr, f_tr)
    ptr_idx = oversample(pt_tr, pf_tr)
    va_idx = np.concatenate([t_va, f_va[rng.permutation(len(f_va))][: max(len(t_va), 1)]])
    pva_idx = np.concatenate(
        [pt_va, pf_va[rng.permutation(len(pf_va))][: max(len(pt_va), 1)]]
    )
    full = training.TrainData(
        prep["node2"], prep["A2"], prep["y"], prep["prop_cos"], prep["prop_y"]
    )
    return full.slice(tr_idx, ptr_idx), full.slice(va_idx, pva_idx)


def train_track(
    spark: SparkSession,
    dataset_dir: str,
    config: PipelineConfig | None = None,
    triplets: list | None = None,
    max_false: int = 5000,
    seed: int = 7,
    **train_kw,
) -> dict:
    """Train on a track's gold (element-level split) and return the
    trained KernelParams + training report."""
    cfg = config or oaei_eval.reference_config()
    if triplets is None:
        triplets = oaei_eval.conference_pairs(dataset_dir)
    onto_paths = sorted({p for a, b, _ in triplets for p in (a, b)})
    tables = owl.ontology_tables(spark, onto_paths)
    gold_all = None
    pairs = []
    for p1, p2, apath in triplets:
        g = oaei_eval.gold_keys(load_alignment_rdf(spark, apath)).filter(
            F.col("relation") == "="
        )
        gold_all = g if gold_all is None else gold_all.unionByName(g)
        pairs.append(tuple(sorted((owl.ontology_name(p1), owl.ontology_name(p2)))))
    pair_df = spark.createDataFrame(
        sorted(set(pairs)), "src1 string, src2 string"
    )
    prep = prepare_training(
        spark, tables, cfg, gold_all, pair_df, max_false=max_false, seed=seed
    )
    tr, va = element_split(prep, seed=seed)
    params, report = training.train_kernel(
        tr, va, prep["base_params"], seed=seed, **train_kw
    )
    # NOTE: the loop's threshold came from the BALANCED validation
    # slice and over-accepts at track density (negatives outnumber
    # positives ~500:1 at inference). Callers re-tune on a full
    # candidate pool: tune_threshold(prep, params) (distributed A9
    # sweep over the prep's labeled pool — fastest, zero unbounded
    # collects) or evaluate_with_params(tune_on_gold=True) over the
    # TRAINING pairs (re-scores the track; pinned equal by pytest —
    # both give thr 0.873 / F1 0.732 on the conference track).
    report["max_types"] = prep["max_types"]
    report["n_train"] = len(tr.y)
    report["n_val"] = len(va.y)
    report["n_direct_excluded"] = prep["n_direct"]
    return {"params": params, "report": report, "tables": tables, "prep": prep}


def evaluate_with_params(
    spark: SparkSession,
    dataset_dir: str,
    params: KernelParams,
    max_types: int,
    triplets: list | None = None,
    config: PipelineConfig | None = None,
    tune_on_gold: bool = False,
) -> dict:
    """Score a track with frozen trained weights. tune_on_gold=False
    (default) applies params.threshold verbatim — the held-out
    protocol; True re-tunes the threshold on the evaluated pairs' gold
    (used on TRAINING pairs to pick the fold threshold, and for the
    reference-parity element protocol where the track is its own
    validation set)."""
    cfg = config or oaei_eval.reference_config()
    cfg.params_override = params
    cfg.derive_types = False
    cfg.max_types = max_types
    cfg.threshold = params.threshold
    return oaei_eval.evaluate_track(
        spark, dataset_dir, config=cfg, tune_on_gold=tune_on_gold,
        triplets=triplets,
    )


def kfold_ontology_split(
    spark: SparkSession,
    dataset_dir: str,
    k: int = 5,
    seed: int = 7,
    max_false: int = 5000,
    **train_kw,
) -> dict:
    """Leak-free protocol: K folds over gold SOURCE PAIRS; each fold's
    pairs are scored with weights + threshold trained only on the
    other folds. Returns per-fold reports + pooled micro P/R."""
    triplets = oaei_eval.conference_pairs(dataset_dir)
    rng = np.random.default_rng(seed)
    order = rng.permutation(len(triplets))
    folds = [sorted(order[i::k]) for i in range(k)]
    per_fold = []
    tp = fp = fn = 0
    for fi, hold in enumerate(folds):
        hold_set = set(hold)
        train_triplets = [t for i, t in enumerate(triplets) if i not in hold_set]
        eval_triplets = [t for i, t in enumerate(triplets) if i in hold_set]
        trained = train_track(
            spark, dataset_dir, triplets=train_triplets,
            max_false=max_false, seed=seed, **train_kw,
        )
        # fold threshold: distributed A9 sweep over the TRAINING
        # pairs' full candidate pool (never the held-out pairs)
        tune = evaluate_with_params(
            spark, dataset_dir, trained["params"], trained["report"]["max_types"],
            triplets=train_triplets, tune_on_gold=True,
        )
        trained["params"].threshold = tune["threshold"]
        res = evaluate_with_params(
            spark, dataset_dir, trained["params"], trained["report"]["max_types"],
            triplets=eval_triplets,
        )
        m = res["micro"]
        tp += m["tp"]; fp += m["fp"]; fn += m["fn"]
        per_fold.append({
            "fold": fi,
            "eval_pairs": [f"{owl.ontology_name(a)}-{owl.ontology_name(b)}"
                           for a, b, _ in eval_triplets],
            "threshold": trained["params"].threshold,
            "micro": m,
        })
    prec = tp / (tp + fp) if tp + fp else 0.0
    rec = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    return {
        "per_fold": per_fold,
        "micro": {"tp": tp, "fp": fp, "fn": fn,
                  "precision": prec, "recall": rec, "f1": f1},
    }
