"""Trainer correctness: analytic gradients vs numerical, one Adam step
decreases loss on a fixed batch (the VERDICT-prescribed pin), the
attended tensor matches kernel_np's forward, and f1_sweep matches a
brute-force threshold grid."""

from __future__ import annotations

import numpy as np
import pytest

from veealign_spark.operators import kernel_np, training as tr
from veealign_spark.operators.kernel_np import default_params


@pytest.fixture()
def batch():
    rng = np.random.default_rng(0)
    B, T, L, d = 6, 3, 4, 8
    base = default_params(emb_dim=d, proj_dim=10, n_types=T, max_paths=2, max_pathlen=L)
    return tr.TrainData(
        node2=rng.standard_normal((B, 2, d)),
        A2=rng.standard_normal((B, 2, T, L, d)) * 0.3,
        y=rng.integers(0, 2, B).astype(float),
        prop_cos=rng.uniform(-1, 1, (4, 3)),
        prop_y=rng.integers(0, 2, 4).astype(float),
    ), base


def test_analytic_gradients_match_numerical(batch):
    data, base = batch
    tp = tr.TrainableParams.from_kernel(base)
    _, (dW, db, dv, dtw, dwp, dwd) = tr.mse_and_grads(data, tp)
    eps = 1e-6

    def num(get, i):
        old = get()[i]
        get()[i] = old + eps
        lp, _ = tr.mse_and_grads(data, tp)
        get()[i] = old - eps
        lm, _ = tr.mse_and_grads(data, tp)
        get()[i] = old
        return (lp - lm) / (2 * eps)

    for analytic, get in [
        (dv, lambda: tp.v),
        (dtw, lambda: tp.type_weights),
        (db, lambda: tp.out_b),
    ]:
        for i in range(len(analytic)):
            assert abs(num(get, (i,)) - analytic[i]) < 1e-7
    for i in range(3):
        for j in range(3):
            assert abs(num(lambda: tp.out_w, (i, j)) - dW[i, j]) < 1e-7
    # property slot weights
    old = tp.prop_weight
    tp.prop_weight = old + eps
    lp, _ = tr.mse_and_grads(data, tp)
    tp.prop_weight = old - eps
    lm, _ = tr.mse_and_grads(data, tp)
    tp.prop_weight = old
    assert abs((lp - lm) / (2 * eps) - dwp) < 1e-7


def test_one_training_step_decreases_loss(batch):
    data, base = batch
    tp = tr.TrainableParams.from_kernel(base)
    opt = tr._Adam(lr=0.01, weight_decay=0.0)
    loss0, grads = tr.mse_and_grads(data, tp)
    pw = np.array([tp.prop_weight, tp.domain_weight])
    opt.step(tp.flat() + [pw], list(grads[:4]) + [np.array(grads[4:])])
    tp.prop_weight, tp.domain_weight = float(pw[0]), float(pw[1])
    loss1, _ = tr.mse_and_grads(data, tp)
    assert loss1 < loss0, (loss0, loss1)


def test_attended_tensor_reproduces_kernel_forward(batch):
    """concept_scores over attended_tensor == kernel_np's score path
    for the same embedded inputs (both weighted_sum modes)."""
    rng = np.random.default_rng(3)
    B, T, P, L, d = 5, 3, 2, 4, 8
    node2 = rng.standard_normal((B, 2, d))
    feat2 = rng.standard_normal((B, 2, T, P, L, d)) * 0.4
    for ws in (True, False):
        p = default_params(emb_dim=d, proj_dim=10, n_types=T, max_paths=P, max_pathlen=L)
        p.weighted_sum = ws
        want = kernel_np.score_concept_pairs_emb(node2, feat2, p)
        A2 = np.stack(
            [tr.attended_tensor(node2[:, s], feat2[:, s], p) for s in (0, 1)], axis=1
        )
        got, _ = tr.concept_scores(node2, A2, tr.TrainableParams.from_kernel(p))
        np.testing.assert_allclose(got, want, atol=1e-12)


def test_f1_sweep_matches_grid():
    rng = np.random.default_rng(4)
    scores = np.round(rng.uniform(0, 1, 300), 3)
    labels = (rng.uniform(0, 1, 300) < 0.2).astype(float)
    thr, f1 = tr.f1_sweep(scores, labels)
    total = labels.sum()

    def f1_at(t):
        acc = scores >= t
        tp = (acc * labels).sum()
        prec = tp / max(acc.sum(), 1)
        rec = tp / max(total, 1)
        return 2 * prec * rec / (prec + rec) if prec + rec else 0.0

    grid_best = max(f1_at(t) for t in np.unique(scores))
    assert abs(f1_at(thr) - f1) < 1e-12
    assert abs(f1 - grid_best) < 1e-12


def test_train_kernel_converges_on_separable_toy():
    """End-to-end loop sanity: on a linearly separable toy problem the
    trained params reach near-zero validation loss and a high-F1
    threshold, deterministically."""
    rng = np.random.default_rng(5)
    B, T, L, d = 400, 2, 3, 6
    base = default_params(emb_dim=d, proj_dim=8, n_types=T, max_paths=2, max_pathlen=L)
    y = (rng.uniform(size=B) < 0.5).astype(float)
    # positives share the node direction; negatives are orthogonal-ish
    shared = rng.standard_normal((B, d))
    other = rng.standard_normal((B, d))
    node2 = np.stack([shared, np.where(y[:, None] == 1, shared, other)], axis=1)
    A2 = rng.standard_normal((B, 2, T, L, d)) * 0.05
    data = tr.TrainData(node2, A2, y, np.zeros((0, 3)), np.zeros(0))
    train = data.slice(np.arange(0, 300), np.zeros(0, dtype=int))
    val = data.slice(np.arange(300, B), np.zeros(0, dtype=int))
    params, report = tr.train_kernel(
        train, val, base, num_epochs=10, validation_interval=20, seed=5
    )
    assert report["val_f1"] >= 0.95, report
    params2, report2 = tr.train_kernel(
        train, val, base, num_epochs=10, validation_interval=20, seed=5
    )
    np.testing.assert_array_equal(params.out_w, params2.out_w)  # deterministic


# ---------------------------------------------------------------------------
# Distributed full-pool threshold tuning (no unbounded driver collect)
# ---------------------------------------------------------------------------

def _one_pair_track(spark):
    from pyspark.sql import functions as F

    from veealign_spark.plans import oaei_eval
    from veealign_spark.sources import owl
    from veealign_spark.sources.oaei import load_alignment_rdf

    ds = "/root/reference/datasets/conference"
    triplets = [
        t for t in oaei_eval.conference_pairs(ds)
        if t[2].endswith("cmt-conference.rdf")
    ]
    assert triplets, "conference fixture missing"
    p1, p2, apath = triplets[0]
    tables = owl.ontology_tables(spark, [p1, p2])
    gold_all = oaei_eval.gold_keys(load_alignment_rdf(spark, apath)).filter(
        F.col("relation") == "="
    )
    pair_df = spark.createDataFrame(
        [tuple(sorted((owl.ontology_name(p1), owl.ontology_name(p2))))],
        "src1 string, src2 string",
    )
    return tables, gold_all, pair_df


def test_prepare_training_never_collects_the_uncapped_pool(spark, monkeypatch):
    """T2 contract at the driver boundary: every collect inside
    prepare_training is universe-sized or negative-capped — the
    quadratic labeled pool stays distributed (it is tuned over by the
    distributed A9 sweep, tune_threshold)."""
    from veealign_spark.plans import oaei_eval, train_oaei

    tables, gold_all, pair_df = _one_pair_track(spark)
    cfg = oaei_eval.reference_config()
    sizes = []
    # patch the CONCRETE DataFrame class (pyspark 4 routes collect
    # through pyspark.sql.classic.dataframe.DataFrame, not the parent)
    cls = type(tables["triples"])
    orig = cls.collect

    def spy(self):
        rows = orig(self)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(cls, "collect", spy)
    prep = train_oaei.prepare_training(
        spark, tables, cfg, gold_all, pair_df, max_false=300
    )
    monkeypatch.undo()
    pool_n = prep["lab_c_full"].count() + prep["lab_p_full"].count()
    assert pool_n > 1000, pool_n  # the pool is genuinely quadratic-sized
    assert max(sizes) < pool_n, (max(sizes), pool_n)


def test_tune_threshold_equals_driver_sweep(spark):
    """The distributed argmax-F1 sweep over the full labeled pool
    (tune_threshold -> metrics.best_threshold) equals a driver-side
    f1_sweep over the same collected scores."""
    from pyspark.sql import functions as F

    from veealign_spark.plans import oaei_eval, train_oaei

    tables, gold_all, pair_df = _one_pair_track(spark)
    cfg = oaei_eval.reference_config()
    prep = train_oaei.prepare_training(
        spark, tables, cfg, gold_all, pair_df, max_false=300
    )
    params = prep["base_params"]
    thr, f1 = train_oaei.tune_threshold(prep, params)
    scores_df, gold_df = train_oaei.full_pool_scores(prep, params)
    pdf = (
        scores_df.join(
            gold_df.withColumn("y", F.lit(1.0)), ["ent1", "ent2"], "left"
        )
        .fillna(0.0, ["y"])
        .toPandas()
    )
    thr2, f12 = tr.f1_sweep(pdf["score"].to_numpy(), pdf["y"].to_numpy())
    assert f1 == pytest.approx(f12, abs=1e-9), (f1, f12)
    assert thr == pytest.approx(thr2, abs=1e-9), (thr, thr2)


def test_full_pool_scores_equal_kernel_rescore(spark, edge_case_tables):
    """Reference-free: prepare_training over the synthetic pair (coded
    ids named only by the label map, a feature-less concept, a
    context-less property) and full_pool_scores over its whole labeled
    pool. Every pair — concept and property, context and direct route
    — equals kernel_np re-scoring the prep's own encoded indices."""
    from veealign_spark.plans import train_oaei
    from veealign_spark.plans.pipeline import PipelineConfig

    t = edge_case_tables
    tables = {k: t[k] for k in ("triples", "concepts", "props", "labels")}
    pair_df = spark.createDataFrame([("src1", "src2")], "src1 string, src2 string")
    cfg = PipelineConfig()
    # no negative cap: the collected maps then cover every pool key
    prep = train_oaei.prepare_training(
        spark, tables, cfg, t["gold"], pair_df, max_false=10**6
    )
    params = prep["base_params"]
    scores_df, _ = train_oaei.full_pool_scores(prep, params)
    got = {(r["ent1"], r["ent2"]): r["score"] for r in scores_df.collect()}

    mat, node = prep["mat"], prep["node_map"]
    enc, encp = prep["enc_map"], prep["encp_map"]
    shape = (prep["max_types"], cfg.max_paths, cfg.max_pathlen)
    want, direct = {}, []

    def pairs(df):
        return [(r["ent1"], r["ent2"]) for r in df.select("ent1", "ent2").collect()]

    cpool = pairs(prep["lab_c_full"])
    ctx = [k for k in cpool if k[0] in enc and k[1] in enc]
    direct += [k for k in cpool if not (k[0] in enc and k[1] in enc)]
    n_cdirect = len(direct)
    if ctx:
        nodes = np.array([[enc[a][0], enc[b][0]] for a, b in ctx])
        feats = np.stack(
            [np.stack([enc[a][1], enc[b][1]]).reshape(2, *shape) for a, b in ctx]
        )
        want.update(zip(ctx, kernel_np.score_concept_pairs(nodes, feats, mat, params)))
    ppool = pairs(prep["lab_p_full"])
    pctx = [k for k in ppool if k[0] in encp and k[1] in encp]
    direct += [k for k in ppool if not (k[0] in encp and k[1] in encp)]
    M = len(next(iter(encp.values()))[1])
    pf = np.zeros((len(pctx), 2, 3, M), dtype=np.int64)
    for i, keys in enumerate(pctx):
        for side, key in enumerate(keys):
            s, d, r = encp[key]
            pf[i, side, 0, 0], pf[i, side, 1], pf[i, side, 2] = s[0], d, r
    want.update(zip(pctx, kernel_np.score_property_pairs(pf, mat, params)))
    v1 = mat[[node[a] for a, _ in direct]]
    v2 = mat[[node[b] for _, b in direct]]
    want.update(zip(direct, kernel_np.direct_cosine(v1, v2)))

    assert 0 < n_cdirect < len(direct) and ctx and pctx  # all four routes ran
    assert set(got) == set(want)
    bad = [k for k in want if abs(got[k] - want[k]) > 1e-12]
    assert not bad, bad[:5]
