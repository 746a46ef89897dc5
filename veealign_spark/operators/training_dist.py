"""Distributed gradient computation for kernel training.

The reference trains with minibatch MSE + Adam on a single node
(train.py:435-461 batch assembly, 520-640 loop). operators/training.py
re-expresses that loop in driver numpy over the T2-capped pool — the
right branch at fixture scale (the capped pool is a few thousand rows
and the parameter vector is ~4k floats). This module is the SCALE
branch: when the labeled pool is large (a 100 TB corpus with millions
of labeled pairs and a raised negative cap), per-step gradients are
computed INSIDE mapInPandas over the encoded pool DataFrames and
combined as a depth-2 tree aggregate — per-partition partial sums
(map side) reduced on the driver (<= numPartitions tiny rows), so no
pool-sized or entity-universe-sized tensor ever materializes
driver-side.

Why full-batch steps: parameter updates are inherently sequential
(Adam state), so the unit that parallelizes is the per-batch gradient.
At scale the efficient protocol is large-batch training — each Adam
step consumes the gradient of the WHOLE distributed pool (equivalent
to train_kernel with batch_size >= pool size, pinned by
tests/test_training_dist.py). Gradient contributions are row-separable
(the loss is a mean of per-pair squared errors), so partition partials
sum exactly; only float association order differs from the numpy twin
(~1e-12 per step).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from veealign_spark.operators import training
from veealign_spark.operators.kernel_np import KernelParams
from veealign_spark.operators.training import TrainableParams, _Adam

# one partial row per partition: unscaled gradient sums + sq-err sum
_PARTIAL_SCHEMA = (
    "loss double, n long, dw array<double>, db array<double>, "
    "dv array<double>, dtw array<double>, dwp double, dwd double"
)


def _tp_to_dict(tp: TrainableParams) -> dict:
    return {
        "out_w": tp.out_w.tolist(), "out_b": tp.out_b.tolist(),
        "v": tp.v.tolist(), "type_weights": tp.type_weights.tolist(),
        "prop_weight": tp.prop_weight, "domain_weight": tp.domain_weight,
    }


def _tp_from_dict(d: dict) -> TrainableParams:
    return TrainableParams(
        out_w=np.asarray(d["out_w"]), out_b=np.asarray(d["out_b"]),
        v=np.asarray(d["v"]), type_weights=np.asarray(d["type_weights"]),
        prop_weight=float(d["prop_weight"]),
        domain_weight=float(d["domain_weight"]),
    )


def concept_pool_partials(
    pool: DataFrame,
    emb_bc,
    tp: TrainableParams,
    base: KernelParams,
    max_types: int,
) -> DataFrame:
    """Map side of the tree aggregate over the CONCEPT pool
    (n1, f1, n2, f2, y): per-partition sums of the unscaled gradient
    (dL_ds = 2*(score - y), no 1/B — the combiner normalizes) plus the
    squared-error sum. The attended context tensor is rebuilt per batch
    from the broadcast frozen embedding matrix (constant w.r.t. every
    trainable parameter), exactly the broadcast scorer's layout — int64
    index grids, never per-row Python."""
    bc = emb_bc.bc
    tpd = _tp_to_dict(tp)
    bd = base.to_dict()
    T, P, L = max_types, base.max_paths, base.max_pathlen

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        mat = bc.value["matrix"]
        tpl = _tp_from_dict(tpd)
        b = KernelParams.from_dict(bd)
        acc = None
        for pdf in batches:
            if not len(pdf):
                continue
            f1 = np.vstack(pdf["f1"].to_numpy()).reshape(-1, T, P, L)
            f2 = np.vstack(pdf["f2"].to_numpy()).reshape(-1, T, P, L)
            n1 = pdf["n1"].to_numpy().astype(np.int64)
            n2 = pdf["n2"].to_numpy().astype(np.int64)
            node2 = np.stack([mat[n1], mat[n2]], axis=1)
            A2 = np.stack(
                [training.attended_tensor(mat[n1], mat[f1], b),
                 training.attended_tensor(mat[n2], mat[f2], b)], axis=1
            )
            y = pdf["y"].to_numpy().astype(np.float64)
            sc, cache = training.concept_scores(node2, A2, tpl)
            resid = sc - y
            dW, db, dv, dtw = training.concept_backward(
                2.0 * resid, node2, A2, tpl, cache
            )
            part = (float((resid ** 2).sum()), len(pdf), dW, db, dv, dtw)
            acc = part if acc is None else (
                acc[0] + part[0], acc[1] + part[1], acc[2] + part[2],
                acc[3] + part[3], acc[4] + part[4], acc[5] + part[5],
            )
        if acc is None:
            return
        yield pd.DataFrame([{
            "loss": acc[0], "n": acc[1],
            "dw": acc[2].ravel().tolist(), "db": acc[3].tolist(),
            "dv": acc[4].tolist(), "dtw": acc[5].tolist(),
            "dwp": 0.0, "dwd": 0.0,
        }])

    return pool.mapInPandas(fn, _PARTIAL_SCHEMA)


def prop_pool_partials(pool: DataFrame, tp: TrainableParams) -> DataFrame:
    """Map side over the PROPERTY pool (c0, c1, c2, y) — the three
    cosines are constants (frozen embeddings), so the partial is linear
    in (prop_weight, domain_weight)."""
    tpd = _tp_to_dict(tp)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tpl = _tp_from_dict(tpd)
        loss = 0.0
        n = 0
        dwp = dwd = 0.0
        for pdf in batches:
            if not len(pdf):
                continue
            cos = pdf[["c0", "c1", "c2"]].to_numpy().astype(np.float64)
            y = pdf["y"].to_numpy().astype(np.float64)
            sp = training.prop_scores(cos, tpl)
            resid = sp - y
            p, d = training.prop_backward(2.0 * resid, cos)
            loss += float((resid ** 2).sum())
            n += len(pdf)
            dwp += p
            dwd += d
        if n == 0:
            return
        yield pd.DataFrame([{
            "loss": loss, "n": n, "dw": [], "db": [], "dv": [], "dtw": [],
            "dwp": dwp, "dwd": dwd,
        }])

    return pool.mapInPandas(fn, _PARTIAL_SCHEMA)


def prop_cosine_pool(lab_p: DataFrame, encp_df: DataFrame, emb_bc) -> DataFrame:
    """Labeled property pairs (ent1, ent2, y) joined with the encoded
    prop contexts and reduced to the three constant cosines per row
    (c0, c1, c2, y) — the only inputs the differentiable property head
    needs. Pairs with either side un-encoded drop (inner join), the
    same membership rule the numpy path's encp_map applies."""
    from pyspark.sql import functions as F

    def side(tag):
        return encp_df.select(
            F.col("key").alias(f"ent{tag}"),
            F.col("self").alias(f"s{tag}"),
            F.col("dom").alias(f"d{tag}"),
            F.col("rng").alias(f"r{tag}"),
        )

    j = lab_p.join(side(1), "ent1").join(side(2), "ent2").select(
        "s1", "d1", "r1", "s2", "d2", "r2",
        F.col("y").cast("double").alias("y"),
    )
    bc = emb_bc.bc

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        mat = bc.value["matrix"]

        def pool_vec(col):
            return np.stack([
                mat[np.atleast_1d(np.asarray(v, dtype=np.int64))].sum(axis=0)
                for v in col
            ]) if len(col) else np.zeros((0, mat.shape[1]))

        for pdf in batches:
            if not len(pdf):
                continue
            agg = np.stack(
                [np.stack([pool_vec(pdf[c]) for c in cols], axis=1)
                 for cols in (("s1", "d1", "r1"), ("s2", "d2", "r2"))],
                axis=1,
            )
            cos = training.prop_cosines(agg)
            yield pd.DataFrame({
                "c0": cos[:, 0], "c1": cos[:, 1], "c2": cos[:, 2],
                "y": pdf["y"].to_numpy(),
            })

    return j.mapInPandas(fn, "c0 double, c1 double, c2 double, y double")


def distributed_grads(
    concept_pool: DataFrame | None,
    prop_pool: DataFrame | None,
    emb_bc,
    tp: TrainableParams,
    base: KernelParams,
    max_types: int,
):
    """Full-pool MSE loss + gradients, computed distributed. Returns
    (loss, (dW, db, dv, dtw, dwp, dwd)) matching training.mse_and_grads
    over the same rows (tests pin <= 1e-9 divergence). The reduce side
    collects at most numPartitions partial rows."""
    parts = []
    if concept_pool is not None:
        parts.extend(
            concept_pool_partials(
                concept_pool, emb_bc, tp, base, max_types
            ).collect()
        )
    if prop_pool is not None:
        parts.extend(prop_pool_partials(prop_pool, tp).collect())
    dW = np.zeros_like(tp.out_w)
    db = np.zeros_like(tp.out_b)
    dv = np.zeros_like(tp.v)
    dtw = np.zeros_like(tp.type_weights)
    dwp = dwd = loss = 0.0
    B = 0
    for r in parts:
        loss += r["loss"]
        B += r["n"]
        if len(r["dw"]):
            dW += np.asarray(r["dw"]).reshape(dW.shape)
            db += np.asarray(r["db"])
            dv += np.asarray(r["dv"])
            dtw += np.asarray(r["dtw"])
        dwp += r["dwp"]
        dwd += r["dwd"]
    B = max(B, 1)
    return loss / B, (dW / B, db / B, dv / B, dtw / B, dwp / B, dwd / B)


def train_kernel_distributed(
    concept_pool: DataFrame | None,
    prop_pool: DataFrame | None,
    val: training.TrainData,
    base: KernelParams,
    emb_bc,
    max_types: int,
    lr: float = 0.001,
    weight_decay: float = 0.001,
    num_epochs: int = 50,
    patience: int = 10,
    validation_interval: int = 1,
) -> tuple[KernelParams, dict]:
    """The scale-branch training loop: one full-pool distributed
    gradient per Adam step (large-batch protocol — equivalent to
    training.train_kernel with batch_size >= pool size; pinned by
    pytest). The pools stay DataFrames for the whole loop; validation
    runs on the driver over the T4-down-sampled val set (bounded by
    construction). Semantics otherwise mirror train_kernel: best-val
    weights kept, early stop on patience, argmax-F1 threshold on val."""
    if concept_pool is not None:
        concept_pool = concept_pool.localCheckpoint(eager=True)
    if prop_pool is not None:
        prop_pool = prop_pool.localCheckpoint(eager=True)
    tp = TrainableParams.from_kernel(base)
    opt = _Adam(lr=lr, weight_decay=weight_decay)
    best = TrainableParams.from_kernel(base)
    min_val = np.inf
    bad = 0
    history = []
    for _epoch in range(num_epochs):
        loss, (dW, db, dv, dtw, dwp, dwd) = distributed_grads(
            concept_pool, prop_pool, emb_bc, tp, base, max_types
        )
        pw = np.array([tp.prop_weight, tp.domain_weight])
        opt.step(tp.flat() + [pw], [dW, db, dv, dtw, np.array([dwp, dwd])])
        tp.prop_weight, tp.domain_weight = float(pw[0]), float(pw[1])
        if opt.t % validation_interval == 0 or _epoch == num_epochs - 1:
            val_loss, _ = training.mse_and_grads(val, tp)
            history.append(
                {"step": opt.t, "train_loss": loss, "val_loss": val_loss}
            )
            if val_loss < min_val:
                min_val = val_loss
                best = TrainableParams(
                    tp.out_w.copy(), tp.out_b.copy(), tp.v.copy(),
                    tp.type_weights.copy(), tp.prop_weight, tp.domain_weight,
                )
                bad = 0
            else:
                bad += 1
                if bad > patience:
                    break
    sc, _ = training.concept_scores(val.node2, val.A2, best)
    sp = training.prop_scores(val.prop_cos, best)
    thr, f1 = training.f1_sweep(
        np.concatenate([sc, sp]), np.concatenate([val.y, val.prop_y])
    )
    params = best.to_kernel(base, thr)
    return params, {
        "min_val_loss": float(min_val) if np.isfinite(min_val) else None,
        "val_f1": f1, "threshold": thr, "steps": opt.t,
        "history": history[-5:],
    }
