"""Kernel training — the reference's MSE + Adam loop, Spark-prepared.

Re-expresses train.py:520-640 (VeeAlign training: MSE loss between the
Siamese score and the 0/1 gold label, Adam with weight decay,
periodic validation, early stopping on patience, and an argmax-F1
threshold sweep saved with the best weights) for this engine:

- DATA is Spark: parsing, contexts, feature encoding, candidate
  labeling (J3), the negative cap (T2, train.py:537-541), positive
  oversampling to 1:1 (T3, train.py:545-547) and the K-fold split
  (T7) all run as the oracle-checked distributed operators; only the
  final capped training batch is collected.
- the MODEL is driver numpy: ~4k floats (projection out_w/out_b,
  per-depth weights v, type-mixing weights, property slot weights).
  Optimizing a kilobyte-scale parameter vector is driver work at any
  corpus size — the reference's torch loop was single-node too.

Gradient structure (why analytic backprop is short): the embedding
table is FROZEN (reference train.py:248-250) and the path/node
attention stages (K2-K5) contain no trainable parameters, so the
attended context tensor A[b, side, t, l, :] is a CONSTANT during
training. The loss is differentiable only through K6 (v), K7
(type_weights), K8 (out_w/out_b) and the cosine; property scores (K9)
are linear in (prop_weight, domain_weight) over constant cosines.
Backprop below is verified against numerical gradients in
tests/test_training.py.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from veealign_spark.operators import kernel_np
from veealign_spark.operators.kernel_np import EPS, KernelParams, masked_softmax


# ---------------------------------------------------------------------------
# constant-tensor precomputation (K2-K5 under frozen embeddings)
# ---------------------------------------------------------------------------

def attended_tensor(
    node: np.ndarray,   # [B, d]
    feat: np.ndarray,   # [B, T, P, L, d]
    p: KernelParams,
) -> np.ndarray:
    """A[b, t, l, :] — the post-attention context stack, mirroring
    kernel_np.concept_reps_emb up to (and excluding) K6. Constant
    w.r.t. every trainable parameter."""
    path_logits = np.einsum("bd,btpld->btpl", node, feat).sum(axis=-1)
    if p.weighted_sum:
        pw = masked_softmax(path_logits)
        best_path = np.einsum("btp,btpld->btld", pw, feat)
    else:
        best = path_logits.argmax(axis=-1)
        bi = np.arange(feat.shape[0])[:, None]
        ti = np.arange(feat.shape[1])[None, :]
        best_path = feat[bi, ti, best]
    node_logits = np.einsum("bd,btld->btl", node, best_path)
    nw = masked_softmax(node_logits)
    return nw[..., None] * best_path  # [B, T, L, d]


# ---------------------------------------------------------------------------
# differentiable head: K6 + K7 + K8 + cosine (+ K9 for properties)
# ---------------------------------------------------------------------------

@dataclass
class TrainableParams:
    out_w: np.ndarray        # [proj, 2d]
    out_b: np.ndarray        # [proj]
    v: np.ndarray            # [L]
    type_weights: np.ndarray  # [T]
    prop_weight: float
    domain_weight: float

    @classmethod
    def from_kernel(cls, p: KernelParams) -> "TrainableParams":
        return cls(
            out_w=p.out_w.copy(), out_b=p.out_b.copy(), v=p.v.copy(),
            type_weights=p.type_weights.copy(),
            prop_weight=float(p.prop_weight),
            domain_weight=float(p.domain_weight),
        )

    def to_kernel(self, base: KernelParams, threshold: float) -> KernelParams:
        return KernelParams(
            v=self.v.copy(), type_weights=self.type_weights.copy(),
            out_w=self.out_w.copy(), out_b=self.out_b.copy(),
            prop_weight=float(self.prop_weight),
            domain_weight=float(self.domain_weight),
            threshold=float(threshold),
            weighted_sum=base.weighted_sum,
            max_paths=base.max_paths, max_pathlen=base.max_pathlen,
        )

    def flat(self) -> list[np.ndarray]:
        return [self.out_w, self.out_b, self.v, self.type_weights]


def _rep(node, A, tp: TrainableParams):
    """K6-K8 forward: rep = [node ; Σ_t tw_t Σ_l v_l A_tl] W^T + b."""
    dwp = np.einsum("l,btld->btd", tp.v, A)            # [B,T,d]
    context = np.einsum("t,btd->bd", tp.type_weights, dwp)
    d = node.shape[1]
    rep = node @ tp.out_w[:, :d].T + context @ tp.out_w[:, d:].T + tp.out_b
    return rep, dwp, context


def concept_scores(node2, A2, tp: TrainableParams):
    """node2 [B,2,d], A2 [B,2,T,L,d] -> scores [B] + cache for backward."""
    r0, dwp0, c0 = _rep(node2[:, 0], A2[:, 0], tp)
    r1, dwp1, c1 = _rep(node2[:, 1], A2[:, 1], tp)
    n0 = np.linalg.norm(r0, axis=-1)
    n1 = np.linalg.norm(r1, axis=-1)
    den = np.maximum(n0 * n1, EPS)
    s = (r0 * r1).sum(-1) / den
    return s, (r0, r1, n0, n1, den, dwp0, dwp1, c0, c1)


def concept_backward(dL_ds, node2, A2, tp: TrainableParams, cache):
    """Analytic gradients of Σ dL_ds·score w.r.t. (out_w, out_b, v, tw)."""
    r0, r1, n0, n1, den, dwp0, dwp1, c0, c1 = cache
    s = (r0 * r1).sum(-1) / den
    # d cos / d r0 = r1/den - s * r0 / n0^2   (den = n0*n1, off the eps clamp)
    g = dL_ds[:, None]
    dr0 = g * (r1 / den[:, None] - (s / np.maximum(n0 * n0, EPS))[:, None] * r0)
    dr1 = g * (r0 / den[:, None] - (s / np.maximum(n1 * n1, EPS))[:, None] * r1)
    d = node2.shape[2]
    dW = np.zeros_like(tp.out_w)
    db = dr0.sum(0) + dr1.sum(0)
    dW[:, :d] = dr0.T @ node2[:, 0] + dr1.T @ node2[:, 1]
    dW[:, d:] = dr0.T @ c0 + dr1.T @ c1
    dc0 = dr0 @ tp.out_w[:, d:]
    dc1 = dr1 @ tp.out_w[:, d:]
    # context = Σ_t tw_t dwp_t ;  dwp = Σ_l v_l A_tl
    dtw = np.einsum("bd,btd->t", dc0, dwp0) + np.einsum("bd,btd->t", dc1, dwp1)
    dper_t0 = np.einsum("bd,t->btd", dc0, tp.type_weights)
    dper_t1 = np.einsum("bd,t->btd", dc1, tp.type_weights)
    dv = np.einsum("btd,btld->l", dper_t0, A2[:, 0]) + np.einsum(
        "btd,btld->l", dper_t1, A2[:, 1]
    )
    return dW, db, dv, dtw


def prop_scores(cosines: np.ndarray, tp: TrainableParams) -> np.ndarray:
    """cosines [B,3] (self, domain, range — constants) -> K9 scores."""
    w_r = 1.0 - tp.prop_weight - tp.domain_weight
    return (
        tp.prop_weight * cosines[:, 0]
        + tp.domain_weight * cosines[:, 1]
        + w_r * cosines[:, 2]
    )


def prop_backward(dL_ds, cosines):
    dwp = (dL_ds * (cosines[:, 0] - cosines[:, 2])).sum()
    dwd = (dL_ds * (cosines[:, 1] - cosines[:, 2])).sum()
    return dwp, dwd


def f1_sweep(scores: np.ndarray, labels: np.ndarray, n_gold: int | None = None):
    """Argmax-F1 threshold over attained score levels (A9 numpy twin;
    >= semantics). Returns (threshold, f1)."""
    if len(scores) == 0:
        return 1.0, 0.0
    order = np.argsort(-scores)
    s, y = scores[order], labels[order]
    tp = np.cumsum(y)
    n = np.arange(1, len(s) + 1)
    total = n_gold if n_gold is not None else max(int(y.sum()), 1)
    prec = tp / n
    rec = tp / total
    f1 = np.where(prec + rec > 0, 2 * prec * rec / np.maximum(prec + rec, EPS), 0.0)
    # ties: last row per score level includes all pairs at that score
    last = np.ones(len(s), dtype=bool)
    last[:-1] = s[:-1] != s[1:]
    i = np.arange(len(s))[last][np.argmax(f1[last])]
    return float(s[i]), float(f1[i])


# ---------------------------------------------------------------------------
# Adam + the training loop
# ---------------------------------------------------------------------------

@dataclass
class _Adam:
    lr: float = 0.001
    weight_decay: float = 0.001
    beta1: float = 0.9
    beta2: float = 0.999
    eps: float = 1e-8
    t: int = 0
    m: list = field(default_factory=list)
    v: list = field(default_factory=list)

    def step(self, params: list[np.ndarray], grads: list[np.ndarray]) -> None:
        if not self.m:
            self.m = [np.zeros_like(p) for p in params]
            self.v = [np.zeros_like(p) for p in params]
        self.t += 1
        for i, (p, g) in enumerate(zip(params, grads)):
            g = g + self.weight_decay * p  # torch Adam's weight_decay
            self.m[i] = self.beta1 * self.m[i] + (1 - self.beta1) * g
            self.v[i] = self.beta2 * self.v[i] + (1 - self.beta2) * g * g
            mhat = self.m[i] / (1 - self.beta1 ** self.t)
            vhat = self.v[i] / (1 - self.beta2 ** self.t)
            p -= self.lr * mhat / (np.sqrt(vhat) + self.eps)


@dataclass
class TrainData:
    """Collected, capped training arrays (Spark-prepared)."""
    node2: np.ndarray      # [B, 2, d]
    A2: np.ndarray         # [B, 2, T, L, d]
    y: np.ndarray          # [B]
    prop_cos: np.ndarray   # [Bp, 3]
    prop_y: np.ndarray     # [Bp]

    def slice(self, idx: np.ndarray, pidx: np.ndarray) -> "TrainData":
        return TrainData(
            self.node2[idx], self.A2[idx], self.y[idx],
            self.prop_cos[pidx], self.prop_y[pidx],
        )


def mse_and_grads(data: TrainData, tp: TrainableParams):
    """Joint concept+property MSE (reference batch_step concatenates
    both output vectors before the loss) and its gradients."""
    sc, cache = concept_scores(data.node2, data.A2, tp)
    sp = prop_scores(data.prop_cos, tp)
    out = np.concatenate([sc, sp])
    targ = np.concatenate([data.y, data.prop_y])
    B = max(len(out), 1)
    loss = float(((out - targ) ** 2).mean()) if len(out) else 0.0
    dL = 2.0 * (out - targ) / B
    dW, db, dv, dtw = concept_backward(dL[: len(sc)], data.node2, data.A2, tp, cache)
    dwp, dwd = prop_backward(dL[len(sc):], data.prop_cos)
    return loss, (dW, db, dv, dtw, dwp, dwd)


def train_kernel(
    train: TrainData,
    val: TrainData,
    base: KernelParams,
    lr: float = 0.001,
    weight_decay: float = 0.001,
    batch_size: int = 32,
    num_epochs: int = 50,
    patience: int = 10,
    validation_interval: int = 100,
    seed: int = 7,
) -> tuple[KernelParams, dict]:
    """The reference loop: minibatch MSE + Adam, validate every
    `validation_interval` updates, keep the best-validation weights,
    early-stop after `patience` non-improving validations, tune the
    threshold on the validation scores by argmax-F1 (train.py:584-617).
    Deterministic: seeded epoch shuffles, no wall-clock anywhere."""
    tp = TrainableParams.from_kernel(base)
    opt = _Adam(lr=lr, weight_decay=weight_decay)
    rng = np.random.default_rng(seed)
    best = TrainableParams.from_kernel(base)
    min_val = np.inf
    bad = 0
    history = []
    stop = False
    B = len(train.y)
    Bp = len(train.prop_y)
    for epoch in range(num_epochs):
        if stop:
            break
        order = rng.permutation(B)
        porder = rng.permutation(Bp) if Bp else np.zeros(0, dtype=int)
        nb = max(int(np.ceil(B / batch_size)), 1)
        pbs = int(np.ceil(Bp / nb)) if Bp else 0
        for bi in range(nb):
            idx = order[bi * batch_size:(bi + 1) * batch_size]
            pidx = porder[bi * pbs:(bi + 1) * pbs] if pbs else porder[:0]
            loss, (dW, db, dv, dtw, dwp, dwd) = mse_and_grads(
                train.slice(idx, pidx), tp
            )
            pw = np.array([tp.prop_weight, tp.domain_weight])
            opt.step(tp.flat() + [pw], [dW, db, dv, dtw, np.array([dwp, dwd])])
            tp.prop_weight, tp.domain_weight = float(pw[0]), float(pw[1])
            if opt.t % validation_interval == 0 or (epoch == num_epochs - 1 and bi == nb - 1):
                val_loss, _ = mse_and_grads(val, tp)
                history.append({"step": opt.t, "train_loss": loss, "val_loss": val_loss})
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
                        stop = True
                        break
    # threshold: argmax-F1 on validation scores with the best weights
    sc, _ = concept_scores(val.node2, val.A2, best)
    sp = prop_scores(val.prop_cos, best)
    thr, f1 = f1_sweep(
        np.concatenate([sc, sp]), np.concatenate([val.y, val.prop_y])
    )
    params = best.to_kernel(base, thr)
    return params, {
        "min_val_loss": float(min_val) if np.isfinite(min_val) else None,
        "val_f1": f1, "threshold": thr, "steps": opt.t, "history": history[-5:],
    }


def prop_cosines(agg: np.ndarray) -> np.ndarray:
    """[B,2,3,d] sum-pooled slot vectors -> the three constant cosines
    (same cosine as kernel_np.score_property_pairs_emb)."""
    out = np.zeros((len(agg), 3), dtype=np.float64)
    for k in range(3):
        a, b = agg[:, 0, k], agg[:, 1, k]
        num = (a * b).sum(-1)
        den = np.linalg.norm(a, axis=-1) * np.linalg.norm(b, axis=-1)
        out[:, k] = num / np.maximum(den, EPS)
    return out
