"""Batched dual-attention scoring kernel — pure numpy (K1-K9).

Reproduces, equation-for-equation, the semantics of the reference's
Siamese dual-attention matcher (VeeAlign, train.py:237-347 /
test.py:64-175; EMNLP 2021 "Multifaceted Context Representation using
Dual Attention for Ontology Alignment"), re-implemented from the math:

  1. path attention   : logit(path) = sum_l  node . tok_l         (K2)
  2. masked softmax   : -9999 additive mask where logit == 0      (K3)
  3. unified path rep : weighted-sum over paths (weighted_sum=True)
                        or argmax-path gather (False)             (K4)
  4. node attention   : logit(depth l) = node . best_path_l,
                        masked softmax over depth                 (K5)
  5. distance weights : learned v[l] sum over depth               (K6)
  6. type mixing      : convex combo of <=4 context types         (K7)
  7. projection+cosine: Linear(2d->proj) on [node ; context],
                        CosineSimilarity across the Siamese pair  (K8)
  8. property score   : sum-pool over (self, domains, ranges),
                        w_p*cos_self + w_d*cos_dom + w_r*cos_rng  (K9)

Invariants preserved from the reference:
- embedding row 0 is all-zeros (pad/UNK), so pad tokens contribute an
  exactly-zero attention logit, which the mask at train.py:272 then
  sends to -9999 (the interaction called out in SURVEY.md §7).
- all math in float64 (torch.set_default_dtype(torch.float64),
  train.py:466).
- cosine uses eps=1e-8 denominator clamp (torch.nn.CosineSimilarity
  default).

This module is driver/executor-agnostic pure numpy: the Spark scoring
operator (scoring.py) calls the per-side functions (concept_reps_emb,
cosine) inside its Arrow UDF, once per distinct entity of a batch; the
per-pair entry points (score_*_pairs, direct_cosine) are the
single-node oracle the parity tests and the benchmark gate call.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

EPS = 1e-8


@dataclass
class KernelParams:
    """Frozen model parameters (reference train.py:248-267).

    type_weights holds the per-type convex-combination weights already
    resolved for n_neighbours types (the reference stores n-1 learned
    scalars and derives the residual at forward time, train.py:319-333;
    we resolve once at construction).
    """

    v: np.ndarray                      # [max_pathlen] per-depth weights
    type_weights: np.ndarray           # [n_types] convex weights
    out_w: np.ndarray                  # [proj_dim, 2*emb_dim]
    out_b: np.ndarray                  # [proj_dim]
    prop_weight: float = 0.34
    domain_weight: float = 0.33
    threshold: float = 0.90
    weighted_sum: bool = True
    max_paths: int = 2
    max_pathlen: int = 4
    extras: dict = field(default_factory=dict)

    @property
    def n_types(self) -> int:
        return len(self.type_weights)

    @property
    def emb_dim(self) -> int:
        return self.out_w.shape[1] // 2

    def to_dict(self) -> dict:
        return {
            "v": self.v,
            "type_weights": self.type_weights,
            "out_w": self.out_w,
            "out_b": self.out_b,
            "prop_weight": np.float64(self.prop_weight),
            "domain_weight": np.float64(self.domain_weight),
            "threshold": np.float64(self.threshold),
            "weighted_sum": np.bool_(self.weighted_sum),
            "max_paths": np.int64(self.max_paths),
            "max_pathlen": np.int64(self.max_pathlen),
        }

    @classmethod
    def from_dict(cls, d: dict) -> "KernelParams":
        return cls(
            v=np.asarray(d["v"], dtype=np.float64),
            type_weights=np.asarray(d["type_weights"], dtype=np.float64),
            out_w=np.asarray(d["out_w"], dtype=np.float64),
            out_b=np.asarray(d["out_b"], dtype=np.float64),
            prop_weight=float(d["prop_weight"]),
            domain_weight=float(d["domain_weight"]),
            threshold=float(d["threshold"]),
            weighted_sum=bool(d["weighted_sum"]),
            max_paths=int(d["max_paths"]),
            max_pathlen=int(d["max_pathlen"]),
        )


def default_params(
    emb_dim: int = 32,
    proj_dim: int = 64,
    n_types: int = 4,
    max_paths: int = 2,
    max_pathlen: int = 4,
    threshold: float = 0.90,
    seed: int = 7,
    init: str = "seeded",
    ctx_gain: float = 0.3,
) -> KernelParams:
    """Deterministically seeded frozen weights (reference checkpoints
    are stripped from the public repo — .MISSING_LARGE_BLOBS:5-6 — so
    fixtures pin a seeded weight set; see FIXTURES.md §6).

    v = 1/max_pathlen per depth; type weights uniform. Two projection
    inits:
    - "seeded": gaussian out_w (the fixture-pinned weight set).
    - "identity": residual-style out_w = [I | ctx_gain*I], i.e.
      rep = node + ctx_gain*context — an interpretable untrained
      default that preserves the name-cosine signal exactly and lets
      contexts contribute as a tie-break. Measured on the OAEI
      conference track the two inits land within noise of each other
      (F1 0.627 vs 0.626 — a seeded gaussian projection is
      JL-near-isometric, so cosine survives it); identity is kept as
      the real-input default for its marginally higher precision and
      interpretability. The same attention math (K2-K7) runs either
      way.
    """
    if init == "identity":
        eye = np.eye(emb_dim, dtype=np.float64)
        out_w = np.hstack([eye, ctx_gain * eye])
    else:
        rng = np.random.default_rng(seed)
        out_w = rng.standard_normal((proj_dim, 2 * emb_dim)) / np.sqrt(2 * emb_dim)
    return KernelParams(
        v=np.full(max_pathlen, 1.0 / max_pathlen, dtype=np.float64),
        type_weights=np.full(n_types, 1.0 / n_types, dtype=np.float64),
        out_w=out_w,
        out_b=np.zeros(out_w.shape[0], dtype=np.float64),
        threshold=threshold,
        max_paths=max_paths,
        max_pathlen=max_pathlen,
    )


def masked_softmax(x: np.ndarray) -> np.ndarray:
    """Softmax over the last axis treating exact-zero entries as masked
    (additive -9999, matching train.py:269-273 bit-for-bit in spirit:
    exp is shift-invariant so subtracting the max is safe)."""
    mask = (x != 0.0).astype(np.float64)
    z = x + (mask - 1.0) * 9999.0
    z = z - z.max(axis=-1, keepdims=True)
    e = np.exp(z)
    return e / e.sum(axis=-1, keepdims=True)


def cosine(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise cosine with the eps denominator clamp (K8)."""
    num = (a * b).sum(-1)
    den = np.linalg.norm(a, axis=-1) * np.linalg.norm(b, axis=-1)
    return num / np.maximum(den, EPS)


def concept_reps_emb(
    node: np.ndarray,          # [B, d]
    feat: np.ndarray,          # [B, T, P, L, d]  pad/UNK = zero vec
    p: KernelParams,
) -> np.ndarray:
    """One side's representation (K2-K8, up to the Siamese cosine):
    [B, proj]. It depends on that side's entity only, so a batch of
    pairs needs it once per distinct entity. Identical math whether the
    vectors were gathered from a broadcast matrix (index path) or
    pre-joined onto the rows (distributed-vocabulary path)."""
    # K2: path attention logits = sum over tokens of node . token
    path_logits = np.einsum("bd,btpld->btpl", node, feat).sum(axis=-1)  # [B,T,P]

    if p.weighted_sum:
        pw = masked_softmax(path_logits)                                # [B,T,P]
        best_path = np.einsum("btp,btpld->btld", pw, feat)              # [B,T,L,d]
    else:
        # argmax-path gather (max-pool variant, train.py:304-310)
        best = path_logits.argmax(axis=-1)                              # [B,T]
        bi = np.arange(feat.shape[0])[:, None]
        ti = np.arange(feat.shape[1])[None, :]
        best_path = feat[bi, ti, best]                                  # [B,T,L,d]

    # K5: node-level attention over depth positions of the unified path
    node_logits = np.einsum("bd,btld->btl", node, best_path)            # [B,T,L]
    nw = masked_softmax(node_logits)
    attended = nw[..., None] * best_path                                # [B,T,L,d]

    # K6: learned per-depth distance weights
    dwp = (p.v[None, None, :, None] * attended).sum(axis=2)             # [B,T,d]

    # K7: convex type mixing
    context = np.einsum("t,btd->bd", p.type_weights, dwp)               # [B,d]

    # K8: projection of [node ; context]
    cat = np.concatenate([node, context], axis=1)                       # [B,2d]
    return cat @ p.out_w.T + p.out_b                                    # [B,proj]


def score_concept_pairs(
    nodes: np.ndarray,      # [B, 2] int indices into emb
    features: np.ndarray,   # [B, 2, T, P, L] int indices
    emb: np.ndarray,        # [V, d] float64, row 0 zero
    p: KernelParams,
) -> np.ndarray:
    """Siamese concept-pair scores in [-1, 1] (K1-K8)."""
    if len(nodes) == 0:
        return np.zeros(0, dtype=np.float64)
    r0 = concept_reps_emb(emb[nodes[:, 0]], emb[features[:, 0]], p)
    r1 = concept_reps_emb(emb[nodes[:, 1]], emb[features[:, 1]], p)
    return cosine(r0, r1)


def score_concept_pairs_emb(
    node_vecs: np.ndarray,  # [B, 2, d] name-embedding vectors
    feat_vecs: np.ndarray,  # [B, 2, T, P, L, d] pre-joined context vectors
    p: KernelParams,
) -> np.ndarray:
    """Siamese scores over pre-joined vectors — the distributed-
    vocabulary path: no broadcast matrix, identical math (and bit-
    identical output) to score_concept_pairs."""
    if len(node_vecs) == 0:
        return np.zeros(0, dtype=np.float64)
    r0 = concept_reps_emb(node_vecs[:, 0], feat_vecs[:, 0], p)
    r1 = concept_reps_emb(node_vecs[:, 1], feat_vecs[:, 1], p)
    return cosine(r0, r1)


def score_property_pairs(
    prop_features: np.ndarray,  # [B, 2, 3, M] int indices (self/domains/ranges)
    emb: np.ndarray,
    p: KernelParams,
) -> np.ndarray:
    """Property-pair scores (K9): sum-pool each of (self, domains,
    ranges), convex combo of the three cosines (train.py:339-346)."""
    if len(prop_features) == 0:
        return np.zeros(0, dtype=np.float64)
    agg = emb[prop_features].sum(axis=-2)  # [B, 2, 3, d]
    return score_property_pairs_emb(agg, p)


def score_property_pairs_emb(
    agg: np.ndarray,  # [B, 2, 3, d] sum-pooled (self, domains, ranges)
    p: KernelParams,
) -> np.ndarray:
    """K9 over pre-pooled slot vectors (distributed-vocabulary path)."""
    if len(agg) == 0:
        return np.zeros(0, dtype=np.float64)
    w_r = 1.0 - p.prop_weight - p.domain_weight
    return (
        p.prop_weight * cosine(agg[:, 0, 0], agg[:, 1, 0])
        + p.domain_weight * cosine(agg[:, 0, 1], agg[:, 1, 1])
        + w_r * cosine(agg[:, 0, 2], agg[:, 1, 2])
    )


def direct_cosine(v1: np.ndarray, v2: np.ndarray) -> np.ndarray:
    """A6 direct-input fallback: raw name-embedding cosine for pairs
    lacking context. Implements the reference's *intent* (train.py:
    188-192: sim >= threshold) rather than the test.py:366 stale-score
    bug — Quirk Q3 in SURVEY.md."""
    return cosine(v1, v2)
