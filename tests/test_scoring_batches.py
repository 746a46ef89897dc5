"""The scorers' per-batch step without Spark: Arrow batches built the
way scoring._join_sides emits them (a key repeated within a row and
across rows, one-sided and two-sided missing encodings) must score
every row as the per-pair kernel_np oracle does, on both value layouts
(int64 indices over a broadcast matrix, flattened float64 vectors)."""

from __future__ import annotations

from types import SimpleNamespace

import numpy as np
import pyarrow as pa
import pytest

from veealign_spark.operators import kernel_np, scoring
from veealign_spark.operators.kernel_np import KernelParams

DIM, V, T, M = 8, 20, 3, scoring.MAX_PROP_LEN

# (ent1, ent2): x repeats across rows and sides, w is paired with
# itself, q and r have no encoding (q one-sided, q/r both sides)
PAIRS = [
    ("A#x", "B#y"),
    ("A#x", "B#z"),
    ("A#w", "A#w"),
    ("B#z", "A#w"),
    ("A#x", "B#q"),
    ("B#q", "A#r"),
    ("B#y", "A#x"),
    ("A#r", "B#y"),
]
ENCODED = ["A#x", "B#y", "B#z", "A#w"]
KEYS = ENCODED + ["B#q", "A#r"]


def _params(weighted_sum: bool) -> KernelParams:
    rng = np.random.default_rng(5)
    return KernelParams(
        v=np.array([0.4, 0.3, 0.2, 0.1]),
        type_weights=np.array([0.5, 0.3, 0.2]),
        out_w=rng.standard_normal((6, 2 * DIM)),
        out_b=rng.standard_normal(6) * 0.01,
        prop_weight=0.5,
        domain_weight=0.3,
        weighted_sum=weighted_sum,
        max_paths=2,
        max_pathlen=4,
    )


def _world():
    rng = np.random.default_rng(11)
    emb = np.vstack([np.zeros((1, DIM)), rng.standard_normal((V - 1, DIM))])

    def toks(*shape):  # ~30 % pad, so the attention masks are exercised
        return np.where(rng.random(shape) < 0.3, 0, rng.integers(1, V, shape))

    ent = {}
    for k in KEYS:
        enc = k in ENCODED
        ent[k] = {
            "d": int(rng.integers(1, V)),
            "n": int(rng.integers(1, V)) if enc else None,
            "f": toks(T, 2, 4) if enc else None,
            "self": int(rng.integers(1, V)) if enc else None,
            "dom": toks(M) if enc else None,
            "rng": toks(M) if enc else None,
        }
    return emb, ent


def _batch(ent, emb, cols, layout) -> pa.RecordBatch:
    """ent1, ent2, then each column suffixed 1 and 2 per side; `layout`
    "index" carries int64 indices, "vector" the flattened vectors."""

    def cell(v):
        if v is None:
            return None
        if layout == "index":
            return v if np.isscalar(v) else np.ravel(v).tolist()
        return emb[v].ravel().tolist()

    def typ(c):
        if layout == "vector":
            return pa.list_(pa.float64())
        return pa.int64() if c in ("d", "n", "self") else pa.list_(pa.int64())

    arrays = [pa.array([p[0] for p in PAIRS]), pa.array([p[1] for p in PAIRS])]
    names = ["ent1", "ent2"]
    for s in (0, 1):
        for c in cols:
            arrays.append(pa.array([cell(ent[p[s]][c]) for p in PAIRS], typ(c)))
            names.append(f"{c}{s + 1}")
    return pa.RecordBatch.from_arrays(arrays, names=names)


def _read(layout, emb):
    bc = SimpleNamespace(value={"matrix": emb}) if layout == "index" else None
    return scoring.VectorSource(None, DIM, bc).gather()


def _direct(emb, a, b) -> float:
    return kernel_np.direct_cosine(emb[[a["d"]]], emb[[b["d"]]])[0]


@pytest.mark.parametrize("layout", ["index", "vector"])
@pytest.mark.parametrize("weighted_sum", [True, False])
def test_concept_batch_equals_per_pair_kernel(layout, weighted_sum):
    emb, ent = _world()
    p = _params(weighted_sum)
    batch = _batch(ent, emb, ["d", "n", "f"], layout)
    want = []
    for k1, k2 in PAIRS:
        a, b = ent[k1], ent[k2]
        if a["f"] is None or b["f"] is None:
            want.append(_direct(emb, a, b))
        else:
            want.append(kernel_np.score_concept_pairs(
                np.array([[a["n"], b["n"]]]), np.stack([a["f"], b["f"]])[None], emb, p
            )[0])
    got = scoring.concept_batch_scores(batch, _read(layout, emb), p, max_types=T)
    np.testing.assert_allclose(got, want, rtol=0, atol=1e-12)
    # a sliced batch (non-zero Arrow offsets) reads the same rows
    got = scoring.concept_batch_scores(batch.slice(2), _read(layout, emb), p, max_types=T)
    np.testing.assert_allclose(got, want[2:], rtol=0, atol=1e-12)


@pytest.mark.parametrize("layout", ["index", "vector"])
def test_prop_batch_equals_per_pair_kernel(layout):
    emb, ent = _world()
    p = _params(True)
    batch = _batch(ent, emb, ["d", "self", "dom", "rng"], layout)

    def slots(e):  # [3, M] self (then pad), domains, ranges
        own = np.zeros(M, dtype=np.int64)
        own[0] = e["self"]
        return np.stack([own, e["dom"], e["rng"]])

    want = []
    for k1, k2 in PAIRS:
        a, b = ent[k1], ent[k2]
        if a["self"] is None or b["self"] is None:
            want.append(_direct(emb, a, b))
        else:
            want.append(kernel_np.score_property_pairs(
                np.stack([slots(a), slots(b)])[None], emb, p
            )[0])
    got = scoring.prop_batch_scores(batch, _read(layout, emb), p)
    np.testing.assert_allclose(got, want, rtol=0, atol=1e-12)
    got = scoring.prop_batch_scores(batch.slice(3), _read(layout, emb), p)
    np.testing.assert_allclose(got, want[3:], rtol=0, atol=1e-12)
