"""Output gate: the engine's results against references it did not make.

- `check_triples`: the staged `triples` table equals the pandas
  reference built from the generator's triples (inputs.expected_triples).
- `Oracle` / `check_scores`: every scored candidate pair is
  re-scored on the driver by the single-node numpy oracle
  (`oracle_np` contexts and feature tensors, `kernel_np` kernel); the
  engine's score must agree to 1e-9 and its accepted set must be
  exactly the pairs the oracle puts at or above the threshold.
- `quality`: precision and recall of the accepted set against the
  generator's gold alignment, each at least QUALITY_FLOOR.
- `check_kg`: `canonicalize.validate_kg` reports zero violations.

Each check returns a list of error strings; empty means it passed.
`collect` pulls what the checks read out of a `run_pipeline` result
(and has the oracle score it), and `check_all` runs every check on it.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import numpy as np
import pandas as pd

from veealign_spark.operators import kernel_np, oracle_np

QUALITY_FLOOR = 0.95
SCORE_ATOL = 1e-9
BATCH = 10_000  # spark.sql.execution.arrow.maxRecordsPerBatch in session.py
PROP_SLOTS = 16  # scoring.py max_prop_len


def check_triples(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    cols = ["src", "subj", "pred", "obj", "kind"]
    g = set(map(tuple, got[cols].itertuples(index=False)))
    w = set(map(tuple, want[cols].itertuples(index=False)))
    errs = []
    if len(got) != len(g):
        errs.append(f"triples: {len(got) - len(g)} duplicate rows")
    if g != w:
        errs.append(
            f"triples: {len(g - w)} unexpected, {len(w - g)} missing "
            f"(e.g. {sorted(g - w)[:1]} / {sorted(w - g)[:1]})"
        )
    return errs


class Oracle:
    """Driver-side reference scorer over a triples table: the contexts,
    feature tensors and vocabulary of `oracle_np`, the kernel of
    `kernel_np`, applied to given candidate pairs."""

    def __init__(self, triples: pd.DataFrame, params, max_types: int):
        self.p = params
        self.shape = (max_types, params.max_paths, params.max_pathlen)
        terms = sorted(set(triples["subj"]) | set(triples["obj"]) | set(triples["pred"]))
        self.ix = oracle_np.Indexer(terms, params.emb_dim)
        srcs = sorted(set(triples["src"]))
        self.ctx = {
            s: oracle_np.build_contexts(triples, s, False, params.max_pathlen) for s in srcs
        }
        self.pctx = {s: oracle_np.prop_contexts(triples, s) for s in srcs}
        self._cfeat: dict[str, np.ndarray | None] = {}
        self._pfeat: dict[str, np.ndarray] = {}
        self._nodes: dict[str, int] = {}

    def _concept_feat(self, key: str):
        if key not in self._cfeat:
            src, name = key.split("#", 1)
            self._cfeat[key] = oracle_np.to_feature_tensor(
                self.ctx.get(src, {}).get(name), self.ix, *self.shape
            )
        return self._cfeat[key]

    def _node(self, key: str) -> int:
        if key not in self._nodes:
            self._nodes[key] = self.ix.get(key.split("#", 1)[1])
        return self._nodes[key]

    def _prop_feat(self, key: str) -> np.ndarray:
        if key not in self._pfeat:
            src, name = key.split("#", 1)
            f = np.zeros((3, PROP_SLOTS), dtype=np.int64)
            f[0, 0] = self._node(key)
            c = self.pctx.get(src, {}).get(name)
            for slot in (1, 2) if c is not None else ():
                for j, tok in enumerate(c[slot][:PROP_SLOTS]):
                    f[slot, j] = self.ix.get(tok)
            self._pfeat[key] = f
        return self._pfeat[key]

    def _rows(self, keys: list[str], feat) -> tuple[np.ndarray, np.ndarray]:
        """Distinct keys' feature tensors stacked once, plus each key's
        row in that stack."""
        uniq = sorted(set(keys))
        pos = {k: i for i, k in enumerate(uniq)}
        return np.stack([feat(k) for k in uniq]), np.array([pos[k] for k in keys])

    def concept_batch(self, pairs: list[tuple[str, str]]):
        """(nodes [B,2], features [B,2,T,P,L]) for pairs whose two sides
        both have a context."""
        keys = [k for pair in pairs for k in pair]
        mat, rows = self._rows(keys, self._concept_feat)
        nodes = np.array([self._node(k) for k in keys], dtype=np.int64).reshape(-1, 2)
        return nodes, mat[rows].reshape(len(pairs), 2, *self.shape)

    def prop_batch(self, pairs: list[tuple[str, str]]) -> np.ndarray:
        keys = [k for pair in pairs for k in pair]
        mat, rows = self._rows(keys, self._prop_feat)
        return mat[rows].reshape(len(pairs), 2, 3, PROP_SLOTS)

    def kinds(self, pairs: pd.DataFrame) -> np.ndarray:
        """How each pair of pairs(ent1, ent2, is_prop) is scored:
        "prop" (K9), "context" (both concepts have a context, K1-K8) or
        "direct" (name-embedding cosine, A6)."""
        return np.array([
            "prop" if p
            else "context" if self._concept_feat(a) is not None and self._concept_feat(b) is not None
            else "direct"
            for a, b, p in zip(pairs["ent1"], pairs["ent2"], pairs["is_prop"])
        ])

    def score(self, pairs: pd.DataFrame, workers: int = 1) -> np.ndarray:
        """Oracle score for each row of pairs(ent1, ent2, is_prop),
        BATCH pairs at a time on `workers` threads (numpy releases the
        GIL in the kernel's array operations)."""
        out = np.zeros(len(pairs), dtype=np.float64)
        keys = list(zip(pairs["ent1"], pairs["ent2"]))
        kind = self.kinds(pairs)
        m = self.ix.matrix
        batches = []
        for name, fn in (
            ("context", lambda ks: kernel_np.score_concept_pairs(
                *self.concept_batch(ks), m, self.p)),
            ("prop", lambda ks: kernel_np.score_property_pairs(self.prop_batch(ks), m, self.p)),
            ("direct", lambda ks: kernel_np.direct_cosine(
                m[[self._node(a) for a, _ in ks]], m[[self._node(b) for _, b in ks]])),
        ):
            idx = np.flatnonzero(kind == name)
            batches += [(fn, idx[lo:lo + BATCH]) for lo in range(0, len(idx), BATCH)]

        def run(batch):
            fn, part = batch
            out[part] = fn([keys[i] for i in part])

        with ThreadPoolExecutor(workers) as ex:
            list(ex.map(run, batches))
        return out


def check_scores(
    scores: pd.DataFrame, accepted: pd.DataFrame, ref: np.ndarray, threshold: float
) -> list[str]:
    """scores(ent1, ent2, score, is_prop) as the engine emitted them,
    accepted(ent1, ent2), ref = Oracle.score(scores)."""
    errs = []
    bad = ~np.isclose(scores["score"].to_numpy(), ref, rtol=0, atol=SCORE_ATOL)
    if bad.any():
        i = int(np.argmax(bad))
        errs.append(
            f"scores: {int(bad.sum())} of {len(ref)} differ from the oracle "
            f"(e.g. {scores['ent1'].iloc[i]}~{scores['ent2'].iloc[i]}: "
            f"{scores['score'].iloc[i]!r} vs {ref[i]!r})"
        )
    keys = list(zip(scores["ent1"], scores["ent2"]))
    # a pair whose oracle score sits within float noise of the threshold
    # may land on either side
    band = {k for k, s in zip(keys, ref) if abs(s - threshold) <= SCORE_ATOL}
    want = {k for k, s in zip(keys, ref) if s >= threshold} - band
    got = set(zip(accepted["ent1"], accepted["ent2"])) - band
    if len(accepted) != len(set(zip(accepted["ent1"], accepted["ent2"]))):
        errs.append("accepted: duplicate pairs")
    if got != want:
        errs.append(
            f"accepted: {len(got - want)} unexpected, {len(want - got)} missing "
            f"vs the oracle (e.g. {sorted(got - want)[:1]} / {sorted(want - got)[:1]})"
        )
    return errs


def quality(accepted: pd.DataFrame, gold: set[tuple[str, str]]) -> tuple[float, float]:
    got = set(zip(accepted["ent1"], accepted["ent2"]))
    tp = len(got & gold)
    return (tp / len(got) if got else 0.0, tp / len(gold) if gold else 0.0)


def check_quality(precision: float, recall: float) -> list[str]:
    return [
        f"{name} {v:.4f} < {QUALITY_FLOOR}"
        for name, v in (("precision", precision), ("recall", recall))
        if v < QUALITY_FLOOR
    ]


def check_kg(violations: pd.DataFrame) -> list[str]:
    bad = violations[violations["violations"] != 0]
    return [f"validate_kg: {r.invariant}={r.violations}" for r in bad.itertuples()]


@dataclass
class Outputs:
    """The parts of a run_pipeline result the gate reads, on the driver,
    with the oracle's score for every scored pair."""

    triples: pd.DataFrame
    scores: pd.DataFrame
    accepted: pd.DataFrame
    violations: pd.DataFrame
    ref: np.ndarray
    threshold: float


def collect(res: dict, oracle: Oracle, workers: int = 1) -> Outputs:
    """Pull the outputs to the driver; the oracle re-scores the scored
    pairs on `workers` other threads meanwhile."""
    from veealign_spark.operators import canonicalize

    scores = res["scores"].select("ent1", "ent2", "score", "is_prop").toPandas()
    with ThreadPoolExecutor(1) as ex:
        ref = ex.submit(oracle.score, scores, workers)
        return Outputs(
            triples=res["triples"].toPandas(),
            scores=scores,
            accepted=res["accepted"].select("ent1", "ent2").toPandas(),
            violations=canonicalize.validate_kg(
                res["clusters"], res["accepted"], res["kg_triples"], res["kg_entities"]
            ).toPandas(),
            ref=ref.result(),
            threshold=res["threshold"],
        )


def check_all(out: Outputs, expected: pd.DataFrame, gold: set[tuple[str, str]]):
    """Every check over one build's outputs. Returns (one error list per
    check, (precision, recall))."""
    pr = quality(out.accepted, gold)
    checks = [
        check_triples(out.triples, expected),
        check_scores(out.scores, out.accepted, out.ref, out.threshold),
        check_quality(*pr),
        check_kg(out.violations),
    ]
    return checks, pr
