"""Deterministic hash-seeded embedding stub standing in for USE.

The reference embeds every unique normalized term once with TF-Hub
Universal Sentence Encoder (data_preprocessing.py:242-252) and reserves
index 0 for an all-zero <UNK>/pad vector (data_preprocessing.py:201,245
— the row-0-zeros invariant is load-bearing for the masked softmax in
the scoring kernel, train.py:272). The container has no TF-Hub, so we
use a deterministic stub with the same *shape contract*:

- a term's vector is the L2-normalized sum of per-token vectors,
- a token's vector is a seeded gaussian keyed by an md5 of the token,
so two differently-cased/underscored spellings of the same name
normalize to the same tokens and hence the exact same vector (which is
what makes cosine ranking meaningful on fixtures), while unrelated
names are near-orthogonal in expectation.

`embed_terms_np` is the single source of truth — the Spark pandas UDF,
the fixture generator, and the numpy oracle all call it.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

DEFAULT_DIM = 32
UNK = "<UNK>"

# Cross-lingual stand-in (the reference's multifarm track uses the
# *multilingual* USE model, which embeds translations near each other
# — data_preprocessing.py:25-29): a deterministic token lexicon mapped
# to canonical forms before hashing, so translated names share
# vectors. English tokens are absent from the keys and embed as-is.
TRANSLATIONS: dict[str, str] = {
    "konferenz": "conference", "mitglied": "member", "beitrag": "paper",
    "autor": "author", "gutachten": "review", "vorsitz": "chair",
    "sitzung": "session", "schiene": "track", "programm": "program",
    "ausschuss": "committee", "werkstatt": "workshop", "anleitung": "tutorial",
    "grundsatz": "keynote", "sprecher": "speaker", "thema": "topic",
    "entscheidung": "decision", "kamera": "camera", "fertig": "ready",
    "einreichung": "submission", "entwurf": "draft",
    "anmeldung": "registration", "gebuehr": "fee", "ort": "venue",
    "raum": "room", "zeitplan": "schedule", "platz": "slot", "meta2": "meta",
    "extern": "external", "student2": "student", "helfer": "volunteer",
    "sponsor2": "sponsor", "stand": "booth", "vorfuehrung": "demo",
    "plakat": "poster", "podium": "panel", "eingeladen": "invited",
    "vortrag": "talk", "kurzfassung": "abstract", "frist": "deadline",
    "benachrichtigung": "notification",
}


def canonical_token(token: str) -> str:
    return TRANSLATIONS.get(token, token)


def _token_vec(token: str, dim: int) -> np.ndarray:
    token = canonical_token(token)
    seed = int.from_bytes(hashlib.md5(token.encode("utf-8")).digest()[:8], "big")
    return np.random.default_rng(seed).standard_normal(dim)


def embed_terms_np(terms: list[str], dim: int = DEFAULT_DIM) -> np.ndarray:
    """Embed a list of (already normalized) terms -> [n, dim] float64.

    Empty strings and UNK embed to the zero vector (row-0 invariant).
    """
    out = np.zeros((len(terms), dim), dtype=np.float64)
    cache: dict[str, np.ndarray] = {}
    for i, term in enumerate(terms):
        if not term or term == UNK:
            continue
        toks = term.split(" ")
        acc = np.zeros(dim)
        for t in toks:
            if not t:
                continue
            v = cache.get(t)
            if v is None:
                v = _token_vec(t, dim)
                cache[t] = v
            acc += v
        n = np.linalg.norm(acc)
        if n > 0:
            out[i] = acc / n
    return out


def embed_udf_factory(dim: int = DEFAULT_DIM):
    """Scalar-iterator pandas UDF: normalized term -> array<double>.

    Iterator form so per-batch state (the token cache) amortizes; at
    cluster scale this is where a real encoder model would be loaded
    once per executor (SURVEY.md §2.1 S4).
    """
    from pyspark.sql import functions as F

    @F.pandas_udf("array<double>")
    def embed_terms(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in batches:
            mat = embed_terms_np(s.fillna("").tolist(), dim)
            yield pd.Series(list(mat))

    return embed_terms
