"""Seeded workload inputs and their independent references.

Every input is a pure function of the workload name and the seed: the
ontology pair and its gold alignment come from `datagen`, the mention
turns are re-verbalizations of the pair's triples (the layout of
`datagen.make_transcripts_df`), and the chatter turns are drawn from a
generator seeded with the seed. Turns are built on the driver with
pandas and written as parquet with pyarrow, so staging needs no Spark
job. The references the output gate compares against (expected
triples, gold pairs) are computed here too, never by the engine.
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd

import bench
from veealign_spark import datagen

# the frozen bench ontology without its seed: the workload seed replaces it
BENCH_ONTOLOGY = {k: v for k, v in bench.BENCH_ONTOLOGY.items() if k != "seed"}

# Chatter vocabulary: plain words only. MENTION_PATTERN needs a
# predicate token containing "_" (subclass_of, rel_*, attr_*), so a
# text without "_" can never produce a mention.
CHATTER_WORDS = [
    "ok", "thanks", "sure", "let", "me", "check", "that", "the", "meeting",
    "is", "moved", "to", "tomorrow", "can", "you", "send", "notes", "please",
    "agenda", "looks", "fine", "I", "will", "review", "later", "today",
    "sounds", "good", "any", "update", "on", "this", "waiting", "for",
    "reply", "noted", "great", "see", "above", "done",
]
CHATTER_LEN = 9


@dataclass(frozen=True)
class Spec:
    """Input shape of one workload."""

    scale: float         # entity universe as a multiple of BENCH_ONTOLOGY
    copies: int          # re-verbalizations of every triple
    chatter: int         # mention-free turns per triple and copy


SPECS = {
    # bench universe, mention turns repeated 40x, 3 chatter turns per
    # triple and copy: the triples stage scans ~0.5M turns, ~70% of them
    # mention-free, to find ~2.8k distinct triples; ~50k scored pairs
    "kg_redundant": Spec(scale=1, copies=40, chatter=3),
    # 3x the bench universe, one copy, no chatter: ~11k turns, but ~6x
    # the scored pairs of kg_redundant (~0.3M, ~0.24M of them from the
    # kind-matched property self-join, which grows with the square of
    # the universe); larger universes add little scoring share per
    # second of run time, since a cold build is mostly fixed job latency
    "kg_wide": Spec(scale=3, copies=1, chatter=0),
}


def ontology(spec: Spec, seed: int) -> dict[str, pd.DataFrame]:
    o = {k: round(v * spec.scale) for k, v in BENCH_ONTOLOGY.items()}
    return datagen.make_ontology_pair(seed=seed, **o)


def chatter(n: int, seed: int, n_src: int = 2) -> pd.DataFrame:
    """`n` mention-free turns, eight to a conversation, spread over
    sources src1..src<n_src>."""
    rng = np.random.default_rng([seed, 1])
    words = np.array(CHATTER_WORDS, dtype=object)
    picks = words[rng.integers(0, len(words), size=(n, CHATTER_LEN))]
    i = np.arange(n)
    conv = i // 8
    src = pd.Series(conv % n_src + 1).astype(str)
    return pd.DataFrame({
        "conv_id": "src" + src + "_q" + pd.Series(conv).astype(str),
        "turn_idx": (i % 8).astype(np.int32),
        "role": "user",
        "text": [" ".join(row) for row in picks],
        "tool": None,
        "ts": pd.Timestamp("2026-01-02") + pd.to_timedelta(i, unit="s"),
    })


def transcripts(spec: Spec, pair: dict, seed: int) -> pd.DataFrame:
    """Mention turns (every triple verbalized `copies` times, each copy
    with its own conversations and a trailing session marker) plus
    chatter, interleaved in a seeded order."""
    base, _ = datagen.make_transcripts(pair["triples"], seed=seed)
    turns = base
    if spec.copies > 1:
        k = pd.Series(np.repeat(np.arange(spec.copies), len(base))).astype(str)
        turns = pd.concat([base] * spec.copies, ignore_index=True)
        turns["conv_id"] = turns["conv_id"] + "_" + k
        turns["text"] = turns["text"] + " #session" + k
        turns["ts"] = turns["ts"] + pd.to_timedelta(k.astype(int), unit="s")
    if spec.chatter:
        n = len(pair["triples"]) * spec.copies * spec.chatter
        turns = pd.concat([turns, chatter(n, seed)], ignore_index=True)
    order = np.random.default_rng([seed, 2]).permutation(len(turns))
    return turns.iloc[order].reset_index(drop=True)


def stage(spec: Spec, seed: int, path: Path, n_files: int) -> dict:
    """Generate the workload's inputs and write the turns as `n_files`
    parquet files under `path`. Returns the ontology pair and sizes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pair = ontology(spec, seed)
    turns = transcripts(spec, pair, seed)
    turns["ts"] = turns["ts"].dt.tz_localize("UTC")
    schema = pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
        ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us", tz="UTC")),
    ])
    path.mkdir(parents=True)
    for i, part in enumerate(np.array_split(np.arange(len(turns)), n_files)):
        table = pa.Table.from_pandas(turns.iloc[part], schema=schema, preserve_index=False)
        pq.write_table(table, path / f"part-{i:05d}.parquet")
    return {"pair": pair, "turns": len(turns)}


def expected_triples(triples: pd.DataFrame) -> pd.DataFrame:
    """Reference for the engine's `triples` table: distinct generated
    triples, kind from the predicate, Thing endpoints dropped."""
    t = triples[["src", "subj", "pred", "obj"]].drop_duplicates()
    t = t[(t["subj"] != "Thing") & (t["obj"] != "Thing")]
    kind = t["pred"].map(
        lambda p: "Subclass" if p == "subclass_of"
        else "Object Property" if p.startswith("rel_") else "Datatype Property"
    )
    return t.assign(kind=kind).reset_index(drop=True)


def gold_pairs(pair: dict) -> set[tuple[str, str]]:
    return set(zip(pair["gold"]["ent1"], pair["gold"]["ent2"]))
