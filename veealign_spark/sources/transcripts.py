"""Transcript scan + vectorized mention extraction (M2; SURVEY.md §3.4).

Input is the Iceberg `transcripts` table of BASELINE.json input_hint
shape (sandbox: parquet with the same schema — Iceberg needs catalog
jars not present in the image, so `read_transcripts` dispatches on
format and the Iceberg branch is an import-gated stub).

Extraction turns each turn's `text` into zero-or-more (subj, pred,
obj) mentions. Two interchangeable implementations, tested equal:

- `extract_mentions` (default): pure JVM `regexp_extract_all` +
  `explode` — stays inside whole-stage codegen, no Python at all.
  This is the 100 TB hot path: the scan projects only
  (conv_id, turn_idx, text), the regex runs codegen'd per row, and
  `text` is dropped immediately after (never shuffled). A literal
  prefilter, `instr(text, '_') > 0`, runs before the regex: every
  predicate alternative of MENTION_PATTERN (`subclass_of`, `rel_*`,
  `attr_*`) contains `_`, so a turn without one cannot match and the
  filter drops no mention. A null text gives no rows either way. On a
  chatter-heavy corpus (kgbench's kg_redundant: ~70 % of turns) the
  regex then sees only the turns that can carry a mention
  (`stream_mentions` reuses this function and gets the same filter).
- `extract_mentions_pandas`: Arrow-batched pandas UDF returning an
  array<struct> that is then exploded — the extension point for
  model-based extractors that can't be a regex (the shape the
  north_star's "vectorized Arrow-batch extraction UDFs" names).

The mention grammar is the fixture grammar of datagen.verbalize:
`<subj> <pred> <obj>` with pred in {subclass_of, rel_*, attr_*};
pred prefix determines triple kind (mirrors the reference's
prop_type tags, ontology.py:103).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# every predicate alternative must contain `_`: extract_mentions prefilters on it
MENTION_PATTERN = r"([A-Za-z][A-Za-z0-9_]*)\s+(subclass_of|rel_[A-Za-z0-9_]+|attr_[A-Za-z0-9_]+)\s+([A-Za-z][A-Za-z0-9_]*)"

def kind_expr():
    return (
        F.when(F.col("pred") == "subclass_of", F.lit("Subclass"))
        .when(F.col("pred").startswith("rel_"), F.lit("Object Property"))
        .otherwise(F.lit("Datatype Property"))
    )


def read_transcripts(spark, path: str, fmt: str = "parquet") -> DataFrame:
    if fmt == "iceberg":
        try:
            return spark.read.format("iceberg").load(path)
        except Exception as exc:  # pragma: no cover - no iceberg jars in sandbox
            raise NotImplementedError(
                "Iceberg catalog jars not available in this image; "
                "use parquet staging tables"
            ) from exc
    return spark.read.schema(
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    ).parquet(path)


def _with_src(df: DataFrame) -> DataFrame:
    # conversation naming convention carries the source system:
    # conv_id = "<src>_c<nnnnnn>[_copy]"
    return df.withColumn("src", F.substring_index(F.col("conv_id"), "_", 1))


def extract_mentions(
    transcripts: DataFrame, keep_cols: tuple[str, ...] = ()
) -> DataFrame:
    """JVM-side extraction: regexp_extract_all over `text`, explode.

    Returns the MENTIONS schema (conv_id, turn_idx, src, subj, pred,
    obj; span is omitted on this path — the regex engine doesn't expose
    offsets; span lives on the pandas path). `keep_cols` carries extra
    input columns through (e.g. `ts` for streaming event time —
    streaming can't re-join them on afterwards).
    """
    # exact prefilter: every MENTION_PATTERN predicate contains `_`
    # (module banner)
    candidates = transcripts.filter(F.instr(F.col("text"), "_") > 0)
    matches = _with_src(candidates).select(
        "conv_id",
        "turn_idx",
        "src",
        *keep_cols,
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(MENTION_PATTERN), F.lit(0))
        ).alias("m"),
    )
    toks = F.split(F.col("m"), r"\s+")
    return matches.select(
        "conv_id",
        "turn_idx",
        "src",
        *keep_cols,
        toks.getItem(0).alias("subj"),
        toks.getItem(1).alias("pred"),
        toks.getItem(2).alias("obj"),
    )


def extract_mentions_pandas(transcripts: DataFrame) -> DataFrame:
    """Arrow-batch pandas-UDF extraction (extension point for non-regex
    extractors). Semantics identical to extract_mentions, plus `span`
    (character offset of each match)."""
    import re

    rx = re.compile(MENTION_PATTERN)

    @F.pandas_udf("array<struct<subj:string,pred:string,obj:string,span:int>>")
    def extract(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for texts in batches:
            out = []
            for t in texts:
                out.append(
                    [
                        {
                            "subj": m.group(1),
                            "pred": m.group(2),
                            "obj": m.group(3),
                            "span": m.start(),
                        }
                        for m in rx.finditer(t or "")
                    ]
                )
            yield pd.Series(out)

    return (
        _with_src(transcripts)
        .select(
            "conv_id", "turn_idx", "src", F.explode(extract(F.col("text"))).alias("m")
        )
        .select("conv_id", "turn_idx", "src", "m.subj", "m.pred", "m.obj", "m.span")
    )


def mentions_to_triples(mentions: DataFrame) -> DataFrame:
    """Mentions -> canonical deduplicated triple table (A7 dedup,
    reference ontology.py:128 list(set(...)); P3 Thing filter,
    ontology.py:205).

    The dedup runs FIRST, on the bare (src, subj, pred, obj) key:
    `kind` is a pure function of `pred` and the Thing/null filter a
    pure predicate on the key columns, so deriving them after the
    aggregate touches |distinct triples| rows instead of |mentions| —
    at 10^12 turns that removes two string expressions and a fifth
    grouping column from every corpus row, with an identical result
    set (the filter commutes with the row-local dedup; kind adds no
    distinctions beyond pred)."""
    return (
        mentions.select("src", "subj", "pred", "obj")
        .dropDuplicates()
        .withColumn("kind", kind_expr())
        .filter(
            (F.col("subj") != "Thing")
            & (F.col("obj") != "Thing")
            & F.col("subj").isNotNull()
            & F.col("obj").isNotNull()
        )
    )
