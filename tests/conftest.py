from __future__ import annotations

import pandas as pd
import pytest

from veealign_spark import datagen, schemas
from veealign_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("veealign-tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def fixture_pair() -> dict[str, pd.DataFrame]:
    return datagen.make_ontology_pair(seed=42)


@pytest.fixture(scope="session")
def fixture_transcripts(fixture_pair):
    transcripts, expected = datagen.make_transcripts(fixture_pair["triples"], seed=42)
    return transcripts, expected


@pytest.fixture(scope="session")
def transcripts_sdf(spark, fixture_transcripts):
    transcripts, _ = fixture_transcripts
    return spark.createDataFrame(transcripts, schema=schemas.TRANSCRIPTS).cache()


@pytest.fixture(scope="session")
def triples_sdf(spark, fixture_pair):
    return spark.createDataFrame(
        fixture_pair["triples"], schema=schemas.TRIPLES.fieldNames()
    ).cache()


@pytest.fixture(scope="session")
def edge_case_tables(spark, fixture_pair) -> dict:
    """The synthetic pair plus the cases the plain fixture lacks, as
    Spark tables (triples, concepts, props, labels, gold):

    - three matched src2 concepts renamed to coded ids that only the
      label map names (P2 substitution at the embed boundary);
    - one concept that occurs in no triple (no features: direct route);
    - one object property that occurs in no triple (no domain+range
      context: direct route)."""
    triples = fixture_pair["triples"].copy()
    gold = fixture_pair["gold"].copy()
    concept_gold = gold[~gold["ent2"].str.contains("#rel_|#attr_")]
    names = [e.split("#", 1)[1] for e in concept_gold["ent2"].iloc[:3]]
    codes = {n: f"C{i:04d}" for i, n in enumerate(names)}
    side2 = triples["src"] == "src2"
    for col in ("subj", "obj"):
        triples.loc[side2, col] = triples.loc[side2, col].replace(codes)
    gold["ent2"] = gold["ent2"].replace(
        {f"src2#{n}": f"src2#{c}" for n, c in codes.items()}
    )
    labels = pd.DataFrame(
        [("src2", c, n) for n, c in codes.items()], columns=["src", "id", "label"]
    )
    concepts = fixture_pair["concepts"].copy()
    coded = (concepts["src"] == "src2") & concepts["id"].isin(list(codes))
    concepts["label"] = concepts["id"].where(coded, None)
    concepts.loc[concepts["src"] == "src2", "id"] = concepts["id"].replace(codes)
    orphan = pd.DataFrame([("src1", "OrphanConcept", None)], columns=concepts.columns)
    concepts = pd.concat([concepts, orphan], ignore_index=True)
    props = (
        triples[triples["kind"] != "Subclass"][["src", "pred", "kind"]]
        .drop_duplicates()
        .rename(columns={"pred": "id"})
    )
    orphan = pd.DataFrame(
        [("src1", "rel_OrphanLink", "Object Property")], columns=props.columns
    )
    props = pd.concat([props, orphan], ignore_index=True)
    props["label"] = None
    return {
        "triples": spark.createDataFrame(
            triples, "src string, subj string, pred string, obj string, kind string"
        ),
        "concepts": spark.createDataFrame(
            concepts, "src string, id string, label string"
        ),
        "props": spark.createDataFrame(
            props, "src string, id string, kind string, label string"
        ),
        "labels": spark.createDataFrame(labels, "src string, id string, label string"),
        "gold": spark.createDataFrame(gold),
        "codes": codes,
    }
