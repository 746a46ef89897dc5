"""Bring-your-own-encoder seam (S3/S4 unified): a (term, vec) table
plugged in via PipelineConfig.external_vectors replaces the stub's
vectors on both vector layouts. Reference semantics: precomputed USE
vector load (data_preprocessing.py:25-29) + cache merge
(train.py:72-87). Stub-exported vectors fed back through the external
path must reproduce the pipeline bit-for-bit; a different table must
actually change the scores (proving the vectors are used, not the
stub)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from veealign_spark.operators import scoring
from veealign_spark.plans.pipeline import PipelineConfig, run_pipeline


def _scored_set(res):
    return {
        (r["ent1"], r["ent2"], round(float(r["score"]), 12))
        for r in res["alignments"].select("ent1", "ent2", "score").collect()
    }


@pytest.fixture(scope="module")
def exported_vectors(spark, triples_sdf, tmp_path_factory):
    """The stub's own vectors, exported the way a deployment would
    publish an encoder's: one (term, vec) parquet row per vocabulary
    term."""
    p = str(tmp_path_factory.mktemp("ext") / "vecs.parquet")
    emb = scoring.build_embeddings_table(spark, triples_sdf, 32)
    emb.select(F.col("key").alias("term"), "vec").write.parquet(p)
    return p


def test_external_vectors_reproduce_stub_broadcast(
    spark, triples_sdf, exported_vectors
):
    base = run_pipeline(spark, triples=triples_sdf, config=PipelineConfig())
    ext = run_pipeline(
        spark,
        triples=triples_sdf,
        config=PipelineConfig(external_vectors=exported_vectors),
    )
    assert ext["vector_mode"] == "broadcast"
    assert _scored_set(base) == _scored_set(ext)


def test_external_vectors_reproduce_stub_prejoined(
    spark, triples_sdf, exported_vectors
):
    base = run_pipeline(
        spark, triples=triples_sdf,
        config=PipelineConfig(vocab_broadcast_threshold=0),
    )
    ext = run_pipeline(
        spark, triples=triples_sdf,
        config=PipelineConfig(
            vocab_broadcast_threshold=0, external_vectors=exported_vectors
        ),
    )
    assert ext["vector_mode"] == "prejoined"
    assert _scored_set(base) == _scored_set(ext)


def test_external_vectors_are_actually_used(spark, triples_sdf, tmp_path):
    """A degenerate external table (every term -> the same vector)
    must collapse the cosine structure — if scores were still the
    stub's, the seam would be dead code."""
    p = str(tmp_path / "const.parquet")
    emb = scoring.build_embeddings_table(spark, triples_sdf, 32)
    const = [1.0] + [0.0] * 31
    emb.select(
        F.col("key").alias("term"),
        F.array(*[F.lit(x) for x in const]).alias("vec"),
    ).write.parquet(p)
    base = run_pipeline(spark, triples=triples_sdf, config=PipelineConfig())
    ext = run_pipeline(
        spark, triples=triples_sdf,
        config=PipelineConfig(external_vectors=p),
    )
    assert _scored_set(base) != _scored_set(ext)
    # with every vector identical, every direct cosine is 1
    assert ext["accepted"].count() > base["accepted"].count()


def test_external_duplicate_keys_resolve_identically_on_both_layouts(spark):
    """Duplicate raw terms that normalize to one key must resolve to
    the SAME vector on the pre-joined and broadcast layouts (shared
    min(vec) ordering in normalize_external) — the old per-path
    dropDuplicates could silently diverge (ADVICE r4)."""
    ext = spark.createDataFrame(
        [("Foo Bar", [2.0, 2.0]), ("foo bar", [1.0, 3.0]),
         ("foo_bar", [1.0, 2.0]), ("other", [5.0, 5.0])],
        "term string, vec array<double>",
    )
    resolved = {r["key"]: r["vec"]
                for r in scoring.normalize_external(ext, 2).collect()}
    assert resolved["foo bar"] == [1.0, 2.0]  # lexicographic min
    bmap = scoring.external_vec_map(ext, ["foo bar", "other"], 2)
    assert list(bmap["foo bar"]) == [1.0, 2.0]
    assert list(bmap["other"]) == [5.0, 5.0]


def test_external_wrong_dimension_fails_fast(spark):
    ext = spark.createDataFrame(
        [("a", [1.0, 2.0, 3.0])], "term string, vec array<double>"
    )
    with pytest.raises(ValueError, match="dimension 3, expected emb_dim=2"):
        scoring.normalize_external(ext, 2)
    with pytest.raises(ValueError, match="expected emb_dim"):
        scoring.external_vec_map(ext, ["a"], 2)
