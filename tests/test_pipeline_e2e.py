"""End-to-end golden test (SURVEY.md §5.2.3): transcripts -> full
pipeline -> alignments, compared against (a) the single-node numpy
oracle (exact score match — strictly stronger than the P/R bar) and
(b) the gold alignment fixture at P/R >= 0.95 (the BASELINE.json bar).
Plus determinism (two runs hash-identical) and the blocked-candidates
recall contract.
"""

from __future__ import annotations

import numpy as np
import pytest

from veealign_spark.operators import metrics, oracle_np
from veealign_spark.plans.pipeline import PipelineConfig, run_pipeline


@pytest.fixture(scope="module")
def pipeline_result(spark, transcripts_sdf):
    cfg = PipelineConfig()
    return run_pipeline(spark, transcripts_sdf, cfg), cfg


def test_scores_match_oracle(spark, pipeline_result, fixture_pair):
    (res, cfg) = pipeline_result
    got = (
        res["scores"]
        .toPandas()
        .sort_values(["ent1", "ent2"])
        .reset_index(drop=True)
    )
    want = (
        oracle_np.align(fixture_pair["triples"], cfg.kernel_params())
        .sort_values(["ent1", "ent2"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want), (len(got), len(want))
    assert (got["ent1"] == want["ent1"]).all()
    assert (got["ent2"] == want["ent2"]).all()
    np.testing.assert_allclose(
        got["score"].to_numpy(), want["score"].to_numpy(), atol=1e-9
    )


def test_pr_vs_gold(spark, pipeline_result, fixture_pair):
    (res, _) = pipeline_result
    gold_sdf = spark.createDataFrame(fixture_pair["gold"])
    m = metrics.pr_metrics(res["accepted"], gold_sdf).collect()[0]
    assert m["precision"] >= 0.95, m
    assert m["recall"] >= 0.95, m


def test_determinism(spark, transcripts_sdf, pipeline_result):
    (res1, cfg) = pipeline_result
    res2 = run_pipeline(spark, transcripts_sdf, cfg)

    def fingerprint(res):
        pdf = res["accepted"].select("ent1", "ent2", "score").toPandas()
        pdf = pdf.sort_values(["ent1", "ent2"]).reset_index(drop=True)
        return list(
            zip(pdf.ent1, pdf.ent2, pdf.score.round(9))
        )

    assert fingerprint(res1) == fingerprint(res2)


def test_kg_materialization(spark, pipeline_result, fixture_pair):
    (res, _) = pipeline_result
    # every accepted pair's two entities share one canonical id
    cl = {r["entity"]: r["canon_id"] for r in res["clusters"].collect()}
    for r in res["accepted"].collect():
        assert cl[r["ent1"]] == cl[r["ent2"]]
    # canonical triples deduplicate the two sources' matched structure:
    # strictly fewer canonical triples than raw prefixed triples
    n_raw = res["triples"].count()
    n_canon = res["kg_triples"].count()
    assert 0 < n_canon < n_raw
    # entities referenced by kg_triples all exist in kg_entities
    ents = {r["entity"] for r in res["kg_entities"].collect()}
    for r in res["kg_triples"].collect():
        assert r["subj"] in ents and r["obj"] in ents


def test_blocked_candidates_cover_accepted(spark, transcripts_sdf, pipeline_result):
    """Blocking recall contract: blocked candidate generation must
    retain every pair the full cross product accepts at threshold."""
    (res_cross, cfg) = pipeline_result
    cfg_blocked = PipelineConfig(blocking="blocked")
    res_blocked = run_pipeline(spark, transcripts_sdf, cfg_blocked)
    acc_cross = {
        (r["ent1"], r["ent2"]) for r in res_cross["accepted"].collect()
    }
    acc_blocked = {
        (r["ent1"], r["ent2"]) for r in res_blocked["accepted"].collect()
    }
    assert acc_cross == acc_blocked


def test_derive_max_types(spark, fixture_pair):
    """A5 auto-derivation: with datatype props removed, max_types=3 and
    the pipeline still matches the oracle run at max_types=3."""
    import numpy as np

    from veealign_spark import datagen, schemas
    from veealign_spark.operators import oracle_np

    triples = fixture_pair["triples"]
    no_dt = triples[triples["kind"] != "Datatype Property"].reset_index(drop=True)
    tr, _ = datagen.make_transcripts(no_dt, seed=7)
    sdf = spark.createDataFrame(tr, schema=schemas.TRANSCRIPTS)
    cfg = PipelineConfig(derive_types=True)
    res = run_pipeline(spark, sdf, cfg)
    assert cfg.max_types == 3
    got = (
        res["scores"].toPandas().sort_values(["ent1", "ent2"]).reset_index(drop=True)
    )
    want = (
        oracle_np.align(no_dt, cfg.kernel_params(), max_types=3)
        .sort_values(["ent1", "ent2"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    np.testing.assert_allclose(
        got["score"].to_numpy(), want["score"].to_numpy(), atol=1e-9
    )


@pytest.mark.parametrize(
    "bag,weighted", [(True, True), (False, False), (True, False)]
)
def test_flag_combos_match_oracle(spark, transcripts_sdf, fixture_pair, bag, weighted):
    """config.ini:38-40 flag combinations (bag_of_neighbours x
    weighted_sum) — pipeline == oracle on each (FIXTURES.md §7)."""
    import numpy as np

    from veealign_spark.operators import oracle_np

    cfg = PipelineConfig(bag_of_neighbours=bag, weighted_sum=weighted)
    res = run_pipeline(spark, transcripts_sdf, cfg)
    got = (
        res["scores"].toPandas().sort_values(["ent1", "ent2"]).reset_index(drop=True)
    )
    want = (
        oracle_np.align(
            fixture_pair["triples"], cfg.kernel_params(), bag_of_neighbours=bag
        )
        .sort_values(["ent1", "ent2"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    np.testing.assert_allclose(
        got["score"].to_numpy(), want["score"].to_numpy(), atol=1e-9
    )


def test_multi_source_pipeline(spark, fixture_pair):
    """3-source fusion through the pairs-as-data candidate path: a
    third source (src3 = src2 renamed) joins the run; alignments must
    cover ALL THREE source pairs, per-source-pair orientation holds
    (ent1's source < ent2's source), and the src1-src2 accepted set is
    unchanged by src3's presence."""
    import pandas as pd

    from pyspark.sql import functions as F

    from veealign_spark.plans.pipeline import PipelineConfig, run_pipeline

    tri = fixture_pair["triples"].copy()
    tri3 = tri[tri["src"] == "src2"].copy()
    tri3["src"] = "src3"
    both = pd.concat([tri, tri3], ignore_index=True)
    tdf = spark.createDataFrame(
        both, "src string, subj string, pred string, obj string, kind string"
    )
    res = run_pipeline(spark, triples=tdf, config=PipelineConfig())
    acc = res["accepted"].select("ent1", "ent2").collect()
    srcs = {
        (r["ent1"].split("#")[0], r["ent2"].split("#")[0]) for r in acc
    }
    assert srcs == {("src1", "src2"), ("src1", "src3"), ("src2", "src3")}

    # src3 is a clone of src2: its alignment to src1 mirrors src2's
    a12 = {
        (r["ent1"], r["ent2"].split("#")[1]) for r in acc if r["ent2"].startswith("src2#")
    }
    a13 = {
        (r["ent1"], r["ent2"].split("#")[1]) for r in acc if r["ent2"].startswith("src3#") and r["ent1"].startswith("src1#")
    }
    assert a12 == a13

    # two-source run unchanged by the refactor
    res2 = run_pipeline(
        spark,
        triples=spark.createDataFrame(
            tri, "src string, subj string, pred string, obj string, kind string"
        ),
        config=PipelineConfig(),
    )
    two = {(r["ent1"], r["ent2"]) for r in res2["accepted"].select("ent1", "ent2").collect()}
    assert two == {(a, b) for a, b in ((r["ent1"], r["ent2"]) for r in acc) if b.startswith("src2#")}


def _stage_scores(spark, res, cfg, cand_df):
    """score_candidates_stage over a pipeline result's tables, with the
    concept candidates handed over as `cand_df`."""
    from veealign_spark.plans.pipeline import prop_candidates, score_candidates_stage

    scores, _, _ = score_candidates_stage(
        spark, cfg, res["params"], res["triples"], res["concepts"],
        res["features"], res["prop_contexts"], cand_df,
        prop_candidates(res["props"]), terms=res["vocab"],
    )
    return scores.select("ent1", "ent2", "score", "is_prop")


def test_score_stage_candidates_with_result_column(spark, pipeline_result):
    """A candidates DataFrame with a column named `result` scores the
    same as the plain table (attribute access on a DataFrame yields its
    columns, so duck-typing on `.result` would call a Column)."""
    from pyspark.sql import functions as F

    (res, cfg) = pipeline_result
    a = _stage_scores(spark, res, cfg, res["candidates"])
    b = _stage_scores(
        spark, res, cfg, res["candidates"].withColumn("result", F.lit(1))
    )
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
