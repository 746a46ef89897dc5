"""Source-grain incremental ingest == full batch rerun.

Fixture: the standing KG is the 2-source fixture pair (src1, src2,
run_pipeline); the increment is src3, a renamed clone of src2 (the
same construction as test_multi_source_pipeline). The incremental
result must equal a full 3-source rerun exactly — accepted set,
cluster assignment (canonical ids included), and KG tables — while
scoring strictly fewer candidate pairs (the saving that motivates the
plan at 10^12-turn standing corpora).
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from veealign_spark.plans.incremental import incremental_update
from veealign_spark.plans.pipeline import PipelineConfig, run_pipeline

TRIPLES_SCHEMA = "src string, subj string, pred string, obj string, kind string"


@pytest.fixture(scope="module")
def three_source(spark, fixture_pair):
    tri = fixture_pair["triples"].copy()
    tri3 = tri[tri["src"] == "src2"].copy()
    tri3["src"] = "src3"
    return {
        "standing": spark.createDataFrame(tri, TRIPLES_SCHEMA),
        "new": spark.createDataFrame(tri3, TRIPLES_SCHEMA),
        "full": spark.createDataFrame(
            pd.concat([tri, tri3], ignore_index=True), TRIPLES_SCHEMA
        ),
    }


# a vocab_broadcast_threshold of 0 forces the pre-joined vector layout
@pytest.mark.parametrize(
    "blocking, vocab_broadcast_threshold",
    [("cross", 300_000), ("blocked", 300_000), ("cross", 0), ("blocked", 0)],
    ids=["cross", "blocked", "cross-prejoined", "blocked-prejoined"],
)
def test_incremental_equals_full_rerun(spark, three_source, blocking, vocab_broadcast_threshold):
    cfg = PipelineConfig(blocking=blocking, vocab_broadcast_threshold=vocab_broadcast_threshold)
    standing = run_pipeline(spark, triples=three_source["standing"], config=cfg)
    inc = incremental_update(
        spark, standing, new_triples=three_source["new"], config=cfg
    )
    full = run_pipeline(spark, triples=three_source["full"], config=cfg)
    assert inc["vector_mode"] == full["vector_mode"]

    def acc_set(res):
        return {
            (r["ent1"], r["ent2"])
            for r in res["accepted"].select("ent1", "ent2").collect()
        }

    assert acc_set(inc) == acc_set(full)

    def clu(res):
        return {
            r["entity"]: r["canon_id"]
            for r in res["clusters"].select("entity", "canon_id").collect()
        }

    assert clu(inc) == clu(full)  # identical canonical ids, not just partition

    def kg_set(res):
        return {
            (r["subj"], r["pred"], r["obj"], r["kind"])
            for r in res["kg_triples"].collect()
        }

    assert kg_set(inc) == kg_set(full)

    # the saving: standing-vs-standing pairs are never re-scored
    n_inc = inc["candidates"].count()
    n_full = full["candidates"].count()
    assert 0 < n_inc < n_full
    assert inc["scores"].filter(
        ~F.col("is_prop")
        & ~F.split("ent1", "#").getItem(0).isin(["src3"])
        & ~F.split("ent2", "#").getItem(0).isin(["src3"])
    ).count() == 0  # every scored concept pair touches the new source


def test_chained_increments_equal_full_rerun(spark, three_source, fixture_pair):
    """Daily-ingest shape: standing -> +src3 -> +src4, each increment
    applied to the PREVIOUS increment's result dict. Must equal one
    full 4-source batch run (accepted set and cluster assignment)."""
    tri = fixture_pair["triples"]
    tri4 = tri[tri["src"] == "src1"].copy()
    tri4["src"] = "src4"
    new4 = spark.createDataFrame(tri4, TRIPLES_SCHEMA)

    standing = run_pipeline(spark, triples=three_source["standing"])
    step1 = incremental_update(spark, standing, new_triples=three_source["new"])
    step2 = incremental_update(spark, step1, new_triples=new4)

    full = run_pipeline(
        spark, triples=three_source["full"].unionByName(new4)
    )
    acc2 = {
        (r["ent1"], r["ent2"])
        for r in step2["accepted"].select("ent1", "ent2").collect()
    }
    accf = {
        (r["ent1"], r["ent2"])
        for r in full["accepted"].select("ent1", "ent2").collect()
    }
    assert acc2 == accf
    c2 = {r["entity"]: r["canon_id"] for r in step2["clusters"].collect()}
    cf = {r["entity"]: r["canon_id"] for r in full["clusters"].collect()}
    assert c2 == cf
    # delta-of-delta KG materialization (remap + union + dedup twice
    # over) must equal the one-shot corpus materialization
    def kg(res):
        return {
            (r["subj"], r["pred"], r["obj"], r["kind"])
            for r in res["kg_triples"].collect()
        }

    assert kg(step2) == kg(full)


def test_empty_increment_is_identity(spark, three_source):
    """A batch that introduces no rows leaves the KG unchanged."""
    standing = run_pipeline(spark, triples=three_source["standing"])
    empty = spark.createDataFrame([], TRIPLES_SCHEMA)
    inc = incremental_update(spark, standing, new_triples=empty)
    assert inc["new_sources"] == []
    assert inc["scores"].count() == 0
    a0 = {
        (r["ent1"], r["ent2"])
        for r in standing["accepted"].select("ent1", "ent2").collect()
    }
    a1 = {
        (r["ent1"], r["ent2"])
        for r in inc["accepted"].select("ent1", "ent2").collect()
    }
    assert a0 == a1
    c0 = {r["entity"]: r["canon_id"] for r in standing["clusters"].collect()}
    c1 = {r["entity"]: r["canon_id"] for r in inc["clusters"].collect()}
    assert c0 == c1


def test_incremental_rejects_source_overlap(spark, three_source):
    standing = run_pipeline(spark, triples=three_source["standing"])
    clone_of_standing = three_source["standing"].limit(5)
    with pytest.raises(ValueError, match="overlap"):
        incremental_update(spark, standing, new_triples=clone_of_standing)


@pytest.mark.parametrize("blocking", ["cross", "blocked"])
def test_incremental_remove_equals_rerun_without_source(
    spark, three_source, blocking
):
    """Retraction twin: build the 3-source standing KG, remove src3 —
    the result must be bit-identical (accepted, clusters with
    canonical ids, kg tables) to a fresh run over src1+src2, with no
    remaining pair re-scored (there is no scoring stage at all)."""
    from veealign_spark.plans.incremental import incremental_remove

    cfg = PipelineConfig(blocking=blocking)
    standing = run_pipeline(spark, triples=three_source["full"], config=cfg)
    removed = incremental_remove(spark, standing, ["src3"], config=cfg)
    rerun = run_pipeline(spark, triples=three_source["standing"], config=cfg)

    def acc_set(res):
        return {
            (r["ent1"], r["ent2"])
            for r in res["accepted"].select("ent1", "ent2").collect()
        }

    assert acc_set(removed) == acc_set(rerun)

    def clu(res):
        return {
            r["entity"]: r["canon_id"]
            for r in res["clusters"].select("entity", "canon_id").collect()
        }

    assert clu(removed) == clu(rerun)

    def kg_set(res):
        return {
            (r["subj"], r["pred"], r["obj"], r["kind"])
            for r in res["kg_triples"].collect()
        }

    assert kg_set(removed) == kg_set(rerun)
    # no removed-source residue anywhere
    for key in ("triples", "contexts", "features", "concepts", "props"):
        assert removed[key].filter(F.col("src") == "src3").count() == 0
    assert removed["kg_entities"].filter(
        F.col("entity").startswith("src3#")
    ).count() == 0


def test_incremental_remove_then_update_roundtrip(spark, three_source):
    """remove(src3) then re-ingest src3 == the original 3-source KG:
    the deletion twin composes with the addition plan (the state dict
    it returns is a valid `standing` for incremental_update)."""
    from veealign_spark.plans.incremental import incremental_remove

    cfg = PipelineConfig(blocking="blocked")
    full = run_pipeline(spark, triples=three_source["full"], config=cfg)
    shrunk = incremental_remove(spark, full, ["src3"], config=cfg)
    # incremental_update unions features/contexts with the standing
    # dict's — feed it the shrunk state directly
    back = incremental_update(
        spark, shrunk, new_triples=three_source["new"], config=cfg
    )
    acc = lambda res: {
        (r["ent1"], r["ent2"])
        for r in res["accepted"].select("ent1", "ent2").collect()
    }
    assert acc(back) == acc(full)
    clu = lambda res: {
        r["entity"]: r["canon_id"] for r in res["clusters"].collect()
    }
    assert clu(back) == clu(full)


def test_incremental_remove_unknown_source_raises(spark, three_source):
    from veealign_spark.plans.incremental import incremental_remove

    cfg = PipelineConfig()
    standing = run_pipeline(spark, triples=three_source["standing"], config=cfg)
    with pytest.raises(ValueError, match="not standing sources"):
        incremental_remove(spark, standing, ["nope"], config=cfg)
