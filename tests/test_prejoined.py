"""Pre-joined vector source (distributed vocabulary, no driver
collect / no matrix broadcast): equality with the broadcast source,
and plan checks that the scale-killers named in round-1 review are
gone (no single-partition Exchange in index assignment)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from veealign_spark.plans.pipeline import PipelineConfig, run_pipeline
from veealign_spark.operators import scoring


def _scores(result) -> dict:
    return {
        (r["ent1"], r["ent2"], r["is_prop"]): r["score"]
        for r in result["scores"].collect()
    }


# the layout follows the vocabulary probe: a threshold above the
# fixture's vocabulary keeps the broadcast source, 0 forces pre-joined
BROADCAST = PipelineConfig(vocab_broadcast_threshold=10_000_000)
PREJOINED = PipelineConfig(vocab_broadcast_threshold=0)


@pytest.fixture(scope="module")
def both_paths(spark, transcripts_sdf):
    broadcast = run_pipeline(spark, transcripts_sdf, BROADCAST)
    prejoined = run_pipeline(spark, transcripts_sdf, PREJOINED)
    assert broadcast["vector_mode"] == "broadcast"
    assert prejoined["vector_mode"] == "prejoined"
    return broadcast, prejoined


def test_prejoined_scores_equal_to_ulp(both_paths):
    """Same candidates, float64 scores equal to within ~1 ulp: the
    pre-joined vectors are the same embed_terms_np float64 outputs the
    broadcast matrix holds and the kernel math is identical, but BLAS
    tiling differs with Arrow batch shape, so einsum accumulation
    order (and hence the last bit) can differ per row."""
    sb, sp = _scores(both_paths[0]), _scores(both_paths[1])
    assert set(sb) == set(sp)
    diff = [k for k in sb if abs(sb[k] - sp[k]) > 1e-12]
    assert not diff, diff[:5]


def test_prejoined_accepted_equal(both_paths):
    a = {(r["ent1"], r["ent2"]) for r in both_paths[0]["accepted"].collect()}
    b = {(r["ent1"], r["ent2"]) for r in both_paths[1]["accepted"].collect()}
    assert a == b and a


def test_embeddings_table_no_single_partition_exchange(spark, triples_sdf, monkeypatch):
    """build_embeddings_table's index assignment must not funnel the
    vocabulary through one task (round-1 review: Window.orderBy with no
    partitionBy). With the adaptive threshold forced to 0 (every input
    counts as "big"), scalable_rank takes the range-partition +
    per-partition row_number path, so the executed plan has no
    SinglePartition exchange."""
    monkeypatch.setenv("VEEALIGN_SMALL_INPUT_ROWS", "0")
    emb = scoring.build_embeddings_table(spark, triples_sdf, dim=8)
    plan = emb._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan, plan


@pytest.mark.parametrize("small_rows", [0, 10_000_000])
def test_scalable_rank_is_dense_sorted_rank(spark, small_rows):
    """Both dispatch branches (scale path via small_rows=0, plain
    window via a huge threshold) equal rank-in-a-global-sort."""
    df = spark.createDataFrame(
        [(w,) for w in ["delta", "alpha", "echo", "bravo", "charlie"] * 40],
        "key string",
    ).distinct()
    out = scoring.scalable_rank(df, "key", small_rows=small_rows)
    rows = sorted((r["key"], r["idx"]) for r in out.collect())
    keys = sorted(k for k, _ in rows)
    assert rows == [(k, i + 1) for i, k in enumerate(keys)]


def test_refresh_embeddings_no_single_partition_exchange(spark, monkeypatch):
    monkeypatch.setenv("VEEALIGN_SMALL_INPUT_ROWS", "0")
    new_terms = spark.createDataFrame(
        [("Alpha Beta",), ("GammaDelta",), ("epsilon",)], "term string"
    )
    out = scoring.refresh_embeddings(None, new_terms, dim=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan
    rows = out.collect()
    assert {r["idx"] for r in rows} == {1, 2, 3}


def _curve_fixture(spark):
    import random

    rng = random.Random(3)
    scores = spark.createDataFrame(
        [(f"a{i}", f"b{i}", round(rng.random(), 3)) for i in range(2000)],
        "ent1 string, ent2 string, score double",
    )
    gold = spark.createDataFrame(
        [(f"a{i}", f"b{i}") for i in range(0, 2000, 3)], "ent1 string, ent2 string"
    )
    return scores, gold


def test_pr_curve_no_single_partition_exchange(spark):
    """pr_curve's scale path (forced via small_rows=0) uses range
    partitioning + a per-partition offset census — the whole score
    table must not funnel through one task (round-1 review, weak #3)."""
    from veealign_spark.operators.metrics import pr_curve

    scores, gold = _curve_fixture(spark)
    curve = pr_curve(scores, gold, small_rows=0)
    plan = curve._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan, plan
    # sanity: curve is monotone in n and tp <= n, recall ends at ~1
    rows = sorted((r["score"], r["tp"], r["n"]) for r in curve.collect())
    assert all(tp <= n for _, tp, n in rows)
    top = max(rows, key=lambda r: r[2])
    assert top[2] == 2000 and top[1] == gold.count()


def test_pr_curve_small_path_equals_scale_path(spark):
    """Adaptive dispatch is a pure perf choice: the plain-window curve
    (default threshold at this size) is row-identical to the forced
    two-level curve, and best_threshold agrees."""
    from veealign_spark.operators.metrics import best_threshold, pr_curve

    scores, gold = _curve_fixture(spark)
    small = {tuple(r) for r in pr_curve(scores, gold).collect()}
    big = {tuple(r) for r in pr_curve(scores, gold, small_rows=0).collect()}
    assert small == big
    thr, f1 = best_threshold(scores, gold)
    assert 0.0 <= thr <= 1.0 and 0.0 <= f1 <= 1.0


def test_auto_routes_big_vocab_to_prejoined_without_collect(
    spark, transcripts_sdf, monkeypatch
):
    """The pipeline must never collect an over-threshold vocabulary to
    the driver: with the broadcast threshold forced below the
    fixture's term count, it routes to the pre-joined path — proven by
    poisoning EmbBroadcast.from_terms (the only consumer of the driver
    collect)."""

    def boom(*a, **k):  # pragma: no cover - must not be reached
        raise AssertionError("driver collect on an over-threshold vocabulary")

    monkeypatch.setattr(scoring.EmbBroadcast, "from_terms", boom)
    res = run_pipeline(
        spark,
        transcripts_sdf,
        PipelineConfig(vocab_broadcast_threshold=1),
    )
    assert res["vector_mode"] == "prejoined"
    assert res["accepted"].count() > 0


def test_sources_agree_on_labels_and_direct_routes(spark, edge_case_tables):
    """score_candidates_stage (via run_pipeline) on both vector sources
    over the synthetic pair with coded ids relabeled by the label map,
    a concept without features and a property without domain+range
    context: label substitution and the direct route run on both
    layouts, with scores equal to 1e-12 and identical accepted sets."""
    t = edge_case_tables

    def run(cfg):
        return run_pipeline(
            spark, triples=t["triples"], concepts=t["concepts"], props=t["props"],
            label_map=t["labels"], config=cfg,
        )

    rb, rp = run(BROADCAST), run(PREJOINED)
    assert (rb["vector_mode"], rp["vector_mode"]) == ("broadcast", "prejoined")
    sb, sp = _scores(rb), _scores(rp)
    assert set(sb) == set(sp)
    diff = [k for k in sb if abs(sb[k] - sp[k]) > 1e-12]
    assert not diff, diff[:5]
    # the cases under test are really scored
    assert any(k[0] == "src1#OrphanConcept" and not k[2] for k in sb)
    assert any(k[0] == "src1#rel_OrphanLink" and k[2] for k in sb)

    def accepted(res):
        return {(r["ent1"], r["ent2"]) for r in res["accepted"].collect()}

    ab, ap = accepted(rb), accepted(rp)
    assert ab == ap
    # coded ids match their counterparts only through their labels
    coded = {f"src2#{c}" for c in t["codes"].values()}
    assert len({e2 for _, e2 in ab} & coded) == len(coded), ab


def test_broadcast_vector_table_runs_no_python(spark):
    """VectorSource.broadcast's (norm, val) table is a LocalRelation:
    its lineage holds no PythonRDD, so building it starts no Python
    worker, and its rows are exactly the broadcast indexer."""
    emb = scoring.EmbBroadcast.from_terms(
        spark, ["Alpha", "beta_gamma", "Delta Epsilon", "alpha"], dim=8
    )
    table = scoring.VectorSource.broadcast(spark, emb).table
    lineage = table._jdf.queryExecution().toRdd().toDebugString()
    assert "PythonRDD" not in lineage, lineage
    assert table.schema.simpleString() == "struct<norm:string,val:bigint>"
    assert dict(table.collect()) == emb.bc.value["indexer"]
