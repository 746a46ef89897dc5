"""The benchmark's own checks: seeded inputs, and a gate that passes on
correct outputs and fails on corrupted ones.

    python3 -m pytest kgbench/tests -q -p no:cacheprovider

Builds the KG four times (two seeds, two traced builds) on a local
Spark session; about two minutes on four cores.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import gate  # noqa: E402
import inputs  # noqa: E402

SMALL = inputs.Spec(scale=1, copies=2, chatter=1)
SEEDS = (1, 2)


@pytest.fixture(scope="module")
def spark():
    from veealign_spark.session import get_spark

    return get_spark("kgbench-tests", cores=4, shuffle_partitions=4)


@pytest.fixture(scope="module")
def builds(spark, tmp_path_factory):
    """seed -> (gate.Outputs, pair) for one blocked build per seed, over
    inputs staged the way the benchmark stages them."""
    from veealign_spark.plans.pipeline import PipelineConfig, run_pipeline
    from veealign_spark.sources.transcripts import read_transcripts

    out = {}
    for seed in SEEDS:
        path = tmp_path_factory.mktemp("input") / "turns"
        staged = inputs.stage(SMALL, seed, path, n_files=4)
        tdf = read_transcripts(spark, str(path))
        assert tdf.count() == staged["turns"]
        cfg = PipelineConfig(blocking="blocked")
        res = run_pipeline(spark, tdf, cfg)
        expected = inputs.expected_triples(staged["pair"]["triples"])
        oracle = gate.Oracle(expected, cfg.kernel_params(), cfg.max_types)
        out[seed] = (gate.collect(res, oracle), staged["pair"])
    return out


def _check(outputs, pair):
    expected = inputs.expected_triples(pair["triples"])
    return gate.check_all(outputs, expected, inputs.gold_pairs(pair))


def _replace(outputs, **kw):
    from dataclasses import replace

    return replace(outputs, **kw)


def test_ontology_is_a_function_of_the_seed():
    a, b = inputs.ontology(SMALL, 5), inputs.ontology(SMALL, 5)
    for key in ("concepts", "triples", "gold"):
        assert a[key].equals(b[key])
    assert not a["triples"].equals(inputs.ontology(SMALL, 6)["triples"])


def test_transcripts_are_a_function_of_the_seed():
    def turns(seed):
        return inputs.transcripts(SMALL, inputs.ontology(SMALL, seed), seed)

    first = turns(5)
    assert first.equals(turns(5))
    assert not first.equals(turns(6))
    n_chat = len(inputs.ontology(SMALL, 5)["triples"]) * SMALL.copies * SMALL.chatter
    assert first["conv_id"].str.contains("_q").sum() == n_chat


def test_chatter_never_matches_the_mention_pattern(spark):
    from veealign_spark.sources.transcripts import MENTION_PATTERN, extract_mentions

    chat = inputs.chatter(20_000, seed=3)
    rx = re.compile(MENTION_PATTERN)
    assert chat["text"].str.len().min() > 0
    assert not any(rx.search(t) for t in chat["text"])
    assert extract_mentions(spark.createDataFrame(chat)).count() == 0


@pytest.mark.parametrize("seed", SEEDS)
def test_gate_passes_on_correct_outputs(builds, seed):
    outputs, pair = builds[seed]
    checks, (precision, recall) = _check(outputs, pair)
    assert checks == [[], [], [], []]
    assert precision >= gate.QUALITY_FLOOR and recall >= gate.QUALITY_FLOOR
    # the gate read real outputs, not empty ones
    assert len(outputs.accepted) > 500 and len(outputs.scores) > len(outputs.accepted)


def test_gate_fails_when_an_accepted_pair_is_dropped(builds):
    outputs, pair = builds[SEEDS[0]]
    dropped = _replace(outputs, accepted=outputs.accepted.iloc[1:])
    checks, _ = _check(dropped, pair)
    assert checks[1] and "1 missing" in checks[1][0]


def test_gate_fails_when_a_triple_is_altered(builds):
    outputs, pair = builds[SEEDS[0]]
    triples = outputs.triples.copy()
    triples.loc[0, "obj"] = triples.loc[0, "obj"] + "X"
    checks, _ = _check(_replace(outputs, triples=triples), pair)
    assert checks[0] and "1 unexpected, 1 missing" in checks[0][0]


def test_gate_fails_when_a_score_drifts(builds):
    outputs, pair = builds[SEEDS[0]]
    scores = outputs.scores.copy()
    scores.loc[0, "score"] += 1e-6
    checks, _ = _check(_replace(outputs, scores=scores), pair)
    assert checks[1] and "1 of" in checks[1][0]


def test_gate_fails_on_a_kg_violation(builds):
    outputs, pair = builds[SEEDS[0]]
    violations = outputs.violations.copy()
    violations.loc[0, "violations"] = 1
    checks, _ = _check(_replace(outputs, violations=violations), pair)
    assert checks[3]


def test_gate_fails_below_the_quality_floor(builds):
    outputs, pair = builds[SEEDS[0]]
    half = outputs.accepted.iloc[: len(outputs.accepted) // 2]
    checks, (_, recall) = _check(_replace(outputs, accepted=half), pair)
    assert recall < gate.QUALITY_FLOOR and checks[2]


def _traced_build(spark, unwrap_stages: bool = False):
    """One traced blocked build; with unwrap_stages, StageLedger.stage
    gets no span, as if a stage ran outside every layer span."""
    from spans import Ledger, Tracer
    from veealign_spark import datagen, schemas
    from veealign_spark.plans import pipeline

    turns, _ = datagen.make_transcripts(datagen.make_ontology_pair(seed=3)["triples"], seed=3)
    tdf = spark.createDataFrame(turns, schema=schemas.TRANSCRIPTS)
    ledger, tracer = Ledger(spark.sparkContext), Tracer(spark.sparkContext)
    mark = ledger.mark()
    tracer.install()
    if unwrap_stages:
        pipeline.StageLedger.stage = next(
            orig for owner, _, orig in tracer._undo if owner is pipeline.StageLedger)
    try:
        with tracer.span("build") as build:
            res = pipeline.run_pipeline(spark, tdf, pipeline.PipelineConfig(blocking="blocked"))
    finally:
        tracer.uninstall()
    groups, n_jobs = ledger.fold(mark)
    return res, tracer, build, groups, n_jobs


def test_tracer_puts_the_build_cpu_in_named_spans(spark):
    from spans import unlabelled_cpu_s

    res, tracer, build, groups, n_jobs = _traced_build(spark)
    cpu = sum(g["cpu_s"] for g in groups.values())
    assert n_jobs > 0 and cpu > 0
    assert unlabelled_cpu_s(groups, build) <= 0.1 * cpu
    # every ledger stage got a span, and every job group is a span's
    assert {m["stage"] for m in res["metrics"]} <= {s.name for s in tracer.spans}
    assert set(groups) - {""} <= {s.group for s in tracer.spans}
    # spans on the engine's pool threads hang under the build span
    assert all(s.parent is not None for s in tracer.spans[1:])
    assert {s.thread for s in tracer.spans if s.parent == build.sid} != {build.thread}


def test_unlabelled_counts_stages_no_layer_span_covers(spark):
    from spans import unlabelled_cpu_s

    _, tracer, build, groups, _ = _traced_build(spark, unwrap_stages=True)
    cpu = sum(g["cpu_s"] for g in groups.values())
    assert "triples" not in {s.name for s in tracer.spans}
    assert unlabelled_cpu_s(groups, build) > 0.5 * cpu
