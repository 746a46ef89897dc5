"""StageLedger.run: the one scheduler of every plan's stage graph.

Runner unit tests (no Spark): dependency order, real concurrency, and
the failure policy — the first exception is re-raised, nodes that
depend on the failed one never start, nodes already running finish.

Failure-path tests (Spark, under a checkpoint_dir): a stage fails while
its siblings run. The run must raise that error, leave no Spark job
active, and list exactly the finished stages in metrics.json; an
unpatched re-run must resume exactly those stages and produce the same
accepted pairs, clusters and kg_* tables as a fresh run.
"""

from __future__ import annotations

import json
import os
import re
import sys
import threading
import time

import pytest
from pyspark.sql import functions as F

from veealign_spark.operators import canonicalize, contexts
from veealign_spark.plans.incremental import incremental_update
from veealign_spark.plans.pipeline import PipelineConfig, StageLedger, run_pipeline

TRIPLES_SCHEMA = "src string, subj string, pred string, obj string, kind string"


# -- runner unit tests -------------------------------------------------


def test_nodes_run_in_dependency_order():
    events, lock = [], threading.Lock()

    def node(name):
        def build(r):
            with lock:
                events.append(("start", name))
            time.sleep(0.01)
            with lock:
                events.append(("end", name))
            return name.upper()
        return build

    graph = {
        "c": (("a", "b"), node("c"), False),
        "a": ((), node("a"), False),
        "b": (("a",), node("b"), False),
        "d": ((), node("d"), False),
    }
    out = StageLedger(None, None).run(graph)
    assert out == {"a": "A", "b": "B", "c": "C", "d": "D"}
    pos = {e: i for i, e in enumerate(events)}
    for name, (deps, _, _) in graph.items():
        for d in deps:
            assert pos[("end", d)] < pos[("start", name)]


def test_independent_nodes_run_concurrently():
    barrier = threading.Barrier(2)

    def meet(r):
        barrier.wait(timeout=30)  # BrokenBarrierError unless both run at once
        return True

    out = StageLedger(None, None).run({
        "x": ((), meet, False),
        "y": ((), meet, False),
        "z": (("x", "y"), lambda r: r["x"] and r["y"], False),
    })
    assert out["z"] is True


def test_wide_graph_under_fast_thread_switching():
    """A lattice of 48 nodes, each reading two nodes of the row above,
    on more threads than cores with a very short switch interval: every
    value equals the serial evaluation (a node that ran early or read a
    dep before it was stored would break it)."""
    rows, width = 6, 8

    def build(i, j):
        return lambda r: 1 if i == 0 else r[(i - 1, j)] + r[(i - 1, (j + 1) % width)]

    graph = {
        (i, j): (() if i == 0 else ((i - 1, j), (i - 1, (j + 1) % width)), build(i, j), False)
        for i in range(rows) for j in range(width)
    }
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        out = StageLedger(None, None).run(graph)
    finally:
        sys.setswitchinterval(interval)
    assert out == {(i, j): 2 ** i for i in range(rows) for j in range(width)}


def test_first_failure_reraised_and_dependents_never_start(tmp_path):
    started, sibling_done = [], threading.Event()
    error = ValueError("boom")
    barrier = threading.Barrier(2)

    def bad(r):
        barrier.wait(timeout=30)  # fail only once the sibling is running
        raise error

    def sibling(r):
        barrier.wait(timeout=30)
        time.sleep(0.2)
        sibling_done.set()
        return 1

    def after(r):
        started.append("after")

    ledger = StageLedger(None, str(tmp_path))
    with pytest.raises(ValueError) as exc:
        ledger.run({
            "bad": ((), bad, False),
            "sibling": ((), sibling, False),
            "after": (("bad",), after, False),
            "after_sibling": (("sibling",), after, False),
        })
    assert exc.value is error
    assert started == []  # neither dependent started, not even the sibling's
    assert sibling_done.is_set()  # the running sibling finished before the raise
    assert (tmp_path / "metrics.json").exists()


# -- the staged stages of each entry point ------------------------------

BATCH_STAGES = {
    "triples", "contexts", "prop_contexts", "vocab", "features", "candidates",
    "scores", "alignments", "clusters", "kg_triples", "kg_entities", "kg_edges",
}


def test_staged_stage_sets(spark, fixture_pair, tmp_path):
    """Which stages each entry point materializes. A batch run stages
    the concept/property dim tables only under a checkpoint_dir (a
    standing-KG build); an increment stages the batch set, never the
    dims, under its inc_<fingerprint>_ prefix."""
    tri = fixture_pair["triples"]
    standing_tri = spark.createDataFrame(tri, TRIPLES_SCHEMA)
    new_tri = spark.createDataFrame(tri[tri["src"] == "src2"].assign(src="src3"), TRIPLES_SCHEMA)

    def staged(res):
        return {m["stage"] for m in res["metrics"]}

    standing = run_pipeline(spark, triples=standing_tri)
    assert staged(standing) == BATCH_STAGES
    ckpt = PipelineConfig(checkpoint_dir=str(tmp_path / "ckpt"))
    assert staged(run_pipeline(spark, triples=standing_tri, config=ckpt)) == (
        BATCH_STAGES | {"concepts", "props"}
    )

    inc = staged(incremental_update(spark, standing, new_triples=new_tri))
    split = [re.fullmatch(r"(inc_[0-9a-f]{10}_)(.+)", s) for s in inc]
    assert all(split)
    assert len({m.group(1) for m in split}) == 1
    assert {m.group(2) for m in split} == BATCH_STAGES


# -- failure paths under a checkpoint_dir --------------------------------


def _outputs(res) -> dict:
    def rows(df, cols):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    return {
        "accepted": rows(res["accepted"], ["ent1", "ent2"]),
        "clusters": rows(res["clusters"], ["entity", "canon_id"]),
        **{k: rows(res[k], sorted(res[k].columns))
           for k in ("kg_triples", "kg_entities", "kg_edges")},
    }


def _failed_run(spark, ckpt, run) -> set[str]:
    """Run `run()` expecting the injected failure; check the failure
    policy and return the stages metrics.json lists as finished."""
    with pytest.raises(Exception, match="injected"):
        run()
    # the status tracker reads a store the listener bus feeds: drain the
    # bus so the store holds every job end already posted
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    assert spark.sparkContext.statusTracker().getActiveJobsIds() == []
    with open(os.path.join(ckpt, "metrics.json")) as f:
        finished = {m["stage"] for m in json.load(f)}
    on_disk = {
        d.split("=", 1)[1] for d in os.listdir(ckpt)
        if d.startswith("stage=") and os.path.exists(os.path.join(ckpt, d, "_SUCCESS"))
    }
    assert finished == on_disk
    return finished


def _resumed(res) -> set[str]:
    return {m["stage"] for m in res["metrics"] if m.get("resumed")}


def _failing(df):
    return df.withColumn(df.columns[0], F.raise_error(F.lit("injected stage failure")))


def _fail_prop_contexts(m) -> None:
    """Patch contexts so the prop_contexts stage fails, once the
    contexts stage has started, with an action-time Spark error."""
    started = threading.Event()
    build_contexts, build_prop_contexts = contexts.build_contexts, contexts.build_prop_contexts

    def contexts_spy(*a, **k):
        started.set()
        return build_contexts(*a, **k)

    def prop_contexts_fail(triples):
        assert started.wait(timeout=60)
        return _failing(build_prop_contexts(triples))

    m.setattr(contexts, "build_contexts", contexts_spy)
    m.setattr(contexts, "build_prop_contexts", prop_contexts_fail)


@pytest.fixture(scope="module")
def fresh(spark, triples_sdf):
    return _outputs(run_pipeline(spark, triples=triples_sdf, config=PipelineConfig()))


def test_prop_contexts_fails_while_contexts_runs(spark, triples_sdf, fresh, tmp_path, monkeypatch):
    ckpt = str(tmp_path / "ckpt")
    cfg = PipelineConfig(checkpoint_dir=ckpt)
    with monkeypatch.context() as m:
        _fail_prop_contexts(m)
        finished = _failed_run(
            spark, ckpt, lambda: run_pipeline(spark, triples=triples_sdf, config=cfg)
        )
    assert "triples" in finished and "prop_contexts" not in finished
    assert not finished & {"scores", "alignments", "clusters", "kg_triples"}

    res = run_pipeline(spark, triples=triples_sdf, config=cfg)
    assert _resumed(res) == finished
    assert _outputs(res) == fresh


def test_kg_stage_fails_while_siblings_run(spark, triples_sdf, fresh, tmp_path, monkeypatch):
    ckpt = str(tmp_path / "ckpt")
    cfg = PipelineConfig(checkpoint_dir=ckpt)
    materialize_kg = canonicalize.materialize_kg

    def kg_fail(triples, clusters):
        kg = materialize_kg(triples, clusters)
        return {**kg, "kg_entities": _failing(kg["kg_entities"])}

    with monkeypatch.context() as m:
        m.setattr(canonicalize, "materialize_kg", kg_fail)
        finished = _failed_run(
            spark, ckpt, lambda: run_pipeline(spark, triples=triples_sdf, config=cfg)
        )
    # the two siblings were running when kg_entities failed: they finished
    assert {"clusters", "kg_triples", "kg_edges"} <= finished
    assert "kg_entities" not in finished

    res = run_pipeline(spark, triples=triples_sdf, config=cfg)
    assert _resumed(res) == finished
    assert _outputs(res) == fresh


def test_incremental_stage_fails_while_siblings_run(spark, fixture_pair, tmp_path, monkeypatch):
    tri = fixture_pair["triples"]
    tri3 = tri[tri["src"] == "src2"].assign(src="src3")
    standing_tri = spark.createDataFrame(tri, TRIPLES_SCHEMA)
    new_tri = spark.createDataFrame(tri3, TRIPLES_SCHEMA)
    standing = run_pipeline(spark, triples=standing_tri, config=PipelineConfig())
    fresh_inc = _outputs(incremental_update(
        spark, standing, new_triples=new_tri, config=PipelineConfig()
    ))

    ckpt = str(tmp_path / "ckpt")
    cfg = PipelineConfig(checkpoint_dir=ckpt)

    def run():
        return incremental_update(spark, standing, new_triples=new_tri, config=cfg)

    with monkeypatch.context() as m:
        _fail_prop_contexts(m)
        finished = _failed_run(spark, ckpt, run)
    assert all(s.startswith("inc_") for s in finished)
    assert any(s.endswith("_triples") for s in finished)
    assert not any(s.endswith(("_prop_contexts", "_scores")) for s in finished)

    res = run()
    assert _resumed(res) == finished
    assert _outputs(res) == fresh_inc
