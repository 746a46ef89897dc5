"""One benchmark run: stage inputs, build in a closed loop, gate, report."""

from __future__ import annotations

import contextlib
import statistics
import time
import traceback
from pathlib import Path

import gate
import inputs
from spans import (
    STAGE_FIELDS, Ledger, Tracer, python_worker_cpu_s, self_time, union_length, unlabelled_cpu_s,
)

KERNEL_REPS = 5
_OP_SPANS = {"build", "score_candidates_stage", "publish_standing"}


def config():
    from veealign_spark.plans.pipeline import PipelineConfig

    return PipelineConfig(blocking="blocked")


def prepare(name: str, seed: int, path: Path, n_files: int) -> dict:
    """Everything a run needs that does not need Spark: the staged
    inputs and the gate's references, oracle included."""
    t0 = time.perf_counter()
    staged = inputs.stage(inputs.SPECS[name], seed, path, n_files)
    cfg = config()
    expected = inputs.expected_triples(staged["pair"]["triples"])
    return dict(
        staged,
        expected=expected,
        gold=inputs.gold_pairs(staged["pair"]),
        oracle=gate.Oracle(expected, cfg.kernel_params(), cfg.max_types),
        prepare_s=time.perf_counter() - t0,
    )


def warmup(spark) -> None:
    """Start the Python workers with one Arrow round trip per core
    before anything is timed."""
    n = spark.sparkContext.defaultParallelism
    spark.range(0, 1000 * n, 1, n).mapInPandas(lambda it: it, "id long").count()


class Run:
    def __init__(self, spark, prepared: dict, input_path: Path, trace: bool):
        from veealign_spark.sources.transcripts import read_transcripts

        self.spark = spark
        self.prepared = prepared
        self.pair = prepared["pair"]
        self.oracle = prepared["oracle"]
        self.tdf = read_transcripts(spark, str(input_path))
        self.cfg = config()
        self.ledger = Ledger(spark.sparkContext)
        self.tracer = Tracer(spark.sparkContext) if trace else None
        if self.tracer:
            self.tracer.install()
        self.sizes = {
            "turns": prepared["turns"],
            "generated_triples": len(self.pair["triples"]),
            "gold_pairs": len(self.pair["gold"]),
        }
        self.build_times: list[float] = []
        self.build_cpu: list[float] = []
        self.layers: list[dict[str, tuple[float, str]]] = []
        self.errors: list[str] = []
        self.attempted = self.failed = 0
        self.res = None
        self.scores = None
        self.quality = (0.0, 0.0)

    def _count(self, errs: list[str]) -> None:
        self.attempted += 1
        if errs:
            self.failed += 1
            self.errors.extend(errs)

    def loop(self, seconds: float) -> None:
        """Closed loop, one client: build, wait for it, build again,
        until `seconds` have passed (at least one build)."""
        from veealign_spark.plans.pipeline import run_pipeline

        start = time.perf_counter()
        while True:
            mark = self.ledger.mark()
            py0 = python_worker_cpu_s()
            span = self.tracer.span("build") if self.tracer else contextlib.nullcontext()
            t0 = time.perf_counter()
            try:
                with span as op:
                    res = run_pipeline(self.spark, self.tdf, self.cfg)
            except Exception as exc:  # a failed build counts, then stops the loop
                traceback.print_exc()
                self._count([f"build raised {type(exc).__name__}: {exc}"[:500]])
                return
            wall = time.perf_counter() - t0
            py_cpu = python_worker_cpu_s() - py0
            self._count([])
            groups, n_jobs = self.ledger.fold(mark)
            self.build_times.append(wall)
            self.build_cpu.append(sum(g["cpu_s"] for g in groups.values()) + py_cpu)
            if self.tracer:
                layers = self._op_layers(op, res, groups, n_jobs)
                layers["python_workers.cpu_s"] = (py_cpu, "s")
                self.layers.append(layers)
            self.res = res
            if time.perf_counter() - start >= seconds:
                return

    # -- output gate -------------------------------------------------
    def gate(self) -> None:
        if self.res is None:
            return
        try:
            workers = self.spark.sparkContext.defaultParallelism
            out = gate.collect(self.res, self.oracle, workers)
        except Exception as exc:  # the outputs could not be read: a failed check
            traceback.print_exc()
            self._count([f"gate: reading outputs raised {type(exc).__name__}: {exc}"[:500]])
            return
        p = self.prepared
        checks, self.quality = gate.check_all(out, p["expected"], p["gold"])
        for errs in checks:
            self._count(errs)
        self.scores = out.scores
        self.sizes.update(
            triples=len(out.triples), scored_pairs=len(out.scores),
            prop_pairs=int(out.scores["is_prop"].sum()), accepted=len(out.accepted),
        )

    # -- metrics -------------------------------------------------------
    def end_to_end_metrics(self) -> dict[str, tuple[float, str]]:
        if not self.build_times:
            return {}
        build_s = statistics.median(self.build_times)
        return {
            "build_s": (build_s, "s"),
            "turns_per_s": (self.sizes["turns"] / build_s, "1/s"),
            "cpu_s": (statistics.median(self.build_cpu), "s"),
            "precision": (self.quality[0], "ratio"),
            "recall": (self.quality[1], "ratio"),
        }

    def _op_layers(self, op, res, groups, n_jobs) -> dict[str, tuple[float, str]]:
        """Per-layer figures of one traced build."""
        spans = [s for s in self.tracer.spans if op.start <= s.start and s.end <= op.end]
        rows = {m["stage"]: m["rows"] for m in res["metrics"]}
        zero = dict.fromkeys(STAGE_FIELDS, 0.0)

        def stage(*names):
            ss = [s for s in spans if s.name in names]
            g = dict(zero)
            for s in ss:
                for k, v in groups.get(s.group, zero).items():
                    g[k] += v
            g["wall_s"] = union_length([(s.start, s.end) for s in ss])
            return g

        out: dict[str, tuple[float, str]] = {}
        t = stage("triples")
        out.update({
            "triples.wall_s": (t["wall_s"], "s"), "triples.cpu_s": (t["cpu_s"], "s"),
            "triples.rows_in": (t["input_records"], "count"),
            "triples.rows_out": (rows.get("triples", 0), "count"),
            "triples.shuffle_bytes": (t["shuffle_write_bytes"], "bytes"),
            "triples.spill_bytes": (t["spill_bytes"], "bytes"),
        })
        for name in ("contexts", "features", "prop_contexts", "clusters"):
            g = stage(name)
            out[f"{name}.wall_s"] = (g["wall_s"], "s")
            out[f"{name}.cpu_s"] = (g["cpu_s"], "s")
            if name != "clusters":
                out[f"{name}.rows"] = (rows.get(name, 0), "count")
        c = stage("candidates", "candidates_plan")
        concepts = res["concepts"].groupBy("src").count().toPandas()["count"].tolist()
        cross = sum(a * b for i, a in enumerate(concepts) for b in concepts[i + 1:])
        out.update({
            "candidates.wall_s": (c["wall_s"], "s"), "candidates.cpu_s": (c["cpu_s"], "s"),
            "candidates.rows": (rows.get("candidates", 0), "count"),
            "candidates.shuffle_bytes": (c["shuffle_write_bytes"], "bytes"),
            "candidates.pair_ratio": (rows.get("candidates", 0) / cross if cross else 0.0, "ratio"),
        })
        sc = stage("scores")
        n_scores = rows.get("scores", 0)
        n_accepted = res["accepted"].count()
        out.update({
            "vocab.wall_s": (res["unstaged_timings"].get("vocab", 0.0), "s"),
            "encode.plan_s": (res["unstaged_timings"].get("encode", 0.0), "s"),
            "scores.wall_s": (sc["wall_s"], "s"), "scores.cpu_s": (sc["cpu_s"], "s"),
            "scores.rows": (n_scores, "count"),
            "scores.accept_ratio": (n_accepted / n_scores if n_scores else 0.0, "ratio"),
        })
        probe = stage("score_candidates_stage")
        out["score_candidates.wall_s"] = (probe["wall_s"], "s")
        out["score_candidates.cpu_s"] = (probe["cpu_s"], "s")
        kg = stage("kg_plan", "kg_edges", "kg_triples", "kg_entities")
        out["kg.wall_s"] = (kg["wall_s"], "s")
        out["kg.cpu_s"] = (kg["cpu_s"], "s")
        out["kg_triples.rows"] = (rows.get("kg_triples", 0), "count")

        stage_spans = [s for s in spans if s.name not in _OP_SPANS]
        cpu_total = sum(g["cpu_s"] for g in groups.values())
        wall = op.end - op.start
        out.update({
            "build.wall_s": (wall, "s"),
            "build.cpu_s": (cpu_total, "s"),
            "ledger.jobs": (n_jobs, "count"),
            "ledger.tasks": (sum(g["tasks"] for g in groups.values()), "count"),
            "ledger.overlap": (sum(s.end - s.start for s in stage_spans) / wall, "ratio"),
            "driver.gap_s": (self_time(op, spans), "s"),
            "unlabelled.cpu_share": (
                unlabelled_cpu_s(groups, op) / cpu_total if cpu_total else 0.0, "ratio"),
        })
        return out

    def _kernel_rate(self, fn, batch) -> float:
        times = []
        for _ in range(KERNEL_REPS):
            t0 = time.perf_counter()
            fn(batch)
            times.append(time.perf_counter() - t0)
        return gate.BATCH / statistics.median(times)

    def layer_metrics(self) -> dict[str, tuple[float, str]]:
        if not self.layers:
            return {}
        out = {
            k: (statistics.fmean(layer[k][0] for layer in self.layers), unit)
            for k, (_, unit) in self.layers[0].items()
        }
        out["trace.overhead_s"] = (self.tracer.overhead_s / len(self.layers), "s")
        out["prop_candidates.rows"] = (self.sizes.get("prop_pairs", 0), "count")
        out.update(self._kernel_layer())
        return out

    def _kernel_layer(self) -> dict[str, tuple[float, str]]:
        """The numpy kernel alone, single-threaded on the driver, over
        one Arrow-batch-sized (10,000 pair) batch of this workload's own
        scored candidates."""
        from veealign_spark.operators import kernel_np

        if self.scores is None:
            return {}
        o, s = self.oracle, self.scores
        kind = o.kinds(s)
        keys = list(zip(s["ent1"], s["ent2"]))
        concept = [k for k, c in zip(keys, kind == "context") if c]
        prop = [k for k, c in zip(keys, kind == "prop") if c]
        out = {}
        for name, pairs, build, fn in (
            ("concept", concept, o.concept_batch,
             lambda b: kernel_np.score_concept_pairs(*b, o.ix.matrix, o.p)),
            ("prop", prop, o.prop_batch,
             lambda b: kernel_np.score_property_pairs(b, o.ix.matrix, o.p)),
        ):
            if not pairs:
                out[f"kernel.{name}_pairs_per_s"] = (0.0, "1/s")
                continue
            take = [pairs[i % len(pairs)] for i in range(gate.BATCH)]
            out[f"kernel.{name}_pairs_per_s"] = (self._kernel_rate(fn, build(take)), "1/s")
        return out
