"""Round-6 optimization measurement harness (bench.py stays frozen).

Modes:
  python bench_extra.py queries [tag]   — per-headline-query cold+warm
      timing (same count() methodology as bench.py) + explain("formatted")
      dumped to plans/r06/<query>_<tag>.txt
  python bench_extra.py noop [tag]      — noop-sink isolation timing
      (guide §1.4): warm plan, then timed noop write per query
  python bench_extra.py kg [copies]     — one fresh-JVM KG run with the
      per-stage ledger metrics printed (stage-level attribution)

All numbers printed as one JSON line prefixed EXTRA for easy grepping.
SPARK_GRAFT_CPUS sets the session's core count; it defaults to the
cores this process may run on.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import bench  # noqa: E402


def _cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def capture_plans(spark, sf_dir, tag: str) -> None:
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    outdir = Path(__file__).resolve().parent / "plans" / "r06"
    outdir.mkdir(parents=True, exist_ok=True)
    for name in bench.HEADLINE:
        df = qs[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        (outdir / f"{name}_{tag}.txt").write_text(plan)


def run_queries_mode(tag: str) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = bench.fresh_spark(_cpus())
    capture_plans(spark, sf_dir, tag)
    cold = bench.run_queries(spark, sf_dir)
    warm = bench.run_queries(spark, sf_dir)
    warm2 = bench.run_queries(spark, sf_dir)
    print("EXTRA " + json.dumps({
        "mode": "queries", "tag": tag,
        "cold": cold, "cold_total": round(sum(cold.values()), 3),
        "warm": warm, "warm_total": round(sum(warm.values()), 3),
        "warm2": warm2, "warm2_total": round(sum(warm2.values()), 3),
    }))


def run_noop_mode(tag: str) -> None:
    import __spark_entry__ as entrymod

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = bench.fresh_spark(_cpus())
    qs = entrymod.queries()
    out = {}
    for name in bench.HEADLINE:
        spark.sparkContext.setJobDescription(f"noop:{name}")
        df = qs[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()  # warm the plan
        t0 = time.time()
        df2 = qs[name](spark, sf_dir)
        df2.write.format("noop").mode("overwrite").save()
        out[name] = round(time.time() - t0, 3)
        spark.sparkContext.setJobDescription(None)
    print("EXTRA " + json.dumps({
        "mode": "noop", "tag": tag, "queries": out,
        "total": round(sum(out.values()), 3),
    }))


def run_kg_mode(copies: int) -> None:
    from veealign_spark.plans.pipeline import PipelineConfig, run_pipeline
    from veealign_spark.sources.transcripts import extract_mentions

    spark = bench.fresh_spark(_cpus())
    bench.kg_throughput(spark, copies=150)  # untimed warmup (bench protocol)
    path = bench.stage_kg_input(spark, copies)
    tdf = spark.read.parquet(path)
    n_turns = tdf.count()
    t0 = time.time()
    n_mentions = extract_mentions(tdf).count()
    t_extract = time.time() - t0
    t0 = time.time()
    res = run_pipeline(spark, tdf, PipelineConfig(blocking="blocked"))
    n_acc = res["accepted"].count()
    sec = time.time() - t0
    print("EXTRA " + json.dumps({
        "mode": "kg", "copies": copies, "turns": n_turns,
        "mentions": n_mentions, "accepted": n_acc,
        "extract_sec": round(t_extract, 3),
        "pipeline_sec": round(sec, 3),
        "triples_per_sec": round(n_mentions / sec, 1),
        "stages": res["metrics"],
        "unstaged_timings": res["unstaged_timings"],
    }))


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "queries"
    if mode == "queries":
        run_queries_mode(sys.argv[2] if len(sys.argv) > 2 else "before")
    elif mode == "noop":
        run_noop_mode(sys.argv[2] if len(sys.argv) > 2 else "before")
    elif mode == "kg":
        run_kg_mode(int(sys.argv[2]) if len(sys.argv) > 2 else bench.KG_COPIES)
    else:
        raise SystemExit(f"unknown mode {mode}")
