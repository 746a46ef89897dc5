"""Incremental-ingest benchmark: cost of adding source N+1 to a
standing KG, vs a full batch rerun over the union.

Scenario: the standing KG is the bench corpus (src1+src2,
`copies` re-verbalizations, run_pipeline with stage checkpoints —
the materialized-standing-KG shape). The increment is a NEW source
srcnew: src2's conversations re-keyed under a new source prefix (a new
feed with comparable per-source volume). Measures:

- standing build (run_pipeline over src1+src2),
- incremental_update(standing, srcnew) — the plan under test,
- full rerun (run_pipeline over standing+srcnew) — the baseline the
  incremental plan replaces.

The saving is quadratic in the number of STANDING sources: a full
rerun over S standing sources + 1 new re-scores all S*(S+1)/2 source
pairs, the incremental plan scores only the S pairs that touch the
new source (corpus-linear passes — vocabulary, censuses, KG
materialize — run over the union either way). `n_clones` grows the
standing source count (clones of src2 under new prefixes) to show the
curve.

Usage: python scripts/bench_incremental.py [copies] [n_clones] [out_json]

The staged corpora, checkpoints and (by default) the JSON result go
under `.bench_work/incremental/` in the checkout (git-ignored). The
session takes SPARK_GRAFT_CPUS cores, default every core this process
may run on.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

COPIES = int(sys.argv[1]) if len(sys.argv) > 1 else 3000
N_CLONES = int(sys.argv[2]) if len(sys.argv) > 2 else 0
WORK = os.path.join(ROOT, ".bench_work", "incremental")
OUT = sys.argv[3] if len(sys.argv) > 3 else os.path.join(WORK, "bench_incremental.json")


def _clone(tdf, new_src: str):
    return tdf.filter(F.col("conv_id").startswith("src2_")).withColumn(
        "conv_id", F.regexp_replace("conv_id", "^src2_", f"{new_src}_")
    )


def main() -> None:
    from veealign_spark.plans.incremental import incremental_update
    from veealign_spark.plans.pipeline import PipelineConfig, run_pipeline

    os.makedirs(WORK, exist_ok=True)
    cores = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    spark = bench.fresh_spark(int(cores))
    path = bench.stage_kg_input(
        spark, COPIES, path=os.path.join(WORK, f"tr_{COPIES}")
    )
    base_tdf = spark.read.parquet(path)

    std_path = os.path.join(WORK, f"std_{COPIES}_{N_CLONES}")
    if not os.path.exists(os.path.join(std_path, "_SUCCESS")):
        std = base_tdf
        for i in range(N_CLONES):
            std = std.unionByName(_clone(base_tdf, f"src{3 + i}"))
        std.repartition(256).write.mode("overwrite").parquet(std_path)
    standing_tdf = spark.read.parquet(std_path)

    inc_path = os.path.join(WORK, f"incnew_{COPIES}")
    if not os.path.exists(os.path.join(inc_path, "_SUCCESS")):
        _clone(base_tdf, "srcnew").repartition(128).write.mode(
            "overwrite"
        ).parquet(inc_path)
    inc_tdf = spark.read.parquet(inc_path)

    n_standing = standing_tdf.count()
    n_inc = inc_tdf.count()

    cfg = PipelineConfig(
        blocking="blocked", checkpoint_dir=os.path.join(WORK, f"ckpt_{COPIES}_{N_CLONES}")
    )
    t0 = time.time()
    standing = run_pipeline(spark, standing_tdf, cfg)
    n_acc_standing = standing["accepted"].count()
    t_standing = time.time() - t0

    # one-time warmup of the scoring path (first kernel-scoring job of
    # a session pays ~30s of broadcast/codegen/worker spin-up that the
    # resumed standing build skips; measured in an A/B run: first score
    # job 40s, every later one 8-10s regardless of plan variant).
    # Without this the cost lands on whichever timed run goes first.
    warm_tdf = inc_tdf.limit(20000).withColumn(
        "conv_id", F.regexp_replace("conv_id", "^srcnew_", "srcwarm_")
    )
    incremental_update(
        spark, standing, new_transcripts=warm_tdf,
        config=PipelineConfig(blocking="blocked"),
    )["accepted"].count()

    t0 = time.time()
    inc = incremental_update(
        spark, standing, new_transcripts=inc_tdf,
        config=PipelineConfig(blocking="blocked"),
    )
    n_acc_inc = inc["accepted"].count()
    t_inc = time.time() - t0

    t0 = time.time()
    full = run_pipeline(
        spark, standing_tdf.unionByName(inc_tdf),
        PipelineConfig(blocking="blocked"),
    )
    n_acc_full = full["accepted"].count()
    t_full = time.time() - t0

    # post-publish audit (the gate a deployment runs before swapping
    # the standing snapshot): every structural invariant must be zero
    from veealign_spark.operators import canonicalize

    t0 = time.time()
    audit = {
        r["invariant"]: r["violations"]
        for r in canonicalize.validate_kg(
            inc["clusters"], inc["accepted"], inc["kg_triples"],
            inc["kg_entities"],
        ).collect()
    }
    t_audit = time.time() - t0

    out = {
        "copies": COPIES,
        "standing_sources": 2 + N_CLONES,
        "standing_turns": n_standing,
        "increment_turns": n_inc,
        "standing_pipeline_sec": round(t_standing, 2),
        "incremental_sec": round(t_inc, 2),
        "full_rerun_sec": round(t_full, 2),
        "speedup_vs_rerun": round(t_full / t_inc, 2),
        "accepted_standing": n_acc_standing,
        "accepted_incremental_total": n_acc_inc,
        "accepted_full_rerun": n_acc_full,
        "accepted_match": n_acc_inc == n_acc_full,
        "invariant_audit": audit,
        "invariant_audit_sec": round(t_audit, 2),
        "stage_sec_incremental": {
            m["stage"]: round(m.get("sec", 0.0), 2) for m in inc["metrics"]
        },
        "stage_sec_full": {
            m["stage"]: round(m.get("sec", 0.0), 2) for m in full["metrics"]
        },
        "stage_rows_incremental": {
            m["stage"]: m["rows"] for m in inc["metrics"]
        },
        "stage_rows_full": {m["stage"]: m["rows"] for m in full["metrics"]},
        "encode_vocab_sec_incremental": {
            k: round(v, 2) for k, v in inc["unstaged_timings"].items()
        },
        "encode_vocab_sec_full": {
            k: round(v, 2) for k, v in full["unstaged_timings"].items()
        },
    }
    with open(OUT, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
