"""Empirically pin the broadcast <-> prejoined vector-layout crossover
(r4 verdict item #6): vocab_broadcast_threshold defaulted to 2M terms
on an argument, not a measurement.

Each layout is forced through the threshold itself: above the
vocabulary size keeps the broadcast source, 0 forces pre-joined.

Method: the fixture ontology pair provides a FIXED candidate/feature
workload; the vocabulary is inflated independently through the P2
label map (V labels for ids that never occur in the triples — they
enter term_universe and the embedding tables but never a feature or a
candidate, so scoring work is constant across V and the wall-clock
delta isolates vocabulary handling: collect+driver-embed+broadcast vs
distributed rank+embed-UDF+prejoin).

Usage: python scripts/bench_vector_modes.py [V1,V2,...] (default
250000,1000000,3000000), 2 runs per (V, mode), best reported. The
session takes every core this process may run on (nproc). The result
JSON goes to `.bench_work/vector_modes.json` in the checkout
(git-ignored).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from pyspark.sql import functions as F  # noqa: E402

from veealign_spark import datagen  # noqa: E402
from veealign_spark.plans.pipeline import PipelineConfig, run_pipeline  # noqa: E402
from veealign_spark.session import get_spark  # noqa: E402

TRIPLES_SCHEMA = "src string, subj string, pred string, obj string, kind string"


def main() -> None:
    sizes = (
        [int(x) for x in sys.argv[1].split(",")]
        if len(sys.argv) > 1
        else [250_000, 1_000_000, 3_000_000]
    )
    spark = get_spark("bench_vec_modes", cores=len(os.sched_getaffinity(0)))
    pair = datagen.make_ontology_pair(seed=42)
    tdf = spark.createDataFrame(pair["triples"], TRIPLES_SCHEMA)
    tdf = tdf.localCheckpoint(eager=True)

    out = {"sizes": {}, "runs": 2}
    for v in sizes:
        label_map = (
            spark.range(v)
            .select(
                F.lit("src1").alias("src"),
                F.concat(F.lit("__padid_"), F.col("id")).alias("id"),
                F.concat(F.lit("padterm "), F.col("id")).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        label_map.count()
        cell = {}
        for mode, threshold in (("broadcast", 20_000_000), ("prejoined", 0)):
            best = None
            for _ in range(2):
                cfg = PipelineConfig(vocab_broadcast_threshold=threshold)
                t0 = time.time()
                res = run_pipeline(
                    spark, triples=tdf, config=cfg, label_map=label_map
                )
                n_acc = res["accepted"].count()
                dt = time.time() - t0
                if res["vector_mode"] != mode:
                    raise RuntimeError(f"threshold {threshold} ran {res['vector_mode']}")
                timings = res.get("unstaged_timings", {})
                rec = {
                    "wall_sec": round(dt, 2),
                    "vocab_sec": round(timings.get("vocab", -1), 2),
                    "encode_sec": round(timings.get("encode", -1), 2),
                    "accepted": n_acc,
                }
                if best is None or rec["wall_sec"] < best["wall_sec"]:
                    best = rec
                print(f"V={v} mode={mode}: {rec}", flush=True)
            cell[mode] = best
        cell["broadcast_over_prejoined"] = round(
            cell["broadcast"]["wall_sec"] / cell["prejoined"]["wall_sec"], 3
        )
        out["sizes"][str(v)] = cell
    print(json.dumps(out))
    out_path = ROOT / ".bench_work" / "vector_modes.json"
    out_path.parent.mkdir(exist_ok=True)
    out_path.write_text(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
