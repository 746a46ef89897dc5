"""Same-window interleaved A/B of the KG pipeline throughput: current
code (HEAD worktree) vs a pinned prior-round commit.

Why: the round-4 driver bench measured 511k triples/s where round 3
recorded 668k, with no way to attribute the dip (code regression vs
multi-tenant box noise) because both numbers came from single-window
best-of-2 runs. This harness applies the interleaved-median discipline
the scaling contract number already uses: alternating fresh-JVM runs of
BOTH trees inside ONE window, so tenancy drift hits both sides equally
and the A/B ratio isolates the code.

Protocol per iteration: one fresh-JVM run of side A (this repo), then
one of side B (the pinned commit, materialized via `git worktree`),
alternating. Each run: fresh JVM -> untimed small-corpus warmup (pays
whole-stage codegen + python-worker startup) -> ONE measured full run.
Both sides read the IDENTICAL staged parquet corpus (the staging marker
makes whoever runs first stage it; the ontology constants are unchanged
between the trees — verified by `git diff <ref> HEAD -- bench.py`).

The pinned commit's worktree and the result JSON go under
`.bench_work/kg_ab/` in the checkout (git-ignored).

Usage: python scripts/bench_kg_ab.py [--ref 0848c5b] [--iters 5]
       [--copies 3000] [--cores <usable cores>]
       [--out .bench_work/kg_ab/kg_ab.json]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
WORK = REPO / ".bench_work" / "kg_ab"


def run_one(tree: Path, cores: int, copies: int, warm_copies: int) -> dict:
    code = (
        "import json, bench\n"
        f"spark = bench.fresh_spark({cores})\n"
        f"bench.kg_throughput(spark, copies={warm_copies})\n"
        f"r = bench.kg_throughput(spark, copies={copies})\n"
        "print('KGRESULT ' + json.dumps(r))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True, text=True, cwd=str(tree), timeout=1800,
    )
    for line in out.stdout.splitlines():
        if line.startswith("KGRESULT "):
            return json.loads(line[len("KGRESULT "):])
    raise RuntimeError(f"run in {tree} failed: {out.stderr[-2000:]}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--ref", default="0848c5b")  # round-3 final code
    ap.add_argument("--iters", type=int, default=5)
    ap.add_argument("--copies", type=int, default=3000)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--warm-copies", type=int, default=150)
    ap.add_argument("--out", default=str(WORK / "kg_ab.json"))
    args = ap.parse_args()

    WORK.mkdir(parents=True, exist_ok=True)
    ref_tree = WORK / args.ref
    if not ref_tree.exists():
        subprocess.run(
            ["git", "worktree", "add", "--detach", str(ref_tree), args.ref],
            cwd=str(REPO), check=True, capture_output=True, text=True,
        )

    runs = {"head": [], "ref": []}
    t_start = time.time()
    for i in range(args.iters):
        for side, tree in (("head", REPO), ("ref", ref_tree)):
            r = run_one(tree, args.cores, args.copies, args.warm_copies)
            runs[side].append(r)
            print(
                f"iter {i} {side}: {r['pipeline_sec']}s "
                f"{r['triples_per_sec']:,} tps", flush=True,
            )

    def summ(rs):
        tps = [r["triples_per_sec"] for r in rs]
        sec = [r["pipeline_sec"] for r in rs]
        return {
            "tps_runs": tps, "sec_runs": sec,
            "tps_median": statistics.median(tps),
            "tps_min": min(tps), "tps_max": max(tps),
            "sec_median": statistics.median(sec),
        }

    result = {
        "ref_commit": args.ref,
        "head_commit": subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"], cwd=str(REPO),
            capture_output=True, text=True,
        ).stdout.strip(),
        "iters": args.iters, "copies": args.copies, "cores": args.cores,
        "window_sec": round(time.time() - t_start, 1),
        "head": summ(runs["head"]),
        "ref": summ(runs["ref"]),
    }
    result["head_over_ref_median"] = round(
        result["head"]["tps_median"] / result["ref"]["tps_median"], 4
    )
    Path(args.out).write_text(json.dumps(result, indent=1))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
