"""KG-construction benchmark: one workload, one seed, one JSON result.

    python3 kgbench/run.py --workload kg_redundant --seed 1 --seconds 10 --trace 0

Run from the repository root. The run stages the seeded inputs as
parquet under .kgbench_work/, starts a local[nproc] Spark session with
the benchmark's own settings, then builds the KG with `run_pipeline`
in a closed loop (one client, next build after the previous one ends)
for at least --seconds and at least one build. After the loop it gates
the last build's outputs (gate.py) and prints, as the last line of
stdout, {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1 (spans
and executor figures per span, see spans.py). The line before it is
the run's provenance (machine, versions, seed, input sizes).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
# the benchmark's own modules, then the engine at the checkout root
sys.path[:0] = [str(HERE), str(HERE.parent)]


def _parse() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _ram_mb() -> int:
    with open("/proc/meminfo") as f:
        return int(f.readline().split()[1]) // 1024


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _reset_hwm(pid: int | str) -> bool:
    """Reset a process's VmHWM to its current RSS."""
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")
        return True
    except OSError:
        return False


def _prepare_env(work: Path) -> None:
    """Keep every file the run writes inside the checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def _jvm_options(mem_mb: int) -> str:
    """A fixed-size heap with a fixed young generation under the
    parallel collector: peak RSS then tracks the young generation plus
    what gets promoted, instead of G1's run-to-run heap resizing."""
    return f"-XX:+UseParallelGC -Xms{mem_mb}m -Xmn{mem_mb // 4}m"


def _session(work: Path, cores: int, mem_mb: int):
    from veealign_spark.session import get_spark

    return get_spark(
        "kgbench",
        cores=cores,
        extra_conf={
            "spark.driver.memory": f"{mem_mb}m",
            "spark.driver.extraJavaOptions": _jvm_options(mem_mb),
            "spark.local.dir": str(work / "local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # keep every job and stage in the status store for the fold
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def _commit() -> str:
    """HEAD of the checkout the engine was imported from, if it is a
    git work tree of its own."""
    if not (HERE.parent / ".git").exists():
        return "unknown"
    try:
        out = subprocess.run(
            ["git", "-C", str(HERE.parent), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
        return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main() -> int:
    args = _parse()
    t0 = time.perf_counter()
    # one BLAS thread per Python process, set before numpy loads: the
    # driver-side kernel layer is measured single-threaded, and the
    # executors' workers (which inherit it) run one task per core
    os.environ["OPENBLAS_NUM_THREADS"] = os.environ["OMP_NUM_THREADS"] = "1"
    try:
        import pyspark  # noqa: F401

        import veealign_spark  # noqa: F401
    except ImportError as exc:
        print(f"kgbench: the engine is not importable here ({exc}); "
              "run from the repository root", file=sys.stderr)
        return 2
    import inputs
    import workload

    if args.workload not in inputs.SPECS:
        print(f"kgbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(inputs.SPECS)}", file=sys.stderr)
        return 2
    import_s = time.perf_counter() - t0

    work = HERE.parent / ".kgbench_work" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)
    cores = len(os.sched_getaffinity(0))
    ram = _ram_mb()
    mem_mb = min(4096, ram // 3)

    # the inputs and the gate's references are made before set-up starts,
    # so that set-up is the session's start and warm-up alone
    prepared = workload.prepare(args.workload, args.seed, work / "input", 4 * cores)
    t1 = time.perf_counter()
    spark = _session(work, cores, mem_mb)
    t2 = time.perf_counter()
    try:
        workload.warmup(spark)
        t3 = time.perf_counter()
        run = workload.Run(spark, prepared, work / "input", trace=bool(args.trace))
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        # peak RSS of the loop alone: not staging, not the gate's oracle
        peaks_reset = all([_reset_hwm(jvm_pid), _reset_hwm("self")])
        run.loop(args.seconds)
        t4 = time.perf_counter()
        peak_rss_mb = _hwm_mb(jvm_pid) + _hwm_mb("self")
        run.gate()
        t5 = time.perf_counter()
        start_s, warmup_s = import_s + (t2 - t1), t3 - t2
        if args.trace:
            metrics = run.layer_metrics()
            metrics["session.start_s"] = (start_s, "s")
            metrics["session.warmup_s"] = (warmup_s, "s")
        else:
            metrics = run.end_to_end_metrics()
            metrics["setup_s"] = (start_s + warmup_s, "s")
            metrics["peak_rss_mb"] = (peak_rss_mb, "MB")
    finally:
        _stop(spark)

    provenance = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": cores, "ram_mb": ram,
        "driver_memory_mb": mem_mb, "jvm_options": _jvm_options(mem_mb),
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0], "commit": _commit(),
        "inputs": run.sizes, "builds_s": run.build_times, "errors": run.errors,
        "peak_rss_reset": peaks_reset,
        "phases_s": {"imports": import_s, "inputs": prepared["prepare_s"],
                     "session": t2 - t1, "warmup": t3 - t2,
                     "loop": t4 - t3, "gate": t5 - t4},
    }
    (work / "trace.json").write_text(json.dumps(
        {"provenance": provenance, "spans": run.tracer.to_json() if run.tracer else []}
    ))
    print(json.dumps({"provenance": provenance}))
    print(json.dumps({
        "correct": not run.errors,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
    }))
    return 0 if not run.errors else 1


if __name__ == "__main__":
    sys.exit(main())
