"""SparkSession factory tuned for the engine.

Local mode is the sandbox proxy for a multi-executor cluster: the same
settings (AQE, adaptive skew join, Arrow batches, explicit shuffle
partition counts) are the ones that matter at 1000-executor scale; only
master/memory change between local[N] and a real cluster submit.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory(ram_bytes: int | None = None) -> str:
    """The driver heap when SPARK_DRIVER_MEM is unset: min(16g, RAM/3)
    of this machine's physical memory (local mode runs every executor
    inside the driver JVM, and a heap larger than the box lets a second
    JVM beside it push the machine out of memory)."""
    if ram_bytes is None:
        ram_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(16 * 1024, ram_bytes // 3 // 2**20)}m"


def get_spark(
    app_name: str = "veealign_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    use_existing_master: bool = False,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores defaults to $SPARK_GRAFT_CPUS (driver contract) else all.
    shuffle_partitions defaults to the core count — at cluster scale
    this would instead be ~2-3x total executor cores, or left to AQE
    coalescing from a higher initial value.

    use_existing_master=True leaves the master to spark-submit (the
    cluster entrypoint path) instead of forcing local[N].
    """
    if use_existing_master and cores is None:
        # size parallelism knobs to the submitted master when it's a
        # local[N] (cluster masters fall back to the env/cpu default);
        # the submitted master only exists JVM-side, so ask the gateway
        import re as _re

        from pyspark import SparkContext

        gw = SparkContext._gateway or SparkContext._ensure_initialized() or SparkContext._gateway
        try:
            master = gw.jvm.org.apache.spark.SparkConf().get("spark.master", "")
        except Exception:
            master = ""
        m = _re.fullmatch(r"local\[(\d+)\]", master or "")
        if m:
            cores = int(m.group(1))
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 4)

    builder = SparkSession.builder
    if not use_existing_master:
        builder = builder.master(f"local[{cores}]")
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Make veealign_spark importable on executors regardless of the
    driver's cwd: zip the package and addPyFile it. On a real cluster
    the same artifact goes to `spark-submit --py-files` (north_rule
    entrypoint); this keeps local runs and cluster submits identical.
    """
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(tempfile.gettempdir(), "veealign_spark_pkg.zip")
    try:
        with zipfile.ZipFile(zip_path, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        rel = os.path.join(
                            "veealign_spark", os.path.relpath(full, pkg_dir)
                        )
                        zf.write(full, rel)
        spark.sparkContext.addPyFile(zip_path)
    except Exception:  # pragma: no cover - best effort; cwd fallback
        pass


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
