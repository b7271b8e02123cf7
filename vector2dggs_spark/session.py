"""SparkSession factory with the engine's scale-oriented defaults."""
from __future__ import annotations

import os

from pyspark.sql import SparkSession


def under_spark_submit() -> bool:
    """True when a spark-submit-launched JVM gateway already exists (the
    deploy path: ``spark-submit --master <cluster> --py-files ...``).
    In that case the master, deploy mode, and driver memory were fixed by
    the submit command and MUST NOT be overridden here — a hard-coded
    ``.master(local[N])`` would silently turn a YARN/k8s submission into
    a single-node run."""
    return "PYSPARK_GATEWAY_PORT" in os.environ


def _default_driver_memory() -> str:
    """Half of this machine's RAM, at most 24g: a fixed 24g heap on a
    smaller machine lets the local-mode JVM grow until the OOM killer
    stops it.  Falls back to 24g where /proc/meminfo is unreadable."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return "24g"
    return f"{min(24 * 1024, kb // 2048)}m"


def get_spark(cores: int | None = None, app: str = "vector2dggs_spark", shuffle_partitions: int | None = None) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    # one BLAS thread per Python UDF worker: with N concurrent workers,
    # library-default threading spawns N*ncores BLAS threads — measured
    # 3x slowdown on the Arrow near-dup matmuls at local[32] (55.9 s ->
    # 19.6 s with OMP_NUM_THREADS=1).  Applies to forked local-mode
    # workers via the driver env and to cluster executors via
    # spark.executorEnv.*; explicit user settings win.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    builder = (
        SparkSession.builder.appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Hive partition values like geohash "204" must stay strings
        # (reference common.py:300-305; SURVEY.md §1.2)
        .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
        .config("spark.executorEnv.OMP_NUM_THREADS", os.environ["OMP_NUM_THREADS"])
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", os.environ["OPENBLAS_NUM_THREADS"])
        .config("spark.executorEnv.MKL_NUM_THREADS", os.environ["MKL_NUM_THREADS"])
        .config("spark.ui.enabled", "false")
    )
    if not under_spark_submit():
        # standalone/driver-side invocation (tests, bench, python -m):
        # local mode with the requested parallelism
        builder = builder.master(f"local[{cores}]").config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
    return builder.getOrCreate()
