"""SparkSession factory with the engine's scale-oriented defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _local_dir() -> str:
    shm = "/dev/shm/spark-local"
    try:
        os.makedirs(shm, exist_ok=True)
        return shm
    except OSError:
        return "/tmp"


def get_spark(
    app: str = "ocr-machine-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build a session with AQE + Arrow on.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` only when the
    program was started with plain ``python``. Under a launcher
    (``spark-submit``, the ``pyspark`` shell) the JVM is already running and
    ``PYSPARK_GATEWAY_PORT`` is set, so an unset ``master`` leaves the
    launcher's ``--master`` in force. All knobs are plain configs so the same
    code ships via ``spark-submit --py-files``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    b = (
        SparkSession.builder.appName(app)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let the planner use shuffled-hash joins when the per-partition
        # build side fits (guide §3.1/§9): the self-equi-joins that dominate
        # the dedup tiers emit 10^2 rows per matching key, and SMJ pays two
        # sorts plus a buffered merge for what a hash probe does in one pass
        # (jaccard pair counting measured 17.5s SMJ → 10.7s SHJ at sf1.0).
        # Sort-merge remains the fallback whenever the build side is large.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch sizing: ~2k rows × ~2KB html ≈ 4MB per batch — big
        # enough to amortize per-batch IPC overhead (measured +17% extraction
        # throughput vs 512), small enough that multi-MB-page corpora stay
        # bounded; override via extra= for fat-payload tables
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # zstd shuffle compression: html/text payloads compress 2-3x better
        # than with lz4, shrinking the non-scaling shuffle I/O component
        .config("spark.io.compression.codec", "zstd")
        # RAM-backed shuffle/spill dirs when available: on a real cluster
        # every executor brings its own local disks (they scale with N);
        # a single shared sandbox disk would fake poor scaling
        .config("spark.local.dir", _local_dir())
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or int(cpus)))
    )
    if not master and "PYSPARK_GATEWAY_PORT" not in os.environ:
        master = f"local[{cpus}]"
    if master:
        b = b.master(master)
    memory = driver_memory(master)
    if memory:
        b = b.config("spark.driver.memory", memory)
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def driver_memory(master: str | None) -> str | None:
    """``spark.driver.memory`` for ``master``: ``SPARK_DRIVER_MEMORY`` on
    any master, else 24g on a local one, else None (the deployment's own
    setting stands; ``None`` is a master the launcher chose).

    In local mode all tasks share ONE JVM, so the "driver" heap is really
    the whole cluster's executor memory — 8g gave each of 32 tasks ~125MB of
    execution memory and the wide-shuffle stages (jaccard pair counting)
    spilled ~0.5GB per stage (r7 measurement). On a cluster the executors
    bring their own memory, so the driver keeps the deployment's size."""
    local = master is not None and (master == "local" or master.startswith("local["))
    return os.environ.get("SPARK_DRIVER_MEMORY") or ("24g" if local else None)
