"""SparkSession factory — one place for every scale-relevant config knob.

All sessions pin UTC + Arrow; shuffle partitions default to the core count
(local mode) rather than Spark's 200 so small-SF runs don't over-parallelize.
At cluster scale callers pass ``shuffle_partitions`` sized to the data
(~128 MB per post-shuffle partition).  The same setting sizes the pipeline's
corpus fan-out unless ``PipelineConfig.num_partitions`` overrides it
(kgx.io.source.repartition_corpus).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# on a 96 GB host the 2.4M-file corpus measured 535 s of GC thrash with a
# 16g heap at local[32], and 96g halved its local[8] wall versus 48g
_MAX_DRIVER_GIB = 96


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Local-mode driver heap: 3/4 of the host's ``MemTotal`` in whole GiB,
    capped at 96g (also the answer when ``meminfo`` cannot be read)."""
    try:
        with open(meminfo) as f:
            kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration, IndexError, ValueError):
        return f"{_MAX_DRIVER_GIB}g"
    gib = kib * 3 // 4 // (1 << 20)
    return f"{max(1, min(gib, _MAX_DRIVER_GIB))}g"


def get_spark(
    app_name: str = "kgx",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with kgx defaults.

    master defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, fallback: the
    host's core count); on a real cluster spark-submit supplies it and this
    arg is None.
    """
    cores = os.cpu_count() or 1
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", str(cores))
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        if master == "local":  # Spark runs a bare "local" on one core
            n = "1"
        else:
            n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        if master.startswith("local-cluster"):
            # local-cluster[N, cores, mem]: total cores = N * cores
            parts = [int(x) for x in n.split(",")[:2]]
            shuffle_partitions = max(8, parts[0] * parts[1])
        else:
            shuffle_partitions = max(8, cores if n == "*" else int(n))

    # local-cluster[N, cores, mem_mb]: real separate executor JVMs on one
    # host — the faithful in-sandbox proxy for "N vs 4N executors" (each
    # executor owns its heap/GC/python workers, so per-executor behavior is
    # width-invariant; only cross-executor coordination varies)
    is_local_cluster = master.startswith("local-cluster")
    # every executor lives on ONE host in both local modes, so delaying a
    # task up to the default 3 s for NODE/PROCESS locality buys nothing and
    # measurably idles slots at stage starts (localCheckpoint blocks carry
    # PROCESS_LOCAL preferences; measured 177 s vs 230 s wall at 4x2-core
    # executors on the 4.8M corpus).  A real multi-node cluster should keep
    # the default — spark-submit there passes master=None and its own conf.
    single_host = master.startswith(("local", "local-cluster"))

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # content strings are fat: cap Arrow batch rows so executor-python
        # transfer stays within memory at 8 KB/doc × batch
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # smaller scan splits -> enough input tasks to feed every core even
        # on a GB-scale corpus file (cluster default 128m is for TB scans)
        .config("spark.sql.files.maxPartitionBytes", "32m")
        .config("spark.ui.enabled", "false")
        # local mode = driver-only: the heap holds every concurrent task
        # buffer + localCheckpoint blocks, so it gets as much of the host
        # as is safe (see default_driver_memory)
        .config(
            "spark.driver.memory",
            os.environ.get(
                "KGX_DRIVER_MEM", "8g" if is_local_cluster else default_driver_memory()
            ),
        )
        # throughput collector: G1's pause-time targeting churns on this
        # allocation-heavy batch workload (1324s GC vs ~400s Parallel at 32
        # threads on the 2.4M-file corpus).  KGX_DRIVER_JAVA_OPTS appends
        # further flags (GC sizing experiments; see OPTIMIZATION_r07.md).
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("KGX_DRIVER_JAVA_OPTS", "-XX:+UseParallelGC"),
        )
    )
    if single_host:
        b = b.config("spark.locality.wait", "0s")
    if is_local_cluster:
        b = b.config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
        # executor python workers spawn in executor work dirs, not the repo
        # cwd — ship the package path explicitly (same role as
        # spark-submit --py-files in jobs/run_pipeline.py)
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        b = b.config("spark.executorEnv.PYTHONPATH", repo_root)
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
