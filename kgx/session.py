"""SparkSession factory — one place for every scale-relevant config knob.

All sessions pin UTC + Arrow; shuffle partitions default to the core count
(local mode) rather than Spark's 200 so small-SF runs don't over-parallelize.
At cluster scale callers pass ``shuffle_partitions`` sized to the data
(~128 MB per post-shuffle partition).  The same setting sizes the pipeline's
corpus fan-out unless ``PipelineConfig.num_partitions`` overrides it
(kgx.io.source.repartition_corpus).
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "kgx",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with kgx defaults.

    master defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, fallback 32) in the
    sandbox; on a real cluster spark-submit supplies it and this arg is None.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        if master.startswith("local-cluster"):
            # local-cluster[N, cores, mem]: total cores = N * cores
            parts = [int(x) for x in n.split(",")[:2]]
            shuffle_partitions = max(8, parts[0] * parts[1])
        else:
            shuffle_partitions = 32 if n == "*" else max(8, int(n))

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
        # local mode = driver-only: the heap must hold 32 concurrent task
        # buffers + localCheckpoint blocks; 16g measured 535s of GC thrash
        # (3× task-time inflation) on the 2.4M-file corpus at local[32],
        # and 48g still left 148s of task GC at local[8] (vs 10s at
        # local[2]) — 96g halves local[8] wall on the scaling corpus
        .config(
            "spark.driver.memory",
            os.environ.get("KGX_DRIVER_MEM", "8g" if is_local_cluster else "96g"),
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
    if (
        os.environ.get("KGX_SESSION_WARM", "1") != "0"
        and spark.conf.get("kgx.session.warmed", None) is None
    ):
        _warm_session(spark)
        spark.conf.set("kgx.session.warmed", "1")
    return spark


def _warm_session(spark: SparkSession) -> None:
    """One ~2 s framework warm-up per fresh session, over synthetic ranges.

    HotSpot/classloader first-use costs — whole-stage codegen compilation,
    shuffle + broadcast machinery, the window path, and the Arrow python
    worker spawn — otherwise bill themselves to the first REAL jobs of the
    session: event logs show ~9 s of the pipeline's serial floor is this
    one-time tax (first tiny lexicon job 4.0 s, first broadcast build
    5.6 s, first python stage +2-3 s of worker spawn — all for
    milliseconds of actual work).  Warming at session creation charges it
    to setup, where it belongs: the same measure-the-engine rationale as
    bench.py's untimed ``_warm_page_cache``.  No input data is touched and
    nothing is cached — this computes over ``spark.range`` literals only.
    Opt out with KGX_SESSION_WARM=0.
    """
    try:
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        df = spark.range(0, 1 << 14).select(F.col("id"), (F.col("id") % 53).alias("k"))
        small = spark.range(0, 53).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        w = Window.partitionBy("k").orderBy("id")
        (
            df.join(F.broadcast(small), "k")
            .withColumn("rn", F.row_number().over(w))
            .groupBy("k")
            .agg(F.sum("rn").alias("s"))
            .write.format("noop").mode("overwrite").save()
        )

        @F.pandas_udf("long")
        def _identity(x):
            return x

        spark.range(0, 64).select(_identity(F.col("id")).alias("y")).write.format(
            "noop"
        ).mode("overwrite").save()
    except Exception as e:  # pragma: no cover - warm-up must never fail a session
        logging.getLogger(__name__).warning("session warm-up failed, continuing cold: %r", e)
