"""SparkSession factory tuned for this engine.

Local sandbox runs on ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the same
configs are the ones we would ship in spark-defaults for a multi-executor
cluster: AQE on (runtime re-plan + skew-join splitting), Arrow on (every
Python crossing is a pandas UDF), shuffle partitions sized to the
parallelism rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

def get_spark(
    app_name: str = "genegraph_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    On a real cluster the caller passes no master and spark-submit decides.
    """
    from pyspark import SparkConf

    # conf spark-submit/--conf already provided — NEVER overridden below.
    # Precedence: explicit function args > submitted conf > these defaults.
    submitted = SparkConf()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None and not submitted.contains("spark.master"):
        # an explicit `master` arg wins; else a submitted --master (cluster
        # deploys); else the local sandbox default
        master = f"local[{cpus}]"

    defaults = {
        # local mode: one shuffle partition per core is the sweet spot;
        # at cluster scale this is set per-job from input size / target
        # 128MB partitions, and AQE coalesces the rest.
        "spark.sql.shuffle.partitions": str(cpus),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # token-level rows are narrow ints but CPU-dense: the 64MB default
        # advisory packs millions of rows per coalesced partition and
        # starves cores; 8MB keeps post-shuffle parallelism ≥ cores.
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
        # sandbox inputs are small files: the 128m/4m defaults bin a whole
        # multi-file table into a handful of input splits, capping the
        # scan→mapInPandas stage's parallelism below the core count (the
        # round-1 scaling bottleneck). At 100 TB the defaults are right —
        # there, files are 100s of MB and splits outnumber cores anyway;
        # a cluster deploy overrides via --conf, which always wins here.
        "spark.sql.files.maxPartitionBytes": "4m",
        "spark.sql.files.openCostInBytes": "1m",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # per-DataFrame-call Python call-site capture (enriched error
        # contexts) costs an inspect.stack() walk + TWO extra py4j round
        # trips on EVERY DataFrame API call — measured ~2.2s of a 6.4s
        # SPARQL construct compile and ~a third of all py4j traffic in
        # plan-construction-heavy paths (the GDM corpus chain issues
        # ~14k calls per construct). Production engines trade the
        # debug-context frill for compile latency.
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        # smaller Arrow batches → the JVM feeder thread overlaps with the
        # Python worker instead of alternating (a partition is otherwise
        # a single batch: feed, wait, compute, wait)
        "spark.sql.execution.arrow.maxRecordsPerBatch": "2000",
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # deterministic Python hashing inside any UDF that uses hash()
        "spark.executorEnv.PYTHONHASHSEED": "0",
        # sandbox: shuffle/checkpoint to RAM-backed tmpfs — the VM's
        # shared block device has wildly variable throughput; a real
        # cluster uses node-local NVMe for exactly the same reason
        "spark.local.dir": os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark_local"),
    }
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    for k, v in defaults.items():
        if not submitted.contains(k):
            builder = builder.config(k, v)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
