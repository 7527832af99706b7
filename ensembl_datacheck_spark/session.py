"""SparkSession construction tuned for the validation workload.

Local-mode testing (`local[N]`) with settings that translate to a real
multi-executor cluster: AQE on (runtime shuffle coalescing + skew-join
splitting), Arrow enabled for the vectorized pandas-UDF tier, shuffle
partitions sized to the parallelism level rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Entries of Spark's generated-class cache (CodeGenerator, one LRU per
# JVM; Spark's default is 100).  A long-lived session cycles through a
# fixed set of plans: one default-suite pair (first run + resume)
# compiles about 143 classes and one pass of eight driver queries about
# 157, so at 100 every class missed on every run and was compiled and
# JIT-warmed again.  1000 holds several such working sets.
CODEGEN_CACHE_ENTRIES = 1000

# Engine defaults an operator's spark-submit ``--conf`` overrides.
# AQE numbers whole-stage codegen stages in the order query stages are
# created, which varies between runs of one plan; with the stage id in
# the generated class name the same pipeline misses the cache under a
# new name, so the name is kept id-free.
_CODEGEN_CONF = {
    "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
    "spark.sql.codegen.useIdInClassName": "false",
}


def _submit_conf_keys() -> set[str]:
    """Keys the spark-submit launch already set: its ``--conf`` flags and
    spark-defaults.conf, which the submit passes to the gateway JVM as
    ``spark.*`` system properties."""
    from pyspark import SparkConf, SparkContext

    SparkContext._ensure_initialized()
    return {k for k, _ in SparkConf().getAll()}


def get_spark(
    app_name: str = "ensembl-datacheck-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "24g",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` defaults to ``$SPARK_GRAFT_CPUS`` or ``*``.  In local mode
    the driver JVM is the only process, so ``spark.driver.memory`` is the
    memory knob.  On a real cluster the same code is submitted via
    ``spark-submit --py-files`` (north_rule packaging): the submit owns
    master / deploy-mode / executor sizing, detected here via
    ``PYSPARK_GATEWAY_PORT`` (the gateway JVM spark-submit launched before
    this interpreter).  In that case master and driver-memory are never
    overridden — the JVM already exists, so static confs are immutable —
    and shuffle partitions are only touched when the submit didn't set
    them (``--conf`` wins), defaulting to the larger of Spark's 200 and
    the cluster's real ``sc.defaultParallelism`` (a runtime conf,
    settable post-launch) instead of the driver host's CPU count.  The
    codegen settings (``_CODEGEN_CONF``) follow the same rule: set unless
    the submit set them.
    """
    # spark-submit launches the gateway JVM before the Python driver runs;
    # its presence means resource config belongs to the submit, not us.
    submitted = "PYSPARK_GATEWAY_PORT" in os.environ
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        n_threads = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        n_threads = cores

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # smaller splits -> enough map tasks to feed every core even on
        # medium inputs; AQE coalesces the reduce side back down
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
    )
    submit_keys = _submit_conf_keys() if submitted else set()
    for k, v in _CODEGEN_CONF.items():
        if k not in submit_keys:
            builder = builder.config(k, v)
    if not submitted:
        builder = (
            builder.master(master)
            .config("spark.driver.memory", driver_memory)
            .config("spark.ui.enabled", "false")
        )
        if shuffle_partitions is None:
            shuffle_partitions = max(8, n_threads)
    if shuffle_partitions is not None:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if (submitted and shuffle_partitions is None
            and not spark.sparkContext.getConf().contains(
                "spark.sql.shuffle.partitions")):
        # the operator didn't set it via --conf: scale Spark's 200
        # default UP to the cluster's parallelism, never below it —
        # under dynamic allocation defaultParallelism sampled at startup
        # (before executors register) can be tiny, and AQE only
        # coalesces DOWN from this number
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(max(200, spark.sparkContext.defaultParallelism)))
    spark.sparkContext.setLogLevel("WARN")
    return spark
