"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[N]``; on a real cluster the same builder
runs unmodified under ``spark-submit --py-files`` — every knob here is
either scale-neutral (AQE, Arrow) or derived from the cpu count.

Fixed cost per python task: every task that runs a python UDF
(pandas_udf, mapInPandas, applyInPandas) costs ~0.3 s of wall per task
slot before the UDF starts. Measured on a 4-vCPU host, local[4]: a
trivial pandas_udf over 4, 16 and 64 partitions took 0.33-0.35 s per
task longer than the same job without it. Most of it is PySpark's
worker calling ``importlib.invalidate_caches()`` once per task, which
makes every zip importer over ``pyspark.zip`` re-read the archive
directory (~0.15 s per call in one process). On small inputs this, not
the rows, dominates a stage, so count the python tasks a new stage adds
to each ``run_corpus`` pass (partitions x python stages) as its cost,
and keep dictionary-sized python work in ``run_dictionary``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "careers_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cpus: parallelism for local mode (defaults to $SPARK_GRAFT_CPUS or '*').
    shuffle_partitions: defaults to max(cpus, 32) locally; on a real
    cluster AQE coalescing makes the static value non-critical.
    """
    if cpus is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        n = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cpus}]"
        n = cpus
    if shuffle_partitions is None:
        shuffle_partitions = max(n, 8)

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # 6g measured sweet spot on this workload: G1 on a 48g heap burns
        # 2-3x CPU (sweep at local[32], 1M convs: 4g=56s, 8g=76s,
        # 16g=112s, 48g=195s); broadcast dims are heap-guarded anyway
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "6g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
