"""SparkSession helpers tuned for the index-build workload.

Local-mode testing uses ``local[N]``; the same settings scale to a real
cluster (AQE handles skewed shuffles at runtime, Arrow feeds the
vectorized tokenizer UDFs).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def apply_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable SQL confs to an existing
    session — for spark-submit jobs whose SparkSession the cluster
    launcher builds (get_spark below applies the same set).

    The InferFiltersFromGenerate exclusion is load-bearing: the rule
    clones the explode's child expression into an inferred pre-filter,
    and our explode child is the whole Catalyst tokenizer — with the
    rule on, every page is tokenized 3x.
    """
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # UTC session timezone is part of the engine contract, not a local-mode
    # nicety: the WARC sink renders warc_ts with a literal 'Z' suffix
    # (warc.py), which falsely stamps local wall time as UTC in any
    # cluster-launched session left on a host timezone
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set(
        "spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    )
    return spark


def get_spark(
    app: str = "search_suite_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # shuffle.partitions sizes the JVM shuffle stages only (AQE coalesces
    # small shuffles back down, so queries don't over-partition). The
    # write path's Python kernels ignore it and run one task per shard
    # slot (segments.shard_slots): every Python task pays a fixed
    # start-up cost whatever its row count — ~0.2-0.3 core·s per
    # mapInArrow task on a 4-core host under Python 3.11, 95% of it in
    # PySpark's per-task importlib.invalidate_caches(), which re-reads
    # pyspark.zip's central directory once per zip importer
    shuffle_partitions = shuffle_partitions or max(2 * cores, 16)
    # shuffle/spill on tmpfs when available: this sandbox's /tmp sits on a
    # slow virtio disk whose concurrent-writer contention dominates wall
    # time; on a real cluster spark.local.dir points at node-local SSDs
    local_dir = os.environ.get("SPARK_LOCAL_DIRS")
    if not local_dir and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
        os.makedirs(local_dir, exist_ok=True)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # InferFiltersFromGenerate clones the generator's child expression
        # into an inferred pre-explode filter (size(e)>0 AND isnotnull(e)).
        # Our generator child is the whole Catalyst tokenizer — the rule
        # makes every page get tokenized 3x (project + 2x in the filter).
        # Empty token arrays are rare (blank docs), so the "optimization"
        # is pure loss here.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
