"""SparkSession factory.

Arrow on, AQE on, UTC session timezone (keeps timestamp semantics
aligned with the DuckDB oracle, which reads the same parquet files as
naive-UTC), shuffle partitions sized to local cores instead of the
200 default.  At cluster scale the same builder is used with
``--master yarn``/``k8s`` and per-executor memory settings; nothing
here is local-mode specific except the defaults.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "wtq",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("WTQ_MASTER", "local[%s]" % os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # local[N] → match shuffle partitions to parallelism; cluster → leave to AQE
    if shuffle_partitions is None:
        n = master[len("local[") : -1] if master.startswith("local[") else ""
        shuffle_partitions = int(n) if n.isdigit() else 32

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
        .config("spark.driver.memory", os.environ.get("WTQ_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Python workers fork from wtq/daemon.py: imports preloaded and
        # frozen out of the per-task gc, no per-task zip directory re-read
        .config("spark.python.daemon.module", "wtq.daemon")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
