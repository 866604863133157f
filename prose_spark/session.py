"""SparkSession factory with scale-aware defaults.

Local testing runs on local[N]; the same config block is what we'd ship in
spark-submit --conf for a multi-executor cluster (AQE on, Arrow on, skew
join on). Shuffle partitions default to the local core count; on a real
cluster AQE coalesces post-shuffle partitions so a high initial number is
safe.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "prose_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or (os.cpu_count() or 8)
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Long documents x wide nested outputs: bound Arrow batch size so a
        # Python worker never holds more than ~2k docs at once.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# applicationId -> whether the Iceberg runtime is on the JVM classpath
_ICEBERG_ON_CLASSPATH: dict[str, bool] = {}


def iceberg_on_classpath(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime is on the driver's classpath.
    A resource lookup returns null instead of throwing (a Class.forName
    probe costs a Java exception plus its PySpark conversion, ~60 ms, on
    every call), and the answer is cached per application: the
    classpath does not change while the JVM lives."""
    app = spark.sparkContext.applicationId
    if app not in _ICEBERG_ON_CLASSPATH:
        loader = spark._jvm.org.apache.spark.util.Utils \
            .getContextOrSparkClassLoader()
        _ICEBERG_ON_CLASSPATH[app] = loader.getResource(
            "org/apache/iceberg/spark/SparkCatalog.class") is not None
    return _ICEBERG_ON_CLASSPATH[app]
