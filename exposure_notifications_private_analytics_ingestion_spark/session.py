"""SparkSession factory tuned for the ingestion engine.

Local-mode defaults mirror what a 1000-executor deployment would set per
executor: explicit shuffle partitions, AQE on (runtime re-plan + skew-join),
Arrow enabled for every pandas-UDF crossing, UTC session timezone so the
DuckDB oracle comparison is byte-stable.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def sql_function(spark: SparkSession, name: str, udf) -> str:
    """``name``, registered as a temporary SQL function of ``spark`` that
    runs ``udf`` unless the session already has it, so a statement built
    per window does not re-register (and re-ship) the same function."""
    if not spark.catalog.functionExists(name):
        spark.udf.register(name, udf)
    return name


def iceberg_confs(warehouse: str = "/tmp/enpa-iceberg-warehouse") -> dict[str, str]:
    """Session confs for a local Iceberg hadoop catalog — applied by
    ``get_spark`` automatically when an iceberg-spark-runtime jar is found
    (``plans.tables.iceberg_jar``); a no-op dict otherwise. Keeping this a
    probe (not a hard dependency) mirrors the spark-avro classpath probe in
    ``functions/avro_codec.py``: the engine uses the real thing when the
    environment has it and a documented parquet fallback when it doesn't."""
    from .plans.tables import iceberg_jar

    jar = iceberg_jar()
    if not jar:
        return {}
    return {
        "spark.jars": jar,
        "spark.sql.extensions":
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
        "spark.sql.catalog.local": "org.apache.iceberg.spark.SparkCatalog",
        "spark.sql.catalog.local.type": "hadoop",
        "spark.sql.catalog.local.warehouse": warehouse,
    }


def get_spark(
    app_name: str = "enpa-spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a session.

    ``cores`` may be an int (→ ``local[n]``) or a full master URL. On a real
    cluster the master comes from spark-submit and this builder only sets
    SQL-level configs, which are master-agnostic.
    """
    from pyspark import SparkConf

    # Under spark-submit the master arrives as spark.master in the launch
    # conf (java system properties); overriding it here would silently turn
    # a cluster submission into local mode. Only pick a local[n] master when
    # the caller asked for one or nothing was submitted.
    submitted_master = SparkConf().get("spark.master", None)
    if cores is None and submitted_master:
        master = submitted_master
        cores = os.environ.get("SPARK_GRAFT_CPUS", "32")
    else:
        if cores is None:
            cores = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = (
            cores if isinstance(cores, str) and "[" in str(cores) else f"local[{cores}]"
        )
    n = shuffle_partitions or (int(cores) if str(cores).isdigit() else 32)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # parquet timestamps → TIMESTAMP_LTZ (session tz = UTC), so event-time
        # functions (unix_micros, window, session_window) behave like the
        # reference's epoch-ms arithmetic and like DuckDB's naive-UTC
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
        # header/digest aggregations produce many small collect_list groups;
        # the default 128-key threshold makes ObjectHashAggregate fall back
        # to sort-based + spill (measured 7.5× slower at 32 threads on one
        # disk). Groups are batch-bounded, so the hash map stays small.
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "131072")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in iceberg_confs().items():
        b = b.config(k, v)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
