"""SparkSession factory tuned for the engine.

Scale posture (100 TB / 1000-executor design, tested on local[N]):
- AQE on (runtime coalesce + skew-join splitting) — the north rule names
  hot-url skew explicitly.
- UTC session timezone so timestamps compare bit-for-bit against DuckDB
  oracles and the reference's UtcTimestamp semantics
  (Influxer/GenericFile.cs:85, ParseTimestamp :117-138).
- Arrow enabled for pandas UDFs (extraction / Gorilla encode are
  Arrow-vectorized per BASELINE.json input_hint: "no per-row Python").
- shuffle.partitions sized to cores locally; on a real cluster this is
  superseded by AQE coalescing from an intentionally-high initial value.
- PySpark's per-call origin capture off
  (``spark.python.sql.dataFrameDebugging.enabled=false``).  With it on,
  every ``pyspark.sql.functions`` call walks the Python stack and makes
  extra py4j round trips (active session, conf read, origin set and clear)
  to record its call site; planning one InfluxQL statement makes hundreds
  of such calls.  The only loss is the Python call-site "DataFrame query
  context" in Spark runtime errors; the engine's own errors
  (``InfluxQLError``) do not use it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "influxer_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or 32 (the driver's harness runs
    local[$SPARK_GRAFT_CPUS]).  On a real cluster, master is taken from the
    environment (spark-submit) and the local[] master here is ignored.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)

    builder = SparkSession.builder.appName(app_name)
    # honour spark-submit: only default to local[N] when no master was set
    # by the launcher (code-level .master() would override --master and pin
    # a cluster submission to local mode)
    from pyspark import SparkConf

    if "SPARK_GRAFT_MASTER" in os.environ:
        builder = builder.master(os.environ["SPARK_GRAFT_MASTER"])
    elif (
        # spark-submit (PythonRunner) pre-launches the JVM gateway and
        # carries --master in it; SparkConf(loadDefaults=True) does NOT
        # surface that conf on Spark 4 (measured: empty), so the gateway
        # env var is the reliable "launched by spark-submit" signal —
        # setting .master() here would pin a cluster submission to local
        "PYSPARK_GATEWAY_PORT" not in os.environ
        and not SparkConf(loadDefaults=True).contains("spark.master")
    ):
        builder = builder.master(f"local[{cores}]")
    builder = (
        builder
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # parquet scan batching: keep whole-stage codegen fed
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # metastore-backed (bucketed) tables land outside the repo
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/influxer_warehouse"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
