"""SparkSession factory tuned for the engine.

Scale posture: these defaults are chosen to behave the same on
``local[32]`` (test) and a 1000-executor cluster (target):

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic broadcast conversion replace hand-tuned partition counts.
- ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound; AQE
  coalesces down using ``advisoryPartitionSizeInBytes`` so small SFs don't
  pay 200-task overhead while 100 TB runs still fan out.
- Arrow enabled for every pandas-UDF boundary (the only sanctioned Python
  hot path).
- ``maxPartitionBytes`` left at 128m: at 100 TB that is ~800k input splits,
  which is the right granularity for 1000 executors x 8 cores.
- Python workers fork from the engine's daemon
  (``spark.python.daemon.module`` = ``worker_daemon``): it is
  ``pyspark.daemon`` except that a task no longer re-reads the central
  directory of every unchanged zip on ``sys.path`` (``pyspark.zip``:
  150-290 ms per task on CPython 3.11, paid in every micro-batch).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "incubator-pulsar-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster leave it unset and submit with ``--master``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.daemon.module", "incubator_pulsar_spark.worker_daemon")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, v)
    return b.getOrCreate()


def read_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one testdata parquet, normalizing timestamp encodings.

    Some files store TIMESTAMP(NANOS) which Spark cannot read natively;
    ``nanosAsLong`` maps them to LONG and we truncate to microseconds —
    exactly what DuckDB does on read, so both engines see identical
    values. Integer DIV (not float division) preserves full precision.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df


def ensure_parallelism(df, key=None):
    """Spread a narrow input across the cluster before CPU-heavy per-row
    work (shingling, hashing, vector math).

    Small parquet files arrive as 1-2 input splits, so an explode that
    multiplies each row 100× would otherwise run on one core. At 100 TB
    the input already has ~800k splits and this is a no-op — the check is
    on actual partition count, not data size. ``key`` hash-partitions
    (keeps same-key rows together for downstream aggs); otherwise
    round-robin.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, key) if key is not None else df.repartition(target)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, "object"]:
    """Register every testdata parquet as a temp view; return name→DataFrame.

    On a cluster the same call works against an object-store prefix —
    parquet on object storage IS the engine's tiered storage (the
    reference offloads sealed ledgers to S3/GCS; here data is born there).
    """
    names = [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]
    out = {}
    for n in names:
        path = os.path.join(sf_dir, f"{n}.parquet")
        if os.path.exists(path):
            df = read_table(spark, sf_dir, n)
            df.createOrReplaceTempView(n)
            out[n] = df
    return out
