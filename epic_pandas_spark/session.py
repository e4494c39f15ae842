"""SparkSession factory.

One place to pin the configs that matter for both the local[32] test
harness and a real multi-executor cluster:

- AQE on (runtime coalescing, skew-join splitting) — the 100 TB safety net.
- shuffle.partitions sized to cores locally; on a cluster AQE re-coalesces.
- Arrow on, so pandas_udf / applyInPandas / toPandas use columnar batches.
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle (DuckDB timestamps are UTC-naive).
- Stream checkpoints on a ``local[...]`` master go through Hadoop's
  FileSystem API, not FileContext: without libhadoop, every FileContext
  rename forks a ``readlink`` per checkpoint file (see ``get_spark``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """Half of physical RAM, capped at 16g, so the default driver heap
    fits the host it runs on."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(16 * 1024, ram_mb // 2)}m"


def get_spark(
    app_name: str = "epic_pandas_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or local[*]).
    On a real cluster, pass ``master=None`` with spark-submit providing the
    master URL, or set it explicitly.

    On a ``local[...]`` master, stream checkpoints (offset and commit
    logs, state-store deltas, the file-sink log) are written by Spark's
    ``FileSystemBasedCheckpointFileManager`` instead of the default
    FileContext one. Without the native Hadoop library, FileContext's
    rename asks ``RawLocalFileSystem.getFileLinkStatus``, which forks a
    ``readlink`` process for every checkpoint file; the FileSystem
    manager does the same existence check and rename without them. On
    ``file:`` paths both give the same guarantee, because FileContext's
    rename reaches the same ``FileSystem.rename`` through
    ``DelegateToFileSystem``. Other masters keep Spark's default.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus_s = os.environ.get("SPARK_GRAFT_CPUS", "")
        shuffle_partitions = int(cpus_s) if cpus_s.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # scan-split size: Spark's 128MB default assumes many files per
        # query; a local harness reading a handful of big parquet files
        # gets starved (a 1.7GB file -> 14 scan tasks on 32 cores left
        # q1 at 63s; 32MB splits -> 36 tasks -> 7.7s). On a real cluster
        # raise it back via SPARK_GRAFT_MAX_PARTITION_BYTES — with
        # thousands of input files per 100 TB scan, bigger splits
        # amortize task overhead and the default is right.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(32 * 1024 * 1024)),
        )
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", default_driver_memory()),
        )
        # driver testdata writes events.ts as parquet timestamp[ns], which
        # Spark's vectorized reader rejects; read as long and convert in
        # load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
    )
    if master.startswith("local["):
        # local disk only: a cluster master keeps Spark's FileContext
        # manager, whose atomic rename HDFS provides natively
        builder = builder.config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one driver-generated parquet table (TESTDATA.md).

    events.ts has shipped as parquet timestamp[ns] in some driver testdata
    generations and timestamp[us] (tz-naive) in others; normalize BOTH to a
    plain UTC TIMESTAMP so downstream `unix_micros`/window arithmetic never
    sees a LongType or TIMESTAMP_NTZ surprise:

    - ns → read as long (nanosAsLong), integer-div to µs (float division
      would corrupt the microsecond digit at ~1.7e18), timestamp_micros;
    - tz-naive µs → Spark 4 infers TIMESTAMP_NTZ; cast to timestamp —
      lossless because the session timezone is pinned UTC, and it matches
      DuckDB's naive-UTC read of the same file."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if name == "events":
        # set at runtime too: the caller may hand us a session built
        # without the factory (e.g. the driver's own harness session),
        # and the ns-timestamp parquet is unreadable without it
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        dt = df.schema["ts"].dataType
        if isinstance(dt, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(dt, T.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def reset_session_state(spark: SparkSession) -> None:
    """Release every persisted RDD (the localCheckpoint blocks operators
    leave behind), so a long session does not accumulate finished queries'
    blocks in the block manager."""
    for rdd in dict(spark.sparkContext._jsc.getPersistentRDDs()).values():
        rdd.unpersist(True)  # blocking: no removal racing the next query
