"""SparkSession factory with the engine's required settings.

- session timezone pinned UTC (the reference's canonical time frame);
- Arrow enabled for the pandas-UDF escape hatches;
- AQE on: runtime partition coalescing + skew-join handling are the default
  scale story for every shuffle this engine emits.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def shuffle_width(spark: SparkSession) -> int:
    """The session's shuffle width, at least 1 (unset reads as 32)."""
    return max(int(spark.conf.get("spark.sql.shuffle.partitions", "32")), 1)


def get_spark(app_name: str = "pypond_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # read TIMESTAMP(NANOS) parquet (unsupported natively) as long nanos;
        # loaders convert with integer division to keep full precision
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # naive-micros parquet must read as plain TIMESTAMP (stored micros ==
        # UTC instant), not TIMESTAMP_NTZ — keeps unix_millis/epoch math valid
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.shuffle.partitions",
                str(shuffle_partitions or 32))
        # distributed file-listing width: the default (10000) launches one
        # task per file when a directory source exceeds the discovery
        # threshold — a 5000-file shard dir costs a 5000-task listing job
        # PER micro-batch (measured ~10s of every stream-ingest drain).
        # 64 listing tasks scan millions of files fine; raise via env for
        # object-store deployments with deeper namespaces.
        .config("spark.sql.sources.parallelPartitionDiscovery.parallelism",
                os.environ.get("SPARK_GRAFT_LISTING_PARALLELISM", "64"))
        # Spark 4.1 writes + verifies a checksum twin for EVERY checkpoint
        # file (spark.sql.streaming.checkpoint.fileChecksum.enabled is on
        # by default): each state-store commit pays a second blocking file
        # create/write/close (measured: stream-stream join drains 2x
        # slower; every stateful drain 20-30% slower).  It detects file
        # corruption, nothing else — results are identical without it.
        # Off by default here; set SPARK_GRAFT_CHECKPOINT_CHECKSUM=true on
        # deployments whose checkpoint store warrants it.
        .config("spark.sql.streaming.checkpoint.fileChecksum.enabled",
                os.environ.get("SPARK_GRAFT_CHECKPOINT_CHECKSUM", "false"))
        # Unload state-store providers of terminated queries promptly: the
        # maintenance tick (default 60s) is also the unload cadence, so a
        # burst of short availableNow drains keeps every predecessor's
        # state maps in heap for up to a minute (measured: the second
        # drain pass ran 20-50% slower from the accumulation).
        .config("spark.sql.streaming.stateStore.maintenanceInterval", "10s")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # no Python call-site capture per Column call (README: 3 py4j
        # round trips per F.col, not 13); analysis errors lose that block
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    # Python-worker daemon that preloads numpy/pandas/pyarrow before
    # forking (see pypond_spark/daemon.py): Spark kills idle Python
    # workers after a HARD-CODED minute, so every Python stage arriving
    # after a quiet minute re-forks its workers — preloading in the
    # daemon makes each re-fork inherit the heavy modules copy-on-write
    # (measured: 32-worker re-fork 1.24 s -> 0.59 s).  The daemon module
    # must be importable from the worker's static PYTHONPATH, hence the
    # executorEnv append.  SPARK_GRAFT_DAEMON=- disables.
    daemon_mod = os.environ.get("SPARK_GRAFT_DAEMON", "pypond_spark.daemon")
    if daemon_mod and daemon_mod != "-":
        pkg_parent = os.path.dirname(os.path.dirname(
            os.path.abspath(__file__)))
        pypath = os.environ.get("PYTHONPATH", "")
        if pkg_parent not in pypath.split(os.pathsep):
            pypath = (pkg_parent + os.pathsep + pypath) if pypath \
                else pkg_parent
        builder = (builder
                   .config("spark.python.daemon.module", daemon_mod)
                   .config("spark.executorEnv.PYTHONPATH", pypath))
    return builder.getOrCreate()
