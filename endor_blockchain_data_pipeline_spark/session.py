"""SparkSession factory with scale-oriented defaults.

Analog of the reference's ``SparkApplication.scala:76-78`` (session bootstrap)
and ``infra/spark/package.scala:8-16`` (shuffle-partition tuning), but tuned
for Spark 4.x: AQE on (runtime coalescing + skew-join splitting), Arrow
execution for the pandas-UDF paths, UTC session timezone so results agree
with external oracles, and dynamic partition overwrite for bucket rewrites.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "endor-cdc-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config.

    At cluster scale the same confs apply unchanged; only ``master`` and
    ``spark.sql.shuffle.partitions`` (sized ~2-3x total cores, AQE coalesces
    down) differ. All settings are plain Spark — nothing proprietary.
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    nshuffle = shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", DEFAULT_SHUFFLE_PARTITIONS))
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime shuffle coalescing + skew-join splitting (replaces the
        # reference's manual setShufflePartitions, infra/spark/package.scala:8-16)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(nshuffle))
        # Arrow batch transfer for every pandas_udf / applyInPandas path.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic timestamp semantics (oracle parity with DuckDB).
        .config("spark.sql.session.timeZone", "UTC")
        # MERGE rewrites only affected bucket directories.
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # Keep scheduler quiet in tests.
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # Manifest reads hand the scan an explicit file list. Past the stock
        # 32 paths Spark re-lists them in a parallel job (one task per path);
        # listing on the driver is cheaper up to at least 4096 paths. Plan
        # time of a read of N small parquet files, 4-core VM, local[4],
        # median of 7 (ms):
        #
        #   paths           48   128   512  1024  2048  4096
        #   parallel job   416   891  2974  5308  8300 15013
        #   driver          51    67   142   286   489   811
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
        # Local mode: generous driver memory (the sandbox has 128 GiB).
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        # Shuffle/spill scratch on tmpfs: the sandbox's single virtio disk
        # throttles concurrent shuffle writers; production clusters put this
        # on local NVMe. Override with SPARK_LOCAL_DIRS for disk-backed runs.
        .config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark-scratch"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def stop_spark() -> None:
    """Stop the active session (needed to switch master, e.g. in bench).

    No private-API pokes: in PySpark 4 ``SparkSession.builder`` is a
    classproperty minting a FRESH Builder per access, so once the active
    session (and its JVM context) stops, the next ``get_spark`` call's
    builder carries only its own config — a new master is picked up
    cleanly."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
