"""SparkSession factory.

The reference job hardcoded ``spark.sql.shuffle.partitions=4`` and *disabled*
AQE (reference: spark/jobs/validate_json.py:39-45) — a debugging choice that
does not survive scale. We do the opposite: AQE on (runtime partition
coalescing, skew-join splitting, dynamic join selection) and a shuffle
partition count sized for the local harness but overridable for a real
cluster.

Session timezone is pinned to UTC so event-time semantics are stable and
results are comparable with the DuckDB oracle (naive timestamps).

Streaming checkpoints (offset log, commit log, source log, state-store
deltas) are committed through ``FileSystemBasedCheckpointFileManager``
instead of Spark's default ``FileContextBasedCheckpointFileManager``. Both
write a temp file and rename it into place; the files and their ``.crc``
sidecars are the same bytes, only the rename call differs. The default
manager's ``FileContext.rename`` checks the destination with
``getFileLinkStatus``, which on local disk without Hadoop's native library
starts a ``stat``/``readlink`` child process per call — hundreds per
micro-batch, growing with the state partition count. The file-system
manager's local rename is ``java.io.File.renameTo``, one POSIX
``rename(2)``. It is as safe:

- on local disk the default manager also checks the destination and then
  renames, so both have the same window between check and rename;
- on HDFS ``FileSystem.rename`` is atomic and refuses to overwrite, so a
  second writer of an offsets or commits file still fails;
- on object stores neither manager renames atomically, and on ``gs://``
  Spark already falls back to this manager when no ``AbstractFileSystem``
  is bound for the scheme.

A vanilla session keeps Spark's default manager; checkpoints move freely
between the two, since the files are the same.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

#: the checkpoint manager every streaming query of a ``get_spark`` session
#: commits through (Spark 4.1 class path; see the module docstring)
CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def get_spark(
    app_name: str = "kickhouse-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    At 100 TB the knobs that matter are set here once: AQE with partition
    coalescing + skew handling, broadcast threshold large enough to catch
    dimension tables, 128 MB scan splits, and UTC session time.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Shuffle/spill compression codec. lz4 (Spark's default) optimizes
        # CPU; zstd trades ~10-20% codec CPU for 30-40% smaller shuffle
        # files — the standard lever when executor local disk, not CPU, is
        # the binding constraint (it was for the single-node sf100 ladder,
        # whose heaviest dedup leg carries a ~50 GB live shuffle working
        # set; on a cluster the same knob bounds per-executor spill).
        .config(
            "spark.io.compression.codec",
            os.environ.get("SPARK_IO_CODEC", "lz4"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.crossJoin.enabled", "true")
        .config("spark.sql.streaming.checkpointFileManagerClass", CHECKPOINT_FILE_MANAGER)
        # Shuffle files are deleted only when the driver GC collects the
        # shuffle dependency (ContextCleaner holds weak refs); Spark's
        # default periodic GC is 30 MINUTES, so a long-lived session
        # running many queries over a big fixture accumulates every
        # query's shuffle output on local disk in the meantime — the r12
        # sf100 bench filled the disk mid-run exactly this way. 5 min
        # bounds the backlog at negligible GC cost.
        .config(
            "spark.cleaner.periodicGC.interval",
            os.environ.get("SPARK_PERIODIC_GC_INTERVAL", "5min"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
