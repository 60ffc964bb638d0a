"""SparkSession factory.

Tuned for the driver harness (local[N]) but with settings that scale to a
real cluster: AQE on (runtime re-planning, skew-join splitting, partition
coalescing), Arrow for any Python exchange, UTC session timezone so
timestamp semantics match the DuckDB oracle exactly (parquet stores
UTC-adjusted instants; DuckDB reads them naive-UTC).

The reference pins America/New_York local-naive timestamps
(`Amazon Connect/connect_agent_metrics.py:94-95`); the engine treats the
zone as configuration — pass ``timezone="America/New_York"`` for
reference-parity pipelines, keep UTC for oracle comparison.

Streaming checkpoints go through Spark's ``FileSystemBasedCheckpointFileManager``
instead of the default ``FileContextBasedCheckpointFileManager``. Every
engine stream writes its offset log, commit log and state-store deltas
through this manager: per micro-batch one offset file, one commit file
and one delta (plus its checksum sidecar) per state partition. The
default renames each file through Hadoop ``FileContext``, whose
``AbstractFileSystem.renameInternal`` asks ``getFileLinkStatus`` of the
source and the destination; on the local filesystem Hadoop 3.4's
``RawLocalFileSystem`` answers that with ``FileUtil.readLink``, which
forks a ``readlink`` process every time, native library or not. The
FileSystem manager renames with ``FileSystem.rename`` and forks nothing
for it. Batch jobs never create a checkpoint manager, so only streams see
the change.

Create-if-absent stays as atomic as before, store by store:

- Local filesystem: FileContext's no-overwrite rename is itself
  check-then-rename (``getFileLinkStatus(dst)``, then
  ``renameInternal(src, dst)``), the same guarantee as the FileSystem
  manager's ``exists(dst)`` followed by ``rename(src, dst)``. Both
  refuse a destination that exists at the check; neither closes the
  window between check and rename, since POSIX ``rename`` overwrites.
- HDFS: ``DistributedFileSystem.rename`` refuses an existing destination
  on the NameNode, so the rename that publishes a batch's file cannot
  replace a concurrent writer's.
- Other stores (S3A, ABFS, GCS, ...): unverified. Spark falls back to
  this same manager wherever FileContext is unavailable and warns that
  correctness then rests on ``FileSystem.rename`` being atomic; a store
  without that guarantee needs its own manager, set through
  ``extra_conf``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def get_spark(
    app_name: str = "redshift_etl_spark",
    master: str | None = None,
    timezone: str = "UTC",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", timezone)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # The driver testdata stores TIMESTAMP(NANOS), which the Spark
        # parquet reader rejects; read as long and convert in the loader
        # (queries/tables.py) — truncation to micros matches DuckDB.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # no readlink fork per checkpoint file (module docstring)
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            CHECKPOINT_FILE_MANAGER,
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
