"""SparkSession construction tuned for the engine.

The reference parallelizes work with a pool of 25 database connections
(reference: pedsnetdcc/db.py:314-320); in Spark the scheduler plays that
role, so the session here concentrates on the knobs that matter at scale:
AQE (runtime re-planning, skew-join splitting, partition coalescing),
shuffle partition count, broadcast threshold, and Arrow for the few
Pandas-UDF code paths.  It also pins the streaming checkpoint file
manager: every offset, commit and source log, every ``_spark_metadata``
sink log and every state-store delta/checksum commit goes through
Hadoop's ``FileSystem`` API rather than ``FileContext``, whose local
rename forks a ``readlink`` per file when Hadoop has no native library.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: streaming checkpoint file manager (Spark 4.1 class name); see
#: :func:`build_session` for its commit guarantees per scheme
CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def build_session(
    app_name: str = "pedsnetdcc_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config.

    Scale posture: AQE enabled so runtime statistics re-plan joins
    (broadcast conversion, skew split) after each shuffle; partition
    coalescing keeps small-SF test runs from drowning in empty tasks
    while leaving large runs at the configured parallelism.

    Defaults suit the dev harness (single JVM, ``local[N]``):
    ``SPARK_GRAFT_CPUS`` (read here, at call time) sizes both the master
    and the shuffle partitions.  On a real cluster the same builder is
    used with master/memory supplied by the submitter and shuffle
    partitions sized to ~2-3x total executor cores.

    Stream checkpoints and state stores commit through
    ``FileSystemBasedCheckpointFileManager``: write a temp file, then
    ``fs.exists(dst)`` (raise if present, unless overwriting) and
    ``fs.rename``.  On ``file:`` that is the same check-then-POSIX-rename
    Spark's ``FileContext`` default makes (``renameInternal`` stats the
    destination, raises ``FileAlreadyExistsException``, then renames),
    so a concurrent writer is detected the same way; it only skips the
    ``FileContext`` link-status lookup that forks ``readlink`` per
    rename without Hadoop's native library.  On ``hdfs:``
    ``FileSystem.rename`` is atomic.  For schemes without a
    ``FileContext`` binding Spark itself falls back to this manager, and
    on object stores neither manager renames atomically.  The on-disk
    checkpoint format is the same under both, so existing checkpoints
    resume.  One difference: ``overwriteIfPossible=True`` is best-effort
    by Spark's contract, and a ``FileSystem`` that refuses a rename onto
    an existing file (HDFS, or the Hive ``ProxyLocalFileSystem`` that
    serves ``file:`` when Hive is on the classpath) keeps the first
    committed copy, as a retried state-store version rewrites the same
    rows; ``FileContext`` replaces it.  Pass
    ``spark.sql.streaming.checkpointFileManagerClass`` in ``extra_conf``
    to choose another manager.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE can only COALESCE shuffle partitions, never split them, so
        # the initial partition count is the hard parallelism ceiling of
        # every shuffle.  Start each shuffle 4x over-partitioned and let
        # coalescing shrink small stages back down: a volume-heavy
        # shuffle (e.g. the per-doc top-k over a ~250M-row scored token
        # stream at the x1000 probe point) keeps enough partitions to
        # sort in memory instead of spilling (measured: 98.6 s at 32
        # partitions -> 74.7 s at 128, SCALE.md round-9), while
        # small-stage runs coalesce to ~core-count partitions as before.
        # On a real cluster the submitter raises shuffle_partitions and
        # this multiplier scales with it.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(shuffle_partitions * 4),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bound Arrow batch size: multimodal pipelines carry MB-scale
        # binary payloads per row, and the default 10k-row batches would
        # put gigabytes in a single python-worker transfer at 100 TB
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # the harness's events table carries TIMESTAMP(NANOS) parquet
        # columns; read them as long and convert in sources.io.read_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.checkpointFileManagerClass", CHECKPOINT_FILE_MANAGER)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
