"""Table IO: directory-of-parquet namespaces with atomic staged publish.

The reference organizes data as Postgres schemas (one per site) and
publishes transformed schemas atomically via a rename dance inside one
transaction — build in ``<s>_transformed``, move current to
``<s>_backup``, move new into place, with ``undo`` restoring the backup
(reference: pedsnetdcc/transform_runner.py:860-942,1562-1629).

Here a namespace is a directory of parquet tables.  Publish writes to a
staging directory and uses atomic directory renames to cut over, keeping
one backup generation for ``undo``.  On a real deployment the same
semantics map to Delta/Iceberg ``REPLACE TABLE`` transactions; plain
directory renames are the dependency-free equivalent and are atomic on
POSIX filesystems and HDFS (object stores would use the table-format
path instead).
"""

from __future__ import annotations

import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _nanos_timestamp_cols(path: str) -> list[str]:
    """Columns stored as parquet INT64 TIMESTAMP(NANOS), which Spark
    reads as long (``spark.sql.legacy.parquet.nanosAsLong``).

    Checked against the PHYSICAL parquet schema: pyarrow's Arrow-level
    schema reports legacy INT96 timestamps (Spark's own default
    timestamp encoding) as ``timestamp[ns]`` too, and those must NOT be
    converted — Spark already reads INT96 as a proper TimestampType."""
    try:
        import pyarrow.parquet as pq

        if os.path.isdir(path):
            files = [
                os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
            ]
            if not files:
                return []
            path = files[0]
        sch = pq.ParquetFile(path).schema
        return [
            c.name
            for i in range(len(sch))
            for c in [sch.column(i)]
            if c.physical_type == "INT64" and "nanos" in str(c.logical_type).lower()
        ]
    except Exception:
        return []


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table from a namespace directory.

    Accepts both the driver's flat layout (``<dir>/<name>.parquet`` file)
    and the engine's own layout (``<dir>/<name>/`` parquet directory).
    Nano-precision timestamp columns are converted to Spark's
    micro-precision TimestampType (truncating, matching what DuckDB's
    client yields for TIMESTAMP_NS).
    """
    flat = os.path.join(sf_dir, f"{name}.parquet")
    nested = os.path.join(sf_dir, name)
    path = flat if os.path.exists(flat) else nested
    nanos_cols = _nanos_timestamp_cols(path)
    if nanos_cols:
        # runtime-settable; guards against caller sessions built without
        # the config (e.g. the driver's own session)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # the micros reconstruction below treats the stored value as a
        # UTC wall clock; only a UTC session renders it back identically
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(path)
    for c in nanos_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def read_tables(spark: SparkSession, sf_dir: str, names: list[str]) -> dict[str, DataFrame]:
    """:func:`read_table` for each of ``names``, resolved concurrently:
    each ``spark.read.parquet`` blocks on its own schema-inference job,
    so one driver thread would wait out those jobs one after another.
    The pool is no larger than ``len(names)`` or the default
    parallelism."""
    workers = max(1, min(len(names), spark.sparkContext.defaultParallelism))
    with ThreadPoolExecutor(max_workers=workers) as pool:
        return dict(zip(names, pool.map(lambda n: read_table(spark, sf_dir, n), names)))


def delete_rows(df: DataFrame, condition) -> DataFrame:
    """DELETE-analog: the retained rows (the caller rewrites the table —
    reference: ``DELETE FROM observation_period``
    sync_observation_period.py:62-64; z-score NaN deletes
    z_score.py:428-485).  With a table format this maps to a real
    ``DELETE WHERE``; on plain parquet it is filter + rewrite."""
    return df.filter(~condition)


def copy_table(spark: SparkSession, src_dir: str, dst_dir: str, name: str) -> None:
    """Cross-namespace bulk copy — the pg_dump/pg_restore id-map copy
    (reference: pedsnetdcc/id_maps.py:88-167, ``-j 8 -Z 9``): in Spark a
    parquet read + write, parallel by partition, compressed by codec."""
    read_table(spark, src_dir, name).write.mode("overwrite").parquet(
        os.path.join(dst_dir, name)
    )


def analyze_table(spark: SparkSession, table: str, columns: list[str] | None = None) -> None:
    """Planner statistics — the VACUUM ANALYZE analog (reference:
    pedsnetdcc/utils.py:343-388): feeds Spark CBO/AQE for catalog
    tables."""
    if columns:
        spark.sql(
            f"ANALYZE TABLE {table} COMPUTE STATISTICS FOR COLUMNS {', '.join(columns)}"
        )
    else:
        spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS")


def prep_namespace(spark: SparkSession, names: list[str]) -> None:
    """DB/schema bootstrap — the ``prepdb`` analog (reference:
    pedsnetdcc/prepdb.py:97-241 creates the database plus one schema per
    site; schema.py:16 ``CREATE SCHEMA IF NOT EXISTS``).  Namespaces are
    catalog databases here."""
    for n in names:
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {n}")


@dataclass
class TableStore:
    """A writable namespace of parquet tables with atomic publish/undo.

    Directory layout::

        root/
          current/<table>/...      published tables
          _staged.<txid>/          in-flight build
          _backup/<table>/...      previous generation (undo target)
    """

    root: str
    _txid: str = field(default_factory=lambda: time.strftime("%Y%m%d%H%M%S"))

    @property
    def current_dir(self) -> str:
        return os.path.join(self.root, "current")

    @property
    def backup_dir(self) -> str:
        return os.path.join(self.root, "_backup")

    @property
    def staging_dir(self) -> str:
        return os.path.join(self.root, f"_staged.{self._txid}")

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        self._recover_prereplace(name)
        return spark.read.parquet(os.path.join(self.current_dir, name))

    def table_exists(self, name: str) -> bool:
        """True when the table is published (after recovering any
        interrupted ``replace``)."""
        self._recover_prereplace(name)
        return os.path.isdir(os.path.join(self.current_dir, name))

    def _recover_prereplace(self, name: str) -> None:
        """Crash recovery for ``replace``: its two renames are not one
        atomic step, so a crash between them leaves the table missing
        with the data stranded at ``<table>.prereplace``.  Restore it
        before any read/existence check."""
        path = os.path.join(self.current_dir, name)
        old = f"{path}.prereplace"
        if not os.path.exists(path) and os.path.exists(old):
            os.rename(old, path)

    def stage(
        self,
        df: DataFrame,
        name: str,
        partition_by: list[str] | None = None,
        cluster_by: list[str] | None = None,
        cluster_files: int | None = None,
    ) -> None:
        """Write a table into the staging area (the CTAS analog,
        reference: pedsnetdcc/transform_runner.py:89-94).

        ``cluster_by`` lays the files out range-partitioned + sorted on
        the given columns (sources/clustering.clustered_write) — the
        lake analog of the reference's post-load per-column index
        builds (reference indexes.py:202-317): the same columns its
        DBA indexed for point lookups become parquet min/max pruning
        ranges here.  Mutually exclusive with ``partition_by`` (hive
        partitioning already groups by value; clustering within
        partitions would need a per-partition sort spec).
        """
        if partition_by and cluster_by:
            raise ValueError("partition_by and cluster_by are mutually exclusive")
        path = os.path.join(self.staging_dir, name)
        if cluster_by:
            from pedsnetdcc_spark.sources.clustering import clustered_write

            clustered_write(df, path, cluster_by, num_files=cluster_files)
            return
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)

    def publish(self) -> None:
        """Atomically cut the staged build over to ``current``.

        Mirrors the reference's transactional schema swap: current →
        backup, staged → current (reference:
        pedsnetdcc/transform_runner.py:901-927).
        """
        if not os.path.exists(self.staging_dir):
            raise FileNotFoundError(f"nothing staged at {self.staging_dir}")
        if os.path.exists(self.backup_dir):
            shutil.rmtree(self.backup_dir)
        if os.path.exists(self.current_dir):
            os.rename(self.current_dir, self.backup_dir)
        os.rename(self.staging_dir, self.current_dir)

    def compact(
        self,
        spark: SparkSession,
        name: str,
        target_file_bytes: int = 128 * 1024 * 1024,
    ) -> int:
        """Small-file compaction (the OPTIMIZE analog): rewrite a
        published table into ``ceil(bytes / target)`` files with a
        single-table atomic swap (write aside → rename over; does not
        consume the generation-level staged transaction, so sibling
        tables are untouched).  Returns the output file count.

        Incremental loads fragment a table into many small parquet
        files; each costs a scan task and a footer read, so a
        10⁶-file table wrecks scan parallelism long before data size
        matters.  The reference never needs this (Postgres heaps don't
        fragment this way — closest analog is VACUUM); on a lake it is
        routine maintenance.
        """
        import math

        path = os.path.join(self.current_dir, name)
        sizes = [
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(path)
            for f in fs
            if f.endswith(".parquet")
        ]
        total = sum(sizes)
        n_files = max(1, math.ceil(total / target_file_bytes))
        df = self.read(spark, name)
        # coalesce avoids a shuffle when reducing the file count (the
        # common case); a repartition would be needed only to split
        # oversized files, where the shuffle is the point.  The current
        # file count (already walked above) stands in for the scan's
        # partition count — no RDD probe.
        df = df.coalesce(n_files) if n_files <= len(sizes) else df.repartition(n_files)
        self.replace(name, df)
        path = os.path.join(self.current_dir, name)
        return sum(
            1 for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
        )

    def replace(self, name: str, df: DataFrame) -> None:
        """Replace ONE published table with ``df`` (write aside → rename
        over), leaving sibling tables and the generation-level staged
        transaction untouched.  Safe when ``df`` reads from the table
        being replaced: the full rewrite lands in the side directory
        before the swap.

        NOT fully atomic: the swap is two renames (path →
        ``.prereplace``, tmp → path), so a crash — or a concurrent
        reader — in between observes a missing table.  Readers going
        through :meth:`read` / :meth:`table_exists` self-heal via
        :meth:`_recover_prereplace`; on a table format
        (Delta/Iceberg ``REPLACE TABLE``) the window disappears."""
        self.rewrite(name, lambda tmp: df.write.mode("overwrite").parquet(tmp))

    def rewrite(self, name: str, write_fn) -> None:
        """:meth:`replace` with a custom layout writer: ``write_fn``
        receives the side-directory path and must produce the new table
        files there (e.g. ``clustered_write`` / ``zorder_write`` — a
        plain read-back-and-replace would let the scan coalesce the
        carefully-ranged files and scramble the layout).  Same
        two-rename swap and crash-recovery contract as ``replace``;
        a crash between the renames restores the OLD data (the
        completed rewrite in the side directory is abandoned and
        cleaned on the next rewrite) — conservative, never lossy.

        A failed ``write_fn`` must not strand the side directory: it is
        removed on exception, and stale side dirs from prior CRASHED
        rewrites of this table are swept first.  The sweep skips this
        store's own txid, but rewrites assume a SINGLE WRITER PER
        TABLE (matching the reference's per-table transaction scope,
        transform_runner.py:1562): a concurrent rewrite of the same
        table from another process would have its in-progress side
        directory swept.  Concurrent rewrites of DIFFERENT tables are
        fine (the sweep and swap are name-scoped)."""
        self._recover_prereplace(name)
        os.makedirs(self.current_dir, exist_ok=True)  # fresh namespace
        path = os.path.join(self.current_dir, name)
        for entry in os.listdir(self.current_dir):  # sweep crashed rewrites
            if entry.startswith(f"{name}.replace.") and not entry.endswith(
                f".{self._txid}"
            ):
                shutil.rmtree(os.path.join(self.current_dir, entry))
        tmp = f"{path}.replace.{self._txid}"
        try:
            write_fn(tmp)
        except BaseException:
            if os.path.exists(tmp):
                shutil.rmtree(tmp)
            raise
        old = f"{path}.prereplace"
        if os.path.exists(old):
            shutil.rmtree(old)
        if os.path.exists(path):
            os.rename(path, old)
        os.rename(tmp, path)
        if os.path.exists(old):
            shutil.rmtree(old)

    def truncate(self, name: str) -> None:
        """TRUNCATE analog (era.py:16 ``TRUNCATE {0}.condition_era``):
        replace the published table with an empty one, preserving
        nothing (callers wanting the schema should stage an empty
        DataFrame instead)."""
        path = os.path.join(self.current_dir, name)
        if os.path.exists(path):
            shutil.rmtree(path)
        os.makedirs(path, exist_ok=True)

    def drop(self, name: str) -> None:
        """DROP TABLE analog (transform_runner.py:735)."""
        path = os.path.join(self.current_dir, name)
        if os.path.exists(path):
            shutil.rmtree(path)

    def undo(self) -> None:
        """Restore the previous generation (reference:
        pedsnetdcc/transform_runner.py:1562-1629 ``undo``)."""
        if not os.path.exists(self.backup_dir):
            raise FileNotFoundError(f"no backup at {self.backup_dir}")
        dropped = self.current_dir + ".dropped"
        if os.path.exists(dropped):
            shutil.rmtree(dropped)
        if os.path.exists(self.current_dir):
            os.rename(self.current_dir, dropped)
        os.rename(self.backup_dir, self.current_dir)
