"""Small engine utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition when the input arrives with fewer source files than
    the cluster has slots — a small parquet file scans as ONE split,
    which serializes every CPU-bound per-row stage after it.  At real
    scale the scan already has ≥ slots files and this is a no-op.

    The file count UNDERCOUNTS effective starvation too: a single
    parquet file written as one row group scans as ONE non-empty split
    no matter how Spark byte-range-partitions it (measured: the
    quality-classifier pipeline on a 500k-doc single-file corpus ran
    70.1 s serialized vs 7.75 s with this guard — 9×; see SCALE.md
    round-9).  Guarding at each scan-fused per-row operator keeps the
    fix local: at real scale (files ≥ slots) nothing changes and the
    shuffle-free plans stay shuffle-free.

    The probe is ``df.inputFiles()`` — FileIndex metadata read
    plan-side (no job, no RDD lineage analysis; the previous
    ``df.rdd.getNumPartitions()`` probe built the physical RDD chain
    per call).  File count over-estimates split count when many tiny
    files pack into one split, but the guarded case — one or two files
    feeding a CPU-bound Pandas stage — is decided identically, and a
    non-file DataFrame (no files reported) is left untouched.

    Idempotent across composed operators: if the lineage already holds
    a SHUFFLING repartition with an EXPLICIT width ≥ slots (this guard
    upstream — ``Repartition n, true`` — or an explicit-count key
    repartition, ``RepartitionByExpression [...], n``), a second
    exchange would shuffle the stream again for nothing.  The check is
    on the analyzed logical plan (job-free) and deliberately does NOT
    trust:

    - ``coalesce()`` — logically also a Repartition node but with
      shuffle=false and a LOW target;
    - a narrow ``repartition(k)`` / ``repartition(k, col)`` with
      k < slots — still starved;
    - ``repartition(col)`` with NO explicit count — AQE is free to
      coalesce that exchange by INPUT bytes, and for a small stream
      feeding a compute-amplifying stage (a capped proof universe
      fanning into an O(n²) verify) it coalesces to ONE partition,
      re-serializing exactly the work the guard exists to spread
      (measured: embedding_near_dup 1.3 s → 9.6 s when a lineage
      check trusted the bare RepartitionByExpression; AQE leaves
      explicit-count repartitions alone, which is also why the
      guard's own output suppresses downstream guards)."""
    import re

    spark = df.sparkSession
    par = min_partitions or spark.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        return df
    if not (0 < n_files < par):
        return df
    try:
        plan = df._jdf.queryExecution().logical().toString()
        # Only the OUTERMOST repartition-family node (first in the
        # top-down plan string) describes the stream's final layout: a
        # wide repartition buried under a later coalesce() — or on the
        # other branch of a join — must not vouch for a starved stream.
        m = re.search(
            r"\bRepartition (\d+), (true|false)"
            r"|RepartitionByExpression \[[^\]]*\](?:, (\d+))?",
            plan,
        )
        if m:
            if m.group(1) is not None:  # Repartition n, true/false
                if m.group(2) == "true" and int(m.group(1)) >= par:
                    return df
            elif m.group(3) is not None:  # RepartitionByExpression [...], n
                if int(m.group(3)) >= par:
                    return df
            # narrow, coalesce, or width-elided (AQE-coalescible):
            # fall through and fire
    except Exception:
        pass
    return df.repartition(par)


def repartition_by_key(df: DataFrame, *cols, num_partitions: int | None = None) -> DataFrame:
    """Key-clustered repartition that OPTS OUT of AQE partition
    coalescing by carrying an explicit width.

    A bare ``df.repartition(col)`` leaves the width to AQE, which
    sizes the exchange by INPUT bytes — correct for byte-bound
    consumers, wrong for compute-amplifying ones: a doc-keyed text
    stream explodes ~100× into tokens/shingles before aggregating, so
    byte-sizing a ~30 MB stream to 1-3 partitions serializes the CPU
    work behind it (measured: simhash64 at sf0.1 1.2 s bare → 0.5 s
    explicit, 2.6×; the capped proof universes hit the same cliff at
    ~1 MB → ONE partition, embedding_near_dup 1.3 → 9.6 s).  The
    explicit width is max(shuffle partitions, default parallelism) —
    at least what the exchange would get with AQE off, never below the
    slot count (so `ensure_parallelism` downstream trusts it and does
    not stack a round-robin exchange on top when a session runs with
    shuffle_partitions < cores), and on a real cluster the submitter
    already sizes both to the fleet.  A non-numeric
    ``spark.sql.shuffle.partitions`` (e.g. an auto-tuning platform
    value) degrades to default parallelism alone."""
    n = num_partitions or max(
        shuffle_partitions(df.sparkSession),
        df.sparkSession.sparkContext.defaultParallelism,
    )
    return df.repartition(n, *cols)


def shuffle_partitions(spark) -> int:
    """The session's ``spark.sql.shuffle.partitions`` as an int; a
    non-integer value (``auto`` on auto-tuning platforms) falls back to
    the context's default parallelism."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


def release_cached(df: DataFrame) -> None:
    """Uncache every cached relation that ``df``'s plan reads — for a
    result whose operator cached an intermediate it holds no handle to
    (e.g. ``ids.assign_surrogate_ids(mode="distributed")``).  Call it
    after the last action on ``df``: a later action recomputes the
    released relations."""
    spark = df.sparkSession._jsparkSession
    leaves = df._jdf.queryExecution().withCachedData().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "InMemoryRelation":
            spark.sharedState().cacheManager().uncacheQuery(
                spark, leaf.cacheBuilder().logicalPlan(), False, True
            )


def salted_join(
    left: "DataFrame",
    right: "DataFrame",
    key: str,
    salt: int = 8,
    how: str = "inner",
) -> "DataFrame":
    """Skew-mitigating equi-join: salt the (skewed) left side's key with
    a deterministic bucket derived from the whole row hash, replicate
    the right side ``salt``× — the classic manual remedy when one hot
    key overwhelms a single shuffle partition.  AQE's skew-join split
    (enabled in build_session) handles most cases automatically; this
    operator covers engines/joins AQE can't split (e.g. bucketed-table
    joins, or pre-AQE deployments).

    Semantics-preserving for inner/left joins on an equi-key.
    """
    from pyspark.sql import functions as F

    lsalt = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(salt))
    l = left.withColumn("__salt", lsalt)
    r = right.crossJoin(
        F.broadcast(
            left.sparkSession.range(salt).select(F.col("id").cast("int").alias("__salt"))
        )
    )
    out = l.join(r, [key, "__salt"], how)
    return out.drop("__salt")


def clear_index_children(path: str) -> None:
    """Wholesale-replace helper for index builds: remove every child of
    an index root EXCEPT ``.writer.lock``.  ``rmtree(path)`` would
    delete the running build's own writer lock and reopen the index to
    a second writer mid-replace."""
    import contextlib
    import os
    import shutil

    for child in os.listdir(path):
        if child == ".writer.lock":
            continue
        full = os.path.join(path, child)
        if os.path.isdir(full):
            shutil.rmtree(full, ignore_errors=True)
        else:
            with contextlib.suppress(OSError):
                os.remove(full)


def pyarrow_fs_and_path(path: str):
    """``(pyarrow.fs.FileSystem, fs-local path)`` for a path or URI —
    the scheme-dispatch seam of the driver-side index metadata I/O
    (round-14 verdict item 2).  A bare path or ``file://`` URI maps to
    the local filesystem; any other scheme (``s3://``, ``gcs://``,
    ``hdfs://``) resolves through ``pyarrow.fs.FileSystem.from_uri``,
    so the footer receipts and codebook reads/writes that round 13
    moved driver-side work against the same filesystems the
    ``spark.read.parquet`` they replaced did — not just posix."""
    from pyarrow import fs as _fs

    if "://" in path:
        return _fs.FileSystem.from_uri(path)
    return _fs.LocalFileSystem(), path


def parquet_dir_num_rows(path: str) -> int:
    """Total row count of a parquet directory from the file FOOTERS
    only — a driver-side pyarrow metadata read, NO Spark job and no
    data pages touched.  The persisted-index lifecycles use it for
    their receipt/emptiness counts: a ``read.parquet(...).count()``
    there schedules a full scan of the index (at production index
    sizes that is a complete extra pass over the largest artifact the
    pipeline owns) for a number every footer already carries.  Footer
    ``num_rows`` is exact — it is what the scan's own metadata-only
    count would use.

    Accepts a local path or any ``pyarrow.fs``-resolvable URI
    (scheme-dispatched — see :func:`pyarrow_fs_and_path`).  Dot- and
    underscore-prefixed path components are skipped, exactly like
    Spark's own partition discovery: a ``_temporary`` dir left by a
    crashed concurrent writer must not leak partial files into the
    receipt.  A path that does not exist counts 0 rows."""
    import pyarrow.parquet as _pq
    from pyarrow import fs as _fs

    filesystem, root = pyarrow_fs_and_path(path)
    sel = _fs.FileSelector(root, recursive=True, allow_not_found=True)
    total = 0
    for info in filesystem.get_file_info(sel):
        if info.type != _fs.FileType.File or not info.path.endswith(".parquet"):
            continue
        rel = info.path[len(root):].lstrip("/")
        if any(part[:1] in ("_", ".") for part in rel.split("/")):
            continue
        with filesystem.open_input_file(info.path) as f:
            total += _pq.ParquetFile(f).metadata.num_rows
    return total


class IndexWriterLocked(RuntimeError):
    """A second writer tried to build/append/compact a persisted index
    while another writer held its ``.writer.lock``."""


def index_writer_lock(path: str, op: str):
    """O_EXCL writer lock serializing build/append/compact on a
    persisted index directory (span index, IVF index).

    The single-writer contract used to be documented convention only:
    two racing appends failed loudly at the final ``os.rename``, but
    shared dot-temp names meant the loser could rmtree the winner's
    in-progress temp first, and a concurrent compact + append was safe
    only by agreement.  This turns the convention into a mechanism —
    one ``.writer.lock`` file created with ``O_CREAT | O_EXCL`` (the
    atomic create-or-fail primitive on POSIX and on NFS ≥ v3), holding
    ``{pid, op, started_unix}`` so the loser's error names the holder.
    The reference serializes its DDL through a transaction runner the
    same way (reference: pedsnetdcc/transform_runner.py:901-927).

    Stale locks: the lock is removed in a ``finally``, so it outlives
    its writer only on a kill -9 / machine crash.  There is no
    timeout-based auto-steal — a wall-clock heuristic cannot tell a
    dead writer from a slow 50M-doc compaction, and stealing from a
    live one re-opens the corruption this lock closes.  The override
    is manual and documented in the error: verify the pid is dead,
    then delete ``<path>/.writer.lock``.

    Scope: an OS-level file lock — correct on any filesystem with
    atomic exclusive create (local disk, NFS, Lustre).  On an object
    store (S3/GCS) there is no exclusive create; serialize writers
    through a scheduler there, as the docstrings always required.

    Usage::

        with index_writer_lock(path, "append"):
            ...mutate the index...
    """
    import contextlib
    import json
    import os
    import time

    @contextlib.contextmanager
    def _lock():
        os.makedirs(path, exist_ok=True)
        lock = os.path.join(path, ".writer.lock")
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
        except FileExistsError:
            try:
                with open(lock) as f:
                    holder = f.read().strip() or "<empty>"
            except OSError:
                holder = "<unreadable>"
            raise IndexWriterLocked(
                f"refusing {op!r} on index {path!r}: another writer holds "
                f"{lock} ({holder}). At most one build/append/compact may "
                "run against an index at a time. If the holder process is "
                f"dead (crashed writer), delete {lock} and retry."
            ) from None
        try:
            os.write(fd, json.dumps(
                {"pid": os.getpid(), "op": op,
                 "started_unix": int(time.time())},
                sort_keys=True,
            ).encode())
            os.close(fd)
            yield
        finally:
            with contextlib.suppress(OSError):
                os.remove(lock)

    return _lock()


def validate_stream_offset(
    index_path: str,
    checkpoint: str,
    offset: int,
    *,
    marker_name: str,
    offset_key: str,
    frontier_noun: str,
    required: int,
    hint: str,
) -> None:
    """Persist-and-validate an append stream lineage's id offset next
    to its checkpoint, so a colliding fresh lineage RAISES instead of
    silently losing batches.  Shared core of the IVF index's
    ``_validate_lineage_offset`` and the span index's
    ``_validate_generation_offset`` — a fresh checkpoint restarts
    Spark's epoch ids at 0, so the offset is part of the lineage's
    identity for its whole lifetime (same value on every restart, one
    index per checkpoint for life).

    First wiring of a checkpoint (no marker): ``offset`` must be at
    least ``required`` (one past the index's committed frontier — an
    id at or below the compaction watermark is indistinguishable from
    a crash-replay and would be silently dropped; one colliding with a
    live delta would clobber it).  The offset is then written to
    ``marker_name`` in the checkpoint dir (atomic replace; Spark
    ignores foreign files there).  Every later wiring of the SAME
    checkpoint must pass the SAME offset against the SAME index."""
    import json
    import os

    os.makedirs(checkpoint, exist_ok=True)
    marker = os.path.join(checkpoint, marker_name)
    index_abs = os.path.abspath(index_path)
    if os.path.exists(marker):
        with open(marker) as f:
            stored = json.load(f)
        if stored.get("index_path") != index_abs:
            raise ValueError(
                f"checkpoint {checkpoint!r} belongs to a stream on index "
                f"{stored.get('index_path')!r}, not {index_abs!r}; a "
                "checkpoint lineage is bound to one index for life — use "
                "a fresh checkpoint directory"
            )
        if int(stored[offset_key]) != int(offset):
            raise ValueError(
                f"checkpoint {checkpoint!r} was started with "
                f"{offset_key}={stored[offset_key]}; restarting it with "
                f"{offset_key}={offset} would re-key every replayed "
                f"{frontier_noun} (silent loss/clobber). Reuse the "
                "lineage's original offset — it is fixed for the "
                "checkpoint's whole lifetime."
            )
        return
    if int(offset) < required:
        raise ValueError(
            f"fresh checkpoint {checkpoint!r} on index {index_abs!r} "
            f"with {offset_key}={offset}: the index's committed "
            f"{frontier_noun} frontier requires an offset of at least "
            f"{required} ({hint}). A lower offset would silently drop "
            f"{frontier_noun}s at or below the compaction watermark "
            "and clobber live deltas."
        )
    tmp = marker + ".tmp"
    with open(tmp, "w") as f:
        json.dump(
            {offset_key: int(offset), "index_path": index_abs},
            f, sort_keys=True,
        )
    os.replace(tmp, marker)


class StreamLineageSuperseded(RuntimeError):
    """A streaming append's micro-batch found that a newer lineage was
    wired on its index — this stream's checkpoint is no longer the
    live one and committing would risk clobbering the successor's
    deltas."""


def register_live_lineage(index_path: str, checkpoint: str) -> None:
    """Record ``checkpoint`` as the index's ONE live append lineage
    (``_live_lineage.json`` in the index root, atomic replace).
    Wiring a fresh lineage SUPERSEDES the previous one — the
    superseded stream then fails loudly at its next micro-batch
    (:func:`assert_live_lineage`) instead of silently interleaving
    epoch/generation ids with the successor.  Callers take the index
    writer lock around validate+register so two simultaneous wirings
    serialize."""
    import json
    import os
    import time

    marker = os.path.join(index_path, "_live_lineage.json")
    tmp = marker + ".tmp"
    with open(tmp, "w") as f:
        json.dump(
            {"checkpoint": os.path.abspath(checkpoint),
             "wired_unix": int(time.time())},
            f, sort_keys=True,
        )
    os.replace(tmp, marker)


def assert_live_lineage(index_path: str, checkpoint: str) -> None:
    """Raise :class:`StreamLineageSuperseded` unless ``checkpoint`` is
    still the index's registered live append lineage.  Called INSIDE
    the per-batch writer lock (registration also happens under the
    lock), so there is no window where a superseded stream can commit
    a delta the successor's id range collides with.  An index with no
    registration (pre-liveness layout, or batch-only appends) passes —
    the guard activates the first time a checkpointed stream is wired."""
    import json
    import os

    marker = os.path.join(index_path, "_live_lineage.json")
    if not os.path.exists(marker):
        return
    with open(marker) as f:
        live = json.load(f).get("checkpoint")
    mine = os.path.abspath(checkpoint)
    if live != mine:
        raise StreamLineageSuperseded(
            f"append stream with checkpoint {mine!r} was superseded on "
            f"index {index_path!r}: the live lineage is now {live!r}. "
            "One live append lineage per index — wiring a fresh "
            "checkpoint takes over; stop this stream (its data through "
            "its last committed batch is intact) and, to resume "
            "appending, wire a new lineage with "
            "offset=next_*_offset(path)."
        )
