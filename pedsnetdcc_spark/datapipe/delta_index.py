"""One LSM-style lifecycle for the persisted delta indexes.

Both persisted indexes — the span-digest index
(:mod:`pedsnetdcc_spark.datapipe.dedup`) and the IVF index
(:mod:`pedsnetdcc_spark.datapipe.similarity`) — are a base directory
plus committed per-append delta directories, with a ``meta.json`` that
carries a compaction watermark.  This module owns every step of that
lifecycle once; a family passes a frozen :class:`Layout` (its existing
on-disk names) and supplies only its data hooks: how a batch becomes
delta rows, how base and deltas merge, and its compaction receipt.

Layout under an index root ``path``::

    meta.json                      family params + folded_through_<noun>
    <base>/                        the compacted base
    <base>_delta/<key>=N/          one committed delta per append
    <base>_delta/.tmp-<key>-N/     an in-flight (or crashed) append
    .<base>.compact.tmp/           a compaction's folded base, pre-swap
    .<base>.old/, .<base>_delta.old/   compaction swap leftovers
    .writer.lock                   :func:`pedsnetdcc_spark.util.index_writer_lock`

Crash contract (pinned by fault-injection tests that drive these
functions): every write lands in a dot-prefixed temp first (Spark's
partition discovery and :func:`committed_ids` ignore dot paths) and is
published by one rename; a compaction writes its folded base fully,
then the watermark, then moves the base and the delta aside before the
folded temp lands, so every reachable crash state counts each committed
delta exactly once.  The one state with no base directory is rolled
forward by the next lifecycle entry (:func:`recover_compaction`).
Every writer holds the index's ``.writer.lock`` for its whole step.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass
from typing import Callable

from pedsnetdcc_spark import util


@dataclass(frozen=True)
class Layout:
    """The on-disk names and data hooks of one index family."""

    name: str           # "a span index" — error messages
    family: str         # "span" — names compact_<family>_index in messages
    base: str           # base directory; deltas live in "<base>_delta"
    delta_key: str      # committed delta dirs are "<delta_key>=N"
    id_width: int       # zero-pad width of N in delta dir names
    noun: str           # "generation": watermark, offset key, messages
    offset_marker: str  # checkpoint file pinning a stream lineage's offset
    cluster_key: str    # every layout write is clustered by this column
    partitioned: bool   # ... and also hive-partitioned by it
    merge: Callable     # (base_df, delta_df) -> the index's rows
    receipt: Callable   # (base_dir or None, deltas folded) -> compact dict

    @property
    def delta(self) -> str:
        return f"{self.base}_delta"

    @property
    def watermark(self) -> str:
        return f"folded_through_{self.noun}"


def read_meta(path: str) -> dict:
    with open(os.path.join(path, "meta.json")) as f:
        return json.load(f)


def _write_meta(path: str, meta: dict) -> None:
    """Atomic ``meta.json`` commit (dot-temp + replace): a crash
    mid-write never leaves a truncated meta behind."""
    tmp = os.path.join(path, ".meta.json.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f, sort_keys=True)
    os.replace(tmp, os.path.join(path, "meta.json"))


def write_layout(df, dest: str, layout: Layout) -> None:
    """Write ``df`` as one layout directory, clustered by the family's
    key so each key (or cell) lands in one task.  ``repartition_by_key``
    is resolved through :mod:`pedsnetdcc_spark.util` at call time."""
    w = util.repartition_by_key(df, layout.cluster_key).write.mode("overwrite")
    if layout.partitioned:
        w = w.partitionBy(layout.cluster_key)
    w.parquet(dest)


def build(path: str, layout: Layout, force: bool, populate: Callable) -> dict:
    """Replace the index at ``path`` wholesale.  ``populate()`` writes
    the family's files into the emptied root and returns the meta,
    which is committed last — a crashed build leaves a loudly
    unreadable index (no ``meta.json``), never a quietly wrong one.

    A ``path`` that exists, is non-empty and does not look like an
    index (no meta, base, compaction temp or writer lock) is refused
    unless ``force`` — transposed arguments cannot delete a data
    directory.  The build holds the writer lock throughout, and the
    clear keeps the lock file (:func:`pedsnetdcc_spark.util.clear_index_children`)."""
    if not force and os.path.isdir(path) and os.listdir(path):
        marks = ("meta.json", layout.base, f".{layout.base}.compact.tmp",
                 ".writer.lock")
        if not any(os.path.exists(os.path.join(path, p)) for p in marks):
            raise ValueError(
                f"refusing to replace {path!r}: it exists, is non-empty, "
                f"and does not look like {layout.name} (no meta.json). "
                "Pass force=True (CLI: --force) to overwrite it anyway."
            )
    with util.index_writer_lock(path, "build"):
        util.clear_index_children(path)
        meta = populate()
        _write_meta(path, meta)
        return meta


def committed_ids(path: str, layout: Layout) -> list[int]:
    """Sorted ids of the COMMITTED deltas (``<delta_key>=N`` children).
    An in-flight or orphaned dot-temp is not one, so it can neither be
    read nor make an emptied delta directory look non-empty."""
    delta = os.path.join(path, layout.delta)
    if not os.path.isdir(delta):
        return []
    prefix = f"{layout.delta_key}="
    return sorted(
        int(c[len(prefix):]) for c in os.listdir(delta) if c.startswith(prefix)
    )


def recover_compaction(path: str, layout: Layout, recover: bool = True) -> None:
    """Roll a crashed compaction FORWARD: if the base is missing but
    the folded ``.<base>.compact.tmp`` exists (it is complete before the
    base moves aside), finish the swap and drop the delta under
    whichever name the crash left it — the temp already holds every
    delta, so keeping one would double-count.  Every lifecycle entry
    (read, append, compact) runs this first, so no append can commit
    into a delta directory a later recovery would delete.
    ``recover=False`` (read-only mounts) raises instead of mutating."""
    base = os.path.join(path, layout.base)
    tmp = os.path.join(path, f".{layout.base}.compact.tmp")
    if os.path.isdir(base) or not os.path.isdir(tmp):
        return
    if not recover:
        raise RuntimeError(
            f"{layout.name} at {path!r} has a crashed compaction "
            f"({layout.base}/ missing, .{layout.base}.compact.tmp complete) "
            f"and recover=False was requested; run compact_{layout.family}"
            "_index (or a read with recover=True) on a writable mount to "
            "roll the swap forward"
        )
    os.rename(tmp, base)
    for leftover in (f".{layout.base}.old", layout.delta, f".{layout.delta}.old"):
        shutil.rmtree(os.path.join(path, leftover), ignore_errors=True)


def _merged(spark, path: str, layout: Layout, has_deltas: bool):
    base = spark.read.parquet(os.path.join(path, layout.base))
    if not has_deltas:
        return base
    delta = spark.read.parquet(os.path.join(path, layout.delta))
    return layout.merge(base, delta.drop(layout.delta_key))


def read(spark, path: str, layout: Layout, recover: bool = True):
    """The index's rows: the base alone when no delta is committed
    (the compacted serving state), else the family's merge of base and
    deltas.  May perform recovery writes unless ``recover=False``."""
    recover_compaction(path, layout, recover=recover)
    return _merged(spark, path, layout, bool(committed_ids(path, layout)))


def _frontier(meta: dict, path: str, layout: Layout) -> int:
    folded = int(meta.get(layout.watermark, -1))
    return max([folded, *committed_ids(path, layout)]) + 1


def next_offset(path: str, layout: Layout) -> int:
    """One past every delta id ever committed — folded ones via the
    watermark, unfolded ones via the listing: the id a fresh append
    lineage must start from (a new checkpoint restarts Spark's epoch
    ids at 0, and an id at or below the watermark reads as a replay)."""
    return _frontier(read_meta(path), path, layout)


def append(df, path: str, layout: Layout, tag: int | None, rows: Callable,
           live_lineage_checkpoint: str | None = None) -> dict:
    """Commit one delta under the writer lock.  ``rows(df, meta)`` is
    the family hook turning the batch into delta rows.

    - ``tag=None`` auto-numbers above the frontier; such an append is
      not retry-idempotent, and it never replaces: racing it onto a
      committed id fails loudly at the rename.
    - An explicit ``tag`` at or below the watermark is a folded replay
      and commits nothing (``skipped_folded_replay``); above it, the
      commit REPLACES that id's previous delta (retry semantics).
    - The batch is written to a dot-temp; a batch with zero rows
      (decided from the temp's parquet footers, no Spark job) commits
      nothing (``empty``) — an all-empty delta is the one state
      parquet schema inference can fail on.
    - ``live_lineage_checkpoint``: the streaming sink's liveness guard,
      checked inside the lock (:func:`pedsnetdcc_spark.util.assert_live_lineage`).
    """
    with util.index_writer_lock(path, "append"):
        if live_lineage_checkpoint is not None:
            util.assert_live_lineage(path, live_lineage_checkpoint)
        recover_compaction(path, layout)
        # meta is read inside the lock: the watermark is mutable
        meta = read_meta(path)
        if tag is None:
            n = _frontier(meta, path, layout)
        else:
            n = int(tag)
            if n <= int(meta.get(layout.watermark, -1)):
                return {layout.noun: n, "skipped_folded_replay": True}
        delta = os.path.join(path, layout.delta)
        name = f"{n:0{layout.id_width}d}"
        final = os.path.join(delta, f"{layout.delta_key}={name}")
        tmp = os.path.join(delta, f".tmp-{layout.delta_key}-{name}")
        shutil.rmtree(tmp, ignore_errors=True)
        write_layout(rows(df, meta), tmp, layout)
        if util.parquet_dir_num_rows(tmp) == 0:
            shutil.rmtree(tmp, ignore_errors=True)
            return {layout.noun: n, "empty": True}
        os.makedirs(delta, exist_ok=True)
        if tag is not None:
            shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)
        return {layout.noun: n}


def compact(spark, path: str, layout: Layout) -> dict:
    """Fold the committed deltas into the base under the writer lock:
    write the merged layout to ``.<base>.compact.tmp``, commit the
    watermark, move the base and then the delta aside, land the temp,
    sweep.  The watermark goes BEFORE the swap: a crash anywhere after
    it either leaves the delta in place (a replay of a folded id is
    skipped, its rows still counted once in the delta) or rolls
    forward into the base — exactly once either way.  A previous
    crashed compaction is rolled forward first, so a crashed index
    compacts as a clean no-op."""
    with util.index_writer_lock(path, "compact"):
        recover_compaction(path, layout)
        ids = committed_ids(path, layout)
        if not ids:
            return layout.receipt(None, 0)
        merged = _merged(spark, path, layout, True)
        base = os.path.join(path, layout.base)
        delta = os.path.join(path, layout.delta)
        tmp = os.path.join(path, f".{layout.base}.compact.tmp")
        old = os.path.join(path, f".{layout.base}.old")
        delta_old = os.path.join(path, f".{layout.delta}.old")
        for stale in (tmp, old, delta_old):
            shutil.rmtree(stale, ignore_errors=True)
        write_layout(merged, tmp, layout)
        meta = read_meta(path)
        if int(meta.get(layout.watermark, -1)) < ids[-1]:
            meta[layout.watermark] = ids[-1]
            _write_meta(path, meta)
        os.rename(base, old)
        os.rename(delta, delta_old)
        os.rename(tmp, base)
        for done in (old, delta_old):
            shutil.rmtree(done, ignore_errors=True)
        return layout.receipt(base, len(ids))


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def maybe_compact(spark, path: str, layout: Layout, max_deltas: int | None,
                  max_delta_fraction: float | None) -> dict:
    """Auto-compact policy: :func:`compact` iff the committed deltas
    outnumber ``max_deltas`` or their bytes exceed
    ``max_delta_fraction`` of the base; below both it is one listing
    (plus a ``du`` when a fraction is set).  ``None`` = unbounded."""
    ids = committed_ids(path, layout)
    reason = None
    if max_deltas is not None and len(ids) > max_deltas:
        reason = f"{layout.noun}s {len(ids)} > {max_deltas}"
    elif max_delta_fraction is not None and ids:
        base_b = _dir_bytes(os.path.join(path, layout.base))
        delta_b = _dir_bytes(os.path.join(path, layout.delta))
        if delta_b > max_delta_fraction * base_b:
            reason = (
                f"delta bytes {delta_b} > {max_delta_fraction} × base "
                f"{base_b}"
            )
    if reason is None:
        return {**layout.receipt(None, 0), "triggered": False}
    rep = compact(spark, path, layout)
    rep["triggered"] = True
    rep["reason"] = reason
    return rep


def stream_sink(stream, path: str, layout: Layout, rows: Callable, *,
                offset: int, checkpoint: str | None,
                auto_compact_deltas: int | None,
                auto_compact_fraction: float | None):
    """A ``DataStreamWriter`` committing micro-batch ``e`` as delta
    ``e + offset`` via :func:`append` (the explicit tag makes a replay
    replace its delta or, once folded, skip it), then running
    :func:`maybe_compact` when a threshold is set.  Each batch takes
    the writer lock for its own append and releases it, so a
    compaction may interleave between batches.

    With ``checkpoint``, wiring validates the offset against the
    index's frontier and pins it in the checkpoint
    (:func:`pedsnetdcc_spark.util.validate_stream_offset`), then
    registers the checkpoint as the index's one live lineage — both
    under the writer lock, so two wirings serialize."""

    def _batch(batch_df, epoch_id: int) -> None:
        append(batch_df, path, layout, epoch_id + offset, rows,
               live_lineage_checkpoint=checkpoint)
        if auto_compact_deltas is not None or auto_compact_fraction is not None:
            maybe_compact(batch_df.sparkSession, path, layout,
                          auto_compact_deltas, auto_compact_fraction)

    writer = stream.writeStream.foreachBatch(_batch).outputMode("append")
    if checkpoint is not None:
        noun = layout.noun
        with util.index_writer_lock(path, "wire-lineage"):
            util.validate_stream_offset(
                path, checkpoint, offset,
                marker_name=layout.offset_marker,
                offset_key=f"{noun}_offset",
                frontier_noun=noun,
                required=next_offset(path, layout),
                hint=f"pass {noun}_offset=next_{noun}_offset(path)",
            )
            util.register_live_lineage(path, checkpoint)
        writer = writer.option("checkpointLocation", checkpoint)
    return writer
