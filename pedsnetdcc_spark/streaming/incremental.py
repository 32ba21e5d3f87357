"""Incremental/streaming variants of the derivation operators.

The reference is strictly batch — its "sync" jobs recompute derived
tables wholesale per data cycle (reference:
pedsnetdcc/sync_observation_period.py; SURVEY.md §2.10 records that no
streaming surface exists to port).  These operators are the documented
*extensions*: the same derivations expressed over Structured Streaming
so a continuously-loaded lake maintains them incrementally instead of
re-deriving per cycle.

Each builder takes a streaming DataFrame (``spark.readStream...``) and
returns the transformed streaming DataFrame; callers attach the sink
(``writeStream`` + trigger).  All of them also accept a *batch*
DataFrame and produce identical results — the logic is mode-agnostic,
which is how the tests pin streaming output to the batch oracle.

Scale notes: state is keyed per entity (person/user), so it shards
across executors with the shuffle; watermarks bound state growth for
the windowed/session aggregations.
"""

from __future__ import annotations

import os
from collections.abc import Sequence
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: cap on the DEFAULT shuffle/state partition count of the *streaming*
#: queries — deliberately NOT the batch session default.  A stateful
#: streaming query's shuffle-partition count is its state-store count,
#: and the cost is per store per batch: AQE never coalesces inside a
#: micro-batch, so EVERY micro-batch pays, for each stateful operator,
#: one task and one state-store commit (a delta file plus its checksum
#: companion, each with a Hadoop ``.crc``, and a forked ``chmod`` per
#: created file when Hadoop's local filesystem has no native library,
#: but no forked ``readlink`` per rename, since ``session.build_session``
#: selects the ``FileSystem``-based checkpoint manager) per partition,
#: however little data arrived.
#: So :func:`scoped_stream_shuffle_partitions` sizes a stream to
#: ``min(8, defaultParallelism)``: never more stores than cores to
#: commit them in one wave (on a 4-vCPU host the two-operator era
#: stream's 16 commits per batch ran in two waves; at 4 partitions its
#: state-commit p50 fell 835 → 459 ms and the perfbench
#: ``incremental_ingest`` warm pass 18%), and never
#: more than 8, which spreads the bench streams' key-bounded state
#: amply (≤500 era keys, ≤~200 windows, ≤band×bucket groups of a
#: 2000-doc capped universe) and keeps hosts with ≥8 cores at the
#: count they always had.  Spark records the count in the checkpoint at
#: batch 0 and RESTORES it from the offset log on every restart, so a
#: stream started under an older or larger size keeps it; the default
#: only sizes new checkpoints.  Under dynamic allocation
#: ``defaultParallelism`` counts only the executors present when the
#: stream starts, so a stream whose state will outgrow that — or a
#: production deployment with millions of state keys — passes ``n`` or
#: sets ``SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS`` at submit time.
DEFAULT_STREAM_SHUFFLE_PARTITIONS = 8


@contextmanager
def scoped_stream_shuffle_partitions(spark, n: int | None = None):
    """Set ``spark.sql.shuffle.partitions`` for the duration of a
    streaming query's start→drain window, restoring the batch session
    value after (also when the block raises).  The size is ``n``, else
    ``SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS``, else
    ``min(DEFAULT_STREAM_SHUFFLE_PARTITIONS, defaultParallelism)``.
    The value is captured by the stream's checkpoint at batch 0, so
    restoring after ``awaitTermination`` cannot affect the
    already-planned batches; batch queries planned outside the scope
    are untouched."""
    n = (
        n
        or int(os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS") or 0)
        or min(DEFAULT_STREAM_SHUFFLE_PARTITIONS, spark.sparkContext.defaultParallelism)
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _event_time(df: DataFrame, ts_col: str) -> DataFrame:
    """Normalize the event-time column to TIMESTAMP: watermarks reject
    TIMESTAMP_NTZ, and parquet writers mark the same instant either way
    (isAdjustedToUTC).  The cast resolves NTZ in the session timezone —
    pinned to UTC in session.build_session — so both encodings yield the
    identical event time."""
    from pyspark.sql.types import TimestampNTZType

    if isinstance(df.schema[ts_col].dataType, TimestampNTZType):
        return df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def streaming_interval_summary(
    df: DataFrame,
    key: str,
    start_expr: Column | str,
    end_expr: Column | str,
    key_name: str = "person_id",
    start_name: str = "period_start",
    end_name: str = "period_end",
) -> DataFrame:
    """Incremental observation-period maintenance: running per-entity
    min/max event time (the batch operator recomputes this wholesale —
    operators/interval_summary.py; here the aggregation state carries
    it forward).  Use output mode ``update``/``complete``."""
    s = F.col(start_expr) if isinstance(start_expr, str) else start_expr
    e = F.col(end_expr) if isinstance(end_expr, str) else end_expr
    return df.groupBy(F.col(key).alias(key_name)).agg(
        F.min(s).alias(start_name),
        F.coalesce(F.max(e), F.max(s)).alias(end_name),
    )


def streaming_event_counts(
    df: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    window_duration: str = "1 day",
    watermark: str = "2 days",
) -> DataFrame:
    """Windowed event counts with a late-data watermark — the canonical
    watermark + windowed-agg shape; append-mode-capable, state pruned
    beyond the watermark horizon."""
    wm = _event_time(df, ts_col).withWatermark(ts_col, watermark)
    return (
        wm.groupBy(F.window(F.col(ts_col), window_duration).alias("win"), *keys)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *keys,
            "n_events",
        )
    )


def streaming_interval_eras(
    df: DataFrame,
    keys: Sequence[str],
    start_col: str,
    end_col: str,
    gap_days: int = 30,
    watermark: str = "35 days",
) -> DataFrame:
    """INTERVAL-valued era derivation over a stream (an event contributes
    ``[start, end]``, not a point — e.g. drug exposures with
    days-supply; batch equivalent operators/eras.py:42 ``derive_eras``),
    as one JVM-native ``session_window`` aggregation with a dynamic gap.

    Formulation: each event opens the session window ``[start + 1 µs,
    max(end, start) + gap + 1 µs)`` — a window on ``__t = start + 1 µs``
    whose gap is ``max(end, start) − start + gap``.  Spark merges two
    windows when the next one starts AT OR BEFORE the current end, so
    an event joins an era iff ``start ≤ era_end + gap`` — the inclusive
    rule of ``derive_eras`` — and append mode evicts a session once
    ``session_end ≤ watermark``, i.e. once ``era_end + gap <
    watermark``: no event that could still join is in the watermark.
    The +1 µs on both window bounds is what makes both rules exact: a
    window on ``start`` itself would have to end at ``era_end + gap``
    (merge) and at ``era_end + gap + 1 µs`` (eviction) at once.  The
    aggregate reports ``min(start)``, ``max(max(end, start))`` and the
    distinct-start count, so emitted rows equal ``derive_eras`` on the
    same finalized prefix.  The gap is added as microseconds, so a day
    is 86 400 s in every session timezone.  ``gap_days`` must be ≥ 1: a
    zero gap gives a point event a zero-length window, which
    ``session_window`` drops.

    The watermark is taken on ``__t``; it equals the one on ``start``
    except when the latest start ends in microsecond 999 of its
    millisecond (watermarks are millisecond-granular).  A row whose
    start is before the watermark is late and dropped, by a watermarked
    ``dropDuplicates`` on ``keys + __t + __e`` ahead of the
    aggregation.  ``session_window`` alone would drop a row only once
    its own window ends at or before the watermark, so a late row could
    open an era overlapping one already emitted for its key.  Rows of
    a later batch are filtered against a watermark no earlier than the
    one that evicted an era, so a kept row starts after that era's
    ``end + gap``; rows of the evicting batch itself merge before the
    eviction.

    State is Spark's session-window state store (sessions per key plus
    each one's aggregation buffer) and the dedup's store (one row per
    distinct event not yet behind the watermark), both bounded by the
    watermark + gap horizon.  A checkpoint written by the earlier
    ``applyInPandasWithState`` form of this operator cannot be resumed:
    the state layout differs; start such a stream from a new checkpoint.

    Output (append mode): ``keys + era_start_ts, era_end_ts,
    era_count``.  Eras still inside the horizon stay in state — on an
    unbounded stream they are not yet final by definition.  A batch
    DataFrame (``watermark=None``) yields every era.
    """
    if gap_days < 1:
        raise ValueError(f"gap_days must be >= 1, got {gap_days}")
    keys = list(keys)
    df = _event_time(_event_time(df, start_col), end_col)
    s = F.col(start_col)
    df = df.select(
        *keys,
        s,
        F.greatest(F.col(end_col), s).alias("__e"),
        (s + F.expr("INTERVAL 1 MICROSECOND")).alias("__t"),
    )
    if watermark:
        # the watermarked dedup drops rows whose start is behind the
        # watermark; min, max and the distinct-start count ignore
        # duplicates, so it changes no output
        df = df.withWatermark("__t", watermark).dropDuplicates([*keys, "__t", "__e"])
    gap_us = F.unix_micros("__e") - F.unix_micros(s) + gap_days * 86_400 * 10**6
    z = F.lit(0)
    gap = F.make_interval(z, z, z, z, z, z, gap_us.cast("decimal(18,0)") / 10**6)
    return df.groupBy(*keys, F.session_window("__t", gap)).agg(
        F.min(s).alias("era_start_ts"),
        F.max("__e").alias("era_end_ts"),
        F.size(F.collect_set(s)).cast("long").alias("era_count"),
    ).drop("session_window")


def streaming_eras(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    gap: str = "30 days",
    watermark: str | None = "35 days",
) -> DataFrame:
    """Streaming sessionization — the era derivation for point events as
    a built-in ``session_window`` aggregation: a session (era) closes
    when the next event is more than ``gap`` past the last one.

    For instantaneous events this matches the batch era operator with a
    zero-duration end date; interval-valued events (end dates, days
    supply) go through ``streaming_interval_eras``, whose gap is
    dynamic per event.
    """
    df = _event_time(df, ts_col)
    src = df.withWatermark(ts_col, watermark) if watermark else df
    return (
        src.groupBy(F.session_window(F.col(ts_col), gap).alias("sw"), *keys)
        .agg(F.count(F.lit(1)).alias("era_event_count"))
        .select(
            *keys,
            F.col("sw.start").alias("era_start"),
            F.col("sw.end").alias("era_end"),
            "era_event_count",
        )
    )


def streaming_exact_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ts_col: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Streaming exact deduplication: emit only the FIRST document seen
    for each content hash (md5 of the text) — the continuous form of
    ``datapipe.dedup.exact_dedup_groups`` for an append-only ingest.

    With ``ts_col`` + ``watermark`` the dedup state is watermark-bounded
    (``dropDuplicatesWithinWatermark``): a repeat arriving inside the
    horizon is dropped, state older than the horizon is pruned — the
    practical contract for an ingest stream whose duplicates cluster in
    time (retries, re-crawls).  Without a watermark the state holds one
    entry per distinct content hash forever — exact global dedup, state
    grows with distinct content (one 16-byte digest per unique doc).

    State shards by the content hash with the shuffle; no skew (md5 is
    uniform).  Batch DataFrames work too (plain dropDuplicates
    semantics), which is how the test pins stream output to the batch
    operator.
    """
    keyed = df.withColumn("__content_hash", F.md5(F.col(text_col)))
    if ts_col is not None and watermark is not None:
        keyed = _event_time(keyed, ts_col).withWatermark(ts_col, watermark)
        if keyed.isStreaming:
            out = keyed.dropDuplicatesWithinWatermark(["__content_hash"])
        else:
            out = keyed.dropDuplicates(["__content_hash"])
    else:
        out = keyed.dropDuplicates(["__content_hash"])
    return out.drop("__content_hash")


def streaming_lsh_near_dup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    num_bands: int = 4,
    max_bucket: int | None = None,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Streaming MinHash-LSH near-duplicate detection: as documents
    arrive, each is signed, banded, and checked against the GROWING
    per-bucket index; every bucket collision emits ``(id_a, id_b,
    est_jaccard)`` the moment the second document lands — the
    continuous form of ``datapipe.dedup.lsh_candidate_pairs`` for an
    append-only ingest (crawl dedup before anything is written).

    Construction: the signature is the scan-fused per-row formulation
    (``fused_minhash_signatures`` — a stateless projection, so the
    stream needs no pre-aggregation), bands come from the SAME
    ``band_entries`` the batch join uses (buckets agree exactly), and
    the index is ``applyInPandasWithState`` keyed on ``(band,
    bucket)``: state = the ids + signatures seen in that bucket.  A
    pair colliding in several bands is emitted once per band —
    downstream dedup is one ``dropDuplicates([id_a, id_b])`` (batch)
    or ``dropDuplicatesWithinWatermark`` (stream); emission order
    within a batch pairs new arrivals against the index first, then
    each other.

    ``est_jaccard`` is the signature agreement (matching components /
    ``num_hashes``) — the standard unbiased MinHash estimate, available
    without re-reading either document.

    State is the index: it grows with distinct signed content, exactly
    like the exact-dedup state (one id + ``num_hashes`` longs per doc
    per band).  ``max_bucket`` caps a bucket's stored membership —
    arrivals beyond the cap still compare against the stored members
    but are not added (the NeMo-style hot-bucket guard: a degenerate
    bucket of boilerplate stops costing quadratic emission).
    Streaming-only (applyInPandasWithState rejects batch inputs); the
    test pins the two-micro-batch stream's emitted pair set to the
    batch ``lsh_candidate_pairs`` join over the same corpus.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from pedsnetdcc_spark.datapipe.dedup import (
        band_entries,
        fused_minhash_signatures,
    )

    id_type = df.schema[id_col].dataType
    sigs = fused_minhash_signatures(
        df, id_col, text_col, n=n, num_hashes=num_hashes, hash_family=hash_family
    )
    banded = sigs.select(
        F.col(id_col),
        F.col("sig"),
        F.explode(
            band_entries("sig", num_hashes, num_bands, hash_family)
        ).alias("__bb"),
    ).select(
        id_col,
        "sig",
        F.col("__bb.band").alias("band"),
        F.col("__bb.bucket").alias("bucket"),
    )
    out_schema = StructType(
        [
            StructField("id_a", id_type),
            StructField("id_b", id_type),
            StructField("est_jaccard", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("ids", ArrayType(id_type)),
            StructField("sigs", ArrayType(LongType())),  # flat, k per id
        ]
    )
    k = num_hashes

    def fn(key, pdf_iter, state: GroupState):
        ids: list = []
        flat: list[int] = []
        if state.exists:
            i0, s0 = state.get
            ids, flat = list(i0), list(s0)
        n_stored0 = len(ids)
        rows = []
        for pdf in pdf_iter:
            for rid, sig in zip(pdf[id_col], pdf["sig"]):
                rows.append((rid, [int(x) for x in sig]))
        out = []
        for rid, sig in rows:
            for j, other in enumerate(ids):
                osig = flat[j * k : (j + 1) * k]
                m = sum(1 for x, y in zip(sig, osig) if x == y)
                a, b = (rid, other) if rid < other else (other, rid)
                out.append((a, b, m / k))
            if max_bucket is None or len(ids) < max_bucket:
                ids.append(rid)
                flat.extend(sig)
        if len(ids) != n_stored0:
            state.update((ids, flat))
        if out:
            yield pd.DataFrame(out, columns=["id_a", "id_b", "est_jaccard"])

    return banded.groupBy("band", "bucket").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def streaming_time_bounded_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    l_ts: str,
    r_ts: str,
    max_lag_sec: int,
    watermark_sec: int = 3600,
) -> DataFrame:
    """Stream-stream time-bounded equi-join: pairs of left/right events
    with the same ``keys`` where the right event happened within
    ``max_lag_sec`` AT OR BEFORE the left event (``l_ts - max_lag <=
    r_ts <= l_ts``) — the candidate set of a backward as-of join,
    continuously maintained.  This is Spark's native watermarked
    stream-stream inner join: the time-interval condition plus both
    watermarks let the engine expire buffered state (right events older
    than ``watermark + max_lag`` can never match a future left event
    and are dropped), so state is bounded by rate × horizon per key
    shard.

    The two timestamp columns must be distinct names (rename before
    calling when both streams use e.g. ``ts``).  Works identically on
    batch DataFrames — the tests pin streamed output to the batch twin.
    """
    keys = list(keys)
    l = _event_time(left, l_ts).withWatermark(l_ts, f"{watermark_sec} seconds")
    r = _event_time(right, r_ts).withWatermark(r_ts, f"{watermark_sec} seconds")
    cond = None
    for k in keys:
        c = l[k] == r[k]
        cond = c if cond is None else (cond & c)
    time_cond = (F.col(r_ts) <= F.col(l_ts)) & (
        F.col(r_ts) >= F.col(l_ts) - F.expr(f"INTERVAL {int(max_lag_sec)} SECONDS")
    )
    cond = time_cond if cond is None else (cond & time_cond)
    joined = l.join(r, cond, "inner")
    # drop the duplicated key columns from the right side
    return joined.drop(*[r[k] for k in keys])
