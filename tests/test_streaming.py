"""Streaming operators: drive real Structured Streaming queries from a
file source into a memory sink and pin results to the batch oracle
(the same builder run in batch mode / batch operators)."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from pedsnetdcc_spark.operators.interval_summary import interval_summary
from pedsnetdcc_spark.sources.io import read_table
from pedsnetdcc_spark.streaming.incremental import (
    streaming_event_counts,
    streaming_eras,
    streaming_interval_summary,
)


@pytest.fixture(scope="module")
def stream_src(spark, sf_dir):
    """events re-materialized (micros timestamps) as a streaming-capable
    parquet directory + its static schema."""
    d = tempfile.mkdtemp()
    ev = read_table(spark, sf_dir, "events")
    ev.write.mode("overwrite").parquet(d + "/events")
    yield d + "/events", ev.schema
    shutil.rmtree(d, ignore_errors=True)


def _run_stream(spark, sdf, mode: str, name: str):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def test_streaming_interval_summary_matches_batch(spark, stream_src, sf_dir):
    path, schema = stream_src
    stream = spark.readStream.schema(schema).parquet(path)
    out = _run_stream(
        spark,
        streaming_interval_summary(stream, "user_id", "ts", "ts"),
        "complete",
        "t_interval",
    )
    batch = interval_summary([(read_table(spark, sf_dir, "events"), "user_id", "ts", "ts")])
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, batch.collect()))


def test_streaming_event_counts_windowed(spark, stream_src, sf_dir):
    path, schema = stream_src
    stream = spark.readStream.schema(schema).parquet(path)
    out = _run_stream(
        spark,
        streaming_event_counts(stream, "ts", ["user_id"], "1 day", "2 days"),
        "append",
        "t_counts",
    )
    ev = read_table(spark, sf_dir, "events")
    batch = (
        ev.groupBy(F.window("ts", "1 day").alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "user_id",
            "n_events",
        )
    )
    # append-mode emits only windows fully past the watermark; every
    # emitted row must match the batch computation exactly
    b = {(r["window_start"], r["user_id"]): r["n_events"] for r in batch.collect()}
    rows = out.collect()
    assert rows, "watermark should have closed most 1-day windows"
    for r in rows:
        assert b[(r["window_start"], r["user_id"])] == r["n_events"]


def test_streaming_eras_sessionization(spark, stream_src, sf_dir):
    path, schema = stream_src
    stream = spark.readStream.schema(schema).parquet(path)
    # a session emits in append mode only once the watermark passes its
    # close; a tiny delay lets availableNow's final watermark (max ts −
    # delay) flush everything except sessions still open at the horizon
    out = _run_stream(
        spark,
        streaming_eras(stream, ["user_id", "event_type"], "ts", gap="2 days", watermark="1 second"),
        "append",
        "t_eras",
    )
    # batch oracle: same builder applied to the static frame
    ev = read_table(spark, sf_dir, "events")
    batch = streaming_eras(ev, ["user_id", "event_type"], "ts", gap="2 days", watermark=None)
    out_set = set(map(tuple, out.collect()))
    batch_set = set(map(tuple, batch.collect()))
    assert out_set <= batch_set  # everything emitted matches batch exactly
    # sessions whose close (+2d gap) extends past the final watermark
    # stay open — with 30 days of data that's the last ~2 days' worth
    assert len(out_set) >= 0.85 * len(batch_set)
    # sessions must respect the gap: era bounds sorted per key don't overlap
    from collections import defaultdict

    per_key = defaultdict(list)
    for u, et, s, e, n in sorted(batch_set):
        per_key[(u, et)].append((s, e))
    for spans in per_key.values():
        spans.sort()
        for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
            assert s2 > e1  # next era starts after previous closed (gap)


def test_streaming_interval_eras_stateful_exact(spark):
    """Interval-era operator on a fully controlled dataset: exact
    expected emission set, including merge across overlapping
    intervals, distinct-start counting, watermark finalization, and the
    still-open era staying in state."""
    import datetime as dt
    import shutil
    import tempfile

    from pedsnetdcc_spark.streaming.incremental import streaming_interval_eras

    D = dt.datetime
    rows = [
        (1, D(2024, 1, 1), D(2024, 1, 3)),   # era A: merges with next
        (1, D(2024, 1, 5), D(2024, 1, 6)),   #   (Jan 5 <= Jan 3 + 7d)
        (1, D(2024, 1, 20), D(2024, 1, 22)), # era B (Jan 20 > Jan 6 + 7d)
        (1, D(2024, 3, 1), D(2024, 3, 3)),   # era C
        (2, D(2024, 1, 10), D(2024, 1, 12)), # era D
        (2, D(2024, 6, 1), D(2024, 6, 3)),   # era E: still open at horizon
    ]
    df = spark.createDataFrame(
        rows, "user_id long, start_ts timestamp, end_ts timestamp"
    )
    d = tempfile.mkdtemp()
    try:
        df.write.mode("overwrite").parquet(d + "/iv")
        stream = spark.readStream.schema(df.schema).parquet(d + "/iv")
        out = _run_stream(
            spark,
            streaming_interval_eras(
                stream, ["user_id"], "start_ts", "end_ts",
                gap_days=7, watermark="2 days",
            ),
            "append",
            "t_interval_eras",
        )
        got = set(map(tuple, out.collect()))
        # final watermark = Jun 1 − 2d = May 30; era E closes Jun 3 + 7d
        expected = {
            (1, D(2024, 1, 1), D(2024, 1, 6), 2),
            (1, D(2024, 1, 20), D(2024, 1, 22), 1),
            (1, D(2024, 3, 1), D(2024, 3, 3), 1),
            (2, D(2024, 1, 10), D(2024, 1, 12), 1),
        }
        assert got == expected, got
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_interval_eras_exact_boundaries(spark):
    """Microsecond boundaries of the session-window formulation, as a
    stream: a start exactly at ``era_end + gap`` merges, one at
    ``era_end + gap + 1 µs`` opens a new era, ``end < start`` clamps to
    ``start``, duplicate starts count once, and an era whose ``end +
    gap`` equals the final watermark stays in state."""
    import datetime as dt

    from pedsnetdcc_spark.streaming.incremental import streaming_interval_eras

    D = dt.datetime
    us = dt.timedelta(microseconds=1)
    rows = [
        (1, D(2024, 1, 1), D(2024, 1, 3)),       # Jan 3 + 7d = Jan 10:
        (1, D(2024, 1, 10), D(2024, 1, 11)),     #   merges
        (2, D(2024, 1, 1), D(2024, 1, 3)),
        (2, D(2024, 1, 10) + us, D(2024, 1, 11)),  # 1 µs past: new era
        (3, D(2024, 1, 5), D(2024, 1, 2)),       # end < start: clamps
        (4, D(2024, 1, 1), D(2024, 1, 2)),       # same start twice:
        (4, D(2024, 1, 1), D(2024, 1, 4)),       #   counted once
        (5, D(2024, 5, 20), D(2024, 5, 23)),     # May 23 + 7d = watermark
        (6, D(2024, 5, 20), D(2024, 5, 23) - us),  # 1 µs inside it
        (9, D(2024, 6, 1), D(2024, 6, 1)),       # watermark = May 30
    ]
    df = spark.createDataFrame(
        rows, "user_id long, start_ts timestamp, end_ts timestamp"
    )
    d = tempfile.mkdtemp()
    try:
        df.write.mode("overwrite").parquet(d + "/iv")
        stream = spark.readStream.schema(df.schema).parquet(d + "/iv")
        out = _run_stream(
            spark,
            streaming_interval_eras(
                stream, ["user_id"], "start_ts", "end_ts",
                gap_days=7, watermark="2 days",
            ),
            "append",
            "t_interval_eras_boundaries",
        )
        got = sorted(map(tuple, out.collect()))
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert got == [
        (1, D(2024, 1, 1), D(2024, 1, 11), 2),
        (2, D(2024, 1, 1), D(2024, 1, 3), 1),
        (2, D(2024, 1, 10) + us, D(2024, 1, 11), 1),
        (3, D(2024, 1, 5), D(2024, 1, 5), 1),
        (4, D(2024, 1, 1), D(2024, 1, 4), 1),
        (6, D(2024, 5, 20), D(2024, 5, 23) - us, 1),
    ], got


def test_streaming_interval_eras_late_rows(spark):
    """A row whose start is behind the watermark is dropped, even when
    its own window would still reach past it — otherwise it could open
    an era overlapping one already emitted.  Three in-order
    micro-batches: after the first, the watermark is Feb 28 (Mar 1 −
    2d), so the second batch emits key 1's era [Jan 1, Jan 10]; in the
    third, (1, Jan 5, Mar 20) would overlap it and is dropped, a start
    1 µs before the watermark is dropped, one exactly at it is kept."""
    import datetime as dt
    import glob
    import os

    from pedsnetdcc_spark.streaming.incremental import streaming_interval_eras

    D = dt.datetime
    us = dt.timedelta(microseconds=1)
    schema = "user_id long, start_ts timestamp, end_ts timestamp"
    batches = [
        [(1, D(2024, 1, 1), D(2024, 1, 10)), (9, D(2024, 3, 1), D(2024, 3, 1))],
        [(8, D(2024, 3, 1), D(2024, 3, 1))],
        [
            (1, D(2024, 1, 5), D(2024, 3, 20)),  # overlaps the emitted era
            (2, D(2024, 2, 28), D(2024, 2, 29)),  # at the watermark: kept
            (3, D(2024, 2, 28) - us, D(2024, 3, 10)),  # 1 µs behind: dropped
            (9, D(2024, 6, 1), D(2024, 6, 1)),
        ],
    ]
    root = tempfile.mkdtemp()
    try:
        os.makedirs(f"{root}/src")
        for i, rows in enumerate(batches):
            spark.createDataFrame(rows, schema).coalesce(1).write.parquet(f"{root}/b{i}")
            (part,) = glob.glob(f"{root}/b{i}/part-*.parquet")
            dest = f"{root}/src/b{i}.parquet"
            os.rename(part, dest)
            os.utime(dest, (1_700_000_000 + i * 100,) * 2)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{root}/src")
        )
        out = _run_stream(
            spark,
            streaming_interval_eras(
                stream, ["user_id"], "start_ts", "end_ts",
                gap_days=7, watermark="2 days",
            ),
            "append",
            "t_interval_eras_late",
        )
        got = sorted(map(tuple, out.collect()))
    finally:
        shutil.rmtree(root, ignore_errors=True)
    assert got == [
        (1, D(2024, 1, 1), D(2024, 1, 10), 1),
        (2, D(2024, 2, 28), D(2024, 2, 29), 1),
        (8, D(2024, 3, 1), D(2024, 3, 1), 1),
        (9, D(2024, 3, 1), D(2024, 3, 1), 1),
    ], got


def _reference_interval_eras(ev, span, gap):
    """Every era of the ``[ts, ts + span]`` intervals per user with the
    inclusive gap rule of ``derive_eras``, in plain Python, plus the
    latest ``ts``."""
    from collections import defaultdict

    per_user = defaultdict(list)
    for r in ev:
        per_user[r["user_id"]].append(r["ts"])
    all_eras = set()
    for uid, tss in per_user.items():
        tss.sort()
        cur = None
        for ts in tss:
            s, e = ts, ts + span
            if cur is not None and s <= cur[1] + gap:
                cur[1] = max(cur[1], e)
                cur[2].add(s)
            else:
                if cur is not None:
                    all_eras.add((uid, cur[0], cur[1], len(cur[2])))
                cur = [s, e, {s}]
        if cur is not None:
            all_eras.add((uid, cur[0], cur[1], len(cur[2])))
    return all_eras, max(r["ts"] for r in ev)


def test_streaming_interval_eras_matches_python_reference(spark, stream_src, sf_dir):
    """Real event volume with genuine intervals (end = ts + 3 days,
    gap 2 days): every emitted era must exactly match an independently
    computed batch reference, and finalization must track the watermark
    (margin-safe on the boundary)."""
    import datetime as dt

    from pedsnetdcc_spark.streaming.incremental import streaming_interval_eras

    path, schema = stream_src
    stream = spark.readStream.schema(schema).parquet(path)
    sdf = stream.select(
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 3 DAYS")).alias("end_ts"),
    )
    out = _run_stream(
        spark,
        streaming_interval_eras(
            sdf, ["user_id"], "start_ts", "end_ts", gap_days=2, watermark="1 second"
        ),
        "append",
        "t_interval_eras_ref",
    )
    got = set(map(tuple, out.collect()))

    ev = read_table(spark, sf_dir, "events").select("user_id", "ts").collect()
    gap = dt.timedelta(days=2)
    all_eras, max_ts = _reference_interval_eras(ev, dt.timedelta(days=3), gap)
    wm = max_ts - dt.timedelta(seconds=1)
    margin = dt.timedelta(hours=1)

    assert got <= all_eras, list(got - all_eras)[:3]
    must_emit = {er for er in all_eras if er[2] + gap < wm - margin}
    assert must_emit <= got, list(must_emit - got)[:3]
    for er in got:
        assert er[2] + gap < wm + margin  # nothing beyond the horizon emitted


def test_streaming_interval_eras_batch_input(spark, sf_dir):
    """On a batch DataFrame (no watermark) the same operator yields the
    full era set of the Python reference — nothing is held back."""
    import datetime as dt

    from pedsnetdcc_spark.streaming.incremental import streaming_interval_eras

    ev = read_table(spark, sf_dir, "events")
    df = ev.select(
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 3 DAYS")).alias("end_ts"),
    )
    out = streaming_interval_eras(
        df, ["user_id"], "start_ts", "end_ts", gap_days=2, watermark=None
    )
    expected, _ = _reference_interval_eras(
        ev.select("user_id", "ts").collect(),
        dt.timedelta(days=3),
        dt.timedelta(days=2),
    )
    got = list(map(tuple, out.collect()))
    assert len(got) == len(expected)
    assert set(got) == expected


def test_streaming_interval_eras_checkpoint_restart(spark):
    """State must survive a stream restart: run A sees two eras for a
    key but finalizes nothing (watermark short of their horizon); run B
    — same checkpoint — delivers an event that MERGES into run A's
    state plus a far-future event that advances the watermark, flushing
    both eras exactly once through a recoverable file sink."""
    import datetime as dt
    import shutil
    import tempfile

    from pedsnetdcc_spark.streaming.incremental import streaming_interval_eras

    D = dt.datetime
    root = tempfile.mkdtemp()
    src, out, ckpt = root + "/src", root + "/out", root + "/ckpt"
    schema = "user_id long, start_ts timestamp, end_ts timestamp"

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            streaming_interval_eras(
                stream, ["user_id"], "start_ts", "end_ts",
                gap_days=7, watermark="5 days",
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.schema(
            "user_id long, era_start_ts timestamp, era_end_ts timestamp, era_count long"
        ).parquet(out)

    try:
        batch_a = spark.createDataFrame(
            [
                (1, D(2024, 1, 1), D(2024, 1, 2)),
                (1, D(2024, 1, 10), D(2024, 1, 11)),
            ],
            schema,
        )
        batch_a.write.mode("append").parquet(src)
        # watermark after run A = Jan 10 − 5d = Jan 5 < both era horizons
        assert run_once().count() == 0

        batch_b = spark.createDataFrame(
            [
                (1, D(2024, 1, 12), D(2024, 1, 13)),  # merges into [Jan10..] era
                (2, D(2024, 3, 1), D(2024, 3, 2)),    # advances watermark
            ],
            schema,
        )
        batch_b.write.mode("append").parquet(src)
        got = sorted(map(tuple, run_once().collect()))
        assert got == [
            (1, D(2024, 1, 1), D(2024, 1, 2), 1),
            (1, D(2024, 1, 10), D(2024, 1, 13), 2),
        ], got
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_incremental_interval_sync_matches_wholesale(spark, sf_dir):
    """The foreachBatch sync job, fed the events in two separate
    availableNow runs, must leave the published table identical to the
    reference-style wholesale recomputation over all events."""
    import shutil
    import tempfile

    from pedsnetdcc_spark.operators.interval_summary import interval_summary
    from pedsnetdcc_spark.sources.io import TableStore
    from pedsnetdcc_spark.streaming.sync import incremental_interval_sync

    root = tempfile.mkdtemp()
    src, ckpt = root + "/src", root + "/ckpt"
    try:
        ev = read_table(spark, sf_dir, "events").select("user_id", "ts")
        first = ev.where(F.col("user_id") % 2 == 0)
        second = ev.where(F.col("user_id") % 2 == 1)
        store = TableStore(root + "/store")
        schema = "user_id long, ts timestamp"

        def run_once():
            stream = spark.readStream.schema(schema).parquet(src)
            q = (
                incremental_interval_sync(
                    stream, store, "observation_period", "user_id", "ts", "ts"
                )
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        first.write.mode("append").parquet(src)
        run_once()
        second.write.mode("append").parquet(src)
        run_once()

        got = store.read(spark, "observation_period")
        wholesale = interval_summary([(ev, "user_id", "ts", "ts")])
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, wholesale.collect())
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_streaming_exact_dedup_emits_first_per_content(spark, sf_dir):
    """Stream a corpus with injected duplicate texts; the dedup stream
    must emit exactly one row per distinct content, matching the batch
    operator's group count."""
    import shutil
    import tempfile

    from pedsnetdcc_spark.datapipe.dedup import exact_dedup_groups
    from pedsnetdcc_spark.streaming.incremental import streaming_exact_dedup

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    # inject duplicates: re-append the first 20 docs with new ids
    dup = docs.limit(20).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    corpus = docs.unionByName(dup)
    d = tempfile.mkdtemp()
    try:
        corpus.write.mode("overwrite").parquet(d + "/docs")
        stream = spark.readStream.schema(corpus.schema).parquet(d + "/docs")
        out = _run_stream(
            spark,
            streaming_exact_dedup(stream, "doc_id", "text"),
            "append",
            "t_dedup",
        )
        n_groups = exact_dedup_groups(corpus, "doc_id", "text").count()
        assert out.count() == n_groups
        # batch mode of the same builder agrees
        assert streaming_exact_dedup(corpus, "doc_id", "text").count() == n_groups
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_quality_filter_matches_batch(spark, sf_dir):
    """The scan-fused corpus operators (gopher_rules here as the
    exemplar) apply unchanged to a readStream source — stateless
    projections need no watermark and stream row-for-row identically
    to their batch run (the ingest-time filtering mode of a corpus
    pipeline)."""
    import shutil
    import tempfile

    from pedsnetdcc_spark.datapipe.text import gopher_rules

    d = tempfile.mkdtemp()
    try:
        docs = read_table(spark, sf_dir, "documents")
        docs.write.mode("overwrite").parquet(d + "/documents")
        stream = spark.readStream.schema(docs.schema).parquet(d + "/documents")
        out = _run_stream(
            spark,
            gopher_rules(stream, "text").select(
                "doc_id", "n_words", "passes_gopher"
            ),
            "append",
            "t_quality",
        )
        batch = gopher_rules(docs, "text").select(
            "doc_id", "n_words", "passes_gopher"
        )
        assert sorted(map(tuple, out.collect())) == sorted(
            map(tuple, batch.collect())
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_lsh_near_dup_matches_batch_candidates(spark, sf_dir, tmp_path):
    """The streaming LSH index, fed the corpus in two micro-batches,
    must emit exactly the batch candidate-join pair set (after the
    documented cross-band dedup), with the signature-agreement
    estimate attached."""
    from pedsnetdcc_spark.datapipe.dedup import (
        fused_minhash_signatures,
        lsh_candidate_pairs,
    )
    from pedsnetdcc_spark.streaming.incremental import streaming_lsh_near_dup

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    d = tmp_path / "docs_stream"
    # two files → two micro-batches under maxFilesPerTrigger=1, so
    # cross-file pairs exercise the persisted index, not just
    # within-invocation comparison
    half = docs.where(F.col("doc_id") % 2 == 0)
    other = docs.where(F.col("doc_id") % 2 == 1)
    half.coalesce(1).write.parquet(str(d / "f0"))
    other.coalesce(1).write.parquet(str(d / "f1"))
    import glob
    import shutil

    merged = d / "merged"
    merged.mkdir()
    for i, f in enumerate(
        glob.glob(str(d / "f*" / "part-*.parquet"))
    ):
        shutil.copy(f, merged / f"file{i}.parquet")

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(merged))
    )
    out = _run_stream(
        spark,
        streaming_lsh_near_dup(stream, "doc_id", "text", num_hashes=16, num_bands=4),
        "append",
        "t_lsh_stream",
    ).cache()

    sigs = fused_minhash_signatures(docs, "doc_id", "text", num_hashes=16)
    batch_pairs = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(sigs, "doc_id", sig_len=16).collect()
    }
    stream_rows = out.collect()
    stream_pairs = {(r["id_a"], r["id_b"]) for r in stream_rows}
    assert stream_pairs == batch_pairs
    assert len(stream_pairs) > 0
    # the estimate is a valid agreement fraction, and identical for
    # every emission of the same pair (same signatures in every band)
    by_pair: dict[tuple, set] = {}
    for r in stream_rows:
        by_pair.setdefault((r["id_a"], r["id_b"]), set()).add(r["est_jaccard"])
        assert 0.0 <= r["est_jaccard"] <= 1.0
    assert all(len(v) == 1 for v in by_pair.values())


def test_streaming_time_bounded_join_matches_batch(spark, stream_src, sf_dir):
    """Watermarked stream-stream join: streamed purchase/view events
    joined within a 1-hour backward window must produce exactly the
    batch join's pair set (the candidate set of a backward as-of join,
    continuously maintained)."""
    from pedsnetdcc_spark.streaming.incremental import streaming_time_bounded_join

    path, schema = stream_src
    ev = read_table(spark, sf_dir, "events")

    def split(df):
        p = df.where(F.col("event_type") == "purchase").select(
            "user_id", F.col("event_id").alias("p_id"), F.col("ts").alias("p_ts")
        )
        v = df.where(F.col("event_type") == "view").select(
            "user_id", F.col("event_id").alias("v_id"), F.col("ts").alias("v_ts")
        )
        return p, v

    sp, sv = split(spark.readStream.schema(schema).parquet(path))
    out = _run_stream(
        spark,
        streaming_time_bounded_join(
            sp, sv, ["user_id"], "p_ts", "v_ts", max_lag_sec=3600
        ),
        "append",
        "t_ssjoin",
    )
    bp, bv = split(ev)
    batch = streaming_time_bounded_join(
        bp, bv, ["user_id"], "p_ts", "v_ts", max_lag_sec=3600
    )
    got = sorted((r["p_id"], r["v_id"]) for r in out.collect())
    want = sorted((r["p_id"], r["v_id"]) for r in batch.collect())
    assert got == want and len(want) > 0


def test_streaming_time_bounded_join_checkpoint_restart(spark):
    """Stream-stream join across a checkpointed restart: feed the left
    and right streams in two separate runs; the second run must join
    its new left rows against right-side STATE buffered in the
    checkpoint from the first run — and emit each pair exactly once
    across both runs."""
    import datetime as dt
    import shutil
    import tempfile

    from pedsnetdcc_spark.streaming.incremental import streaming_time_bounded_join

    D = dt.datetime
    root = tempfile.mkdtemp()
    lsrc, rsrc, out, ckpt = (root + p for p in ("/l", "/r", "/out", "/ckpt"))
    lschema = "k long, p_id long, p_ts timestamp"
    rschema = "k long, v_id long, v_ts timestamp"

    def run_once():
        l = spark.readStream.schema(lschema).parquet(lsrc)
        r = spark.readStream.schema(rschema).parquet(rsrc)
        q = (
            streaming_time_bounded_join(
                l, r, ["k"], "p_ts", "v_ts", max_lag_sec=3600,
                watermark_sec=864000,
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.schema(
            "k long, p_id long, p_ts timestamp, v_id long, v_ts timestamp"
        ).parquet(out)

    try:
        # run 1: only right-side events arrive (go into join state)
        spark.createDataFrame(
            [(1, 20, D(2024, 1, 1, 10, 0)), (1, 21, D(2024, 1, 1, 12, 0))],
            rschema,
        ).write.mode("append").parquet(rsrc)
        spark.createDataFrame([], lschema).write.mode("append").parquet(lsrc)
        assert run_once().count() == 0

        # run 2 (restart from checkpoint): left events must match the
        # buffered right rows within the 1-hour backward window
        spark.createDataFrame(
            [(1, 10, D(2024, 1, 1, 10, 30)), (1, 11, D(2024, 1, 1, 12, 30))],
            lschema,
        ).write.mode("append").parquet(lsrc)
        got = sorted((r["p_id"], r["v_id"]) for r in run_once().collect())
        assert got == [(10, 20), (11, 21)], got

        # run 3: nothing new -> no duplicate emissions
        assert run_once().count() == 2
    finally:
        shutil.rmtree(root, ignore_errors=True)


_ERA_SCHEMA = "user_id long, start_ts timestamp, end_ts timestamp"


def _era_files():
    """Two source files for the interval-era stream: the first holds a
    January era and a February era per user; the second extends the
    February era of the even users and advances the watermark past
    every February horizon."""
    import datetime as dt

    D = dt.datetime
    first = [(u, D(2024, 1, 1 + u % 5), D(2024, 1, 2 + u % 5)) for u in range(1, 13)]
    first += [(u, D(2024, 2, 1), D(2024, 2, 2 + u % 3)) for u in range(1, 13)]
    second = [(u, D(2024, 2, 6), D(2024, 2, 7)) for u in range(2, 13, 2)]
    second += [(99, D(2024, 4, 1), D(2024, 4, 2))]
    return first, second


def _run_era_stream(spark, src, out, ckpt, n=None):
    """Drain the interval-era stream over ``src`` (one file per
    micro-batch) under ``scoped_stream_shuffle_partitions(spark, n)``;
    returns the ``numShufflePartitions`` of every state operator of
    every batch."""
    from pedsnetdcc_spark.streaming.incremental import (
        scoped_stream_shuffle_partitions,
        streaming_interval_eras,
    )

    stream = spark.readStream.schema(_ERA_SCHEMA).option("maxFilesPerTrigger", "1").parquet(src)
    eras = streaming_interval_eras(
        stream, ["user_id"], "start_ts", "end_ts", gap_days=7, watermark="5 days"
    )
    with scoped_stream_shuffle_partitions(spark, n):
        q = (
            eras.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            assert q.awaitTermination(120), "stream did not drain"
            progress = list(q.recentProgress)
        finally:
            q.stop()
    ops = [op for p in progress for op in p["stateOperators"]]
    # the watermarked dedup and the session window
    assert ops and all(len(p["stateOperators"]) == 2 for p in progress)
    return [op["numShufflePartitions"] for op in ops]


def _emitted_eras(spark, out):
    return sorted(
        map(tuple, spark.read.schema(
            "user_id long, era_start_ts timestamp, era_end_ts timestamp, era_count long"
        ).parquet(out).collect())
    )


def test_stream_state_partitions_default_to_cores(spark, tmp_path, monkeypatch):
    """The default state-store count is min(8, defaultParallelism): on
    the local[4] test session both state operators of the era stream
    run 4 partitions.  An explicit ``n`` and the env override win over
    the default, and the batch session value comes back even when the
    scoped block raises."""
    from pedsnetdcc_spark.streaming.incremental import scoped_stream_shuffle_partitions

    assert spark.sparkContext.defaultParallelism == 4
    first, _ = _era_files()
    src = str(tmp_path / "src")
    spark.createDataFrame(first, _ERA_SCHEMA).coalesce(1).write.parquet(src)
    monkeypatch.delenv("SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS", raising=False)
    parts = _run_era_stream(spark, src, str(tmp_path / "out"), str(tmp_path / "ckpt"))
    assert set(parts) == {4}

    batch = spark.conf.get("spark.sql.shuffle.partitions")
    with scoped_stream_shuffle_partitions(spark, 3):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
    monkeypatch.setenv("SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS", "2")
    with scoped_stream_shuffle_partitions(spark):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "2"
    with scoped_stream_shuffle_partitions(spark, 3):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
    with pytest.raises(RuntimeError), scoped_stream_shuffle_partitions(spark, 5):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "5"
        raise RuntimeError("stream failed")
    assert spark.conf.get("spark.sql.shuffle.partitions") == batch


def test_stream_checkpoint_keeps_its_state_partitions(spark, tmp_path, monkeypatch):
    """A checkpoint started at 8 state partitions keeps 8 when restarted
    under the core-sized default (4 on local[4]): Spark restores the
    count from the offset log.  The restarted stream emits exactly the
    eras of an uninterrupted run over both files, which itself runs at
    the default 4 partitions."""
    monkeypatch.delenv("SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS", raising=False)
    first, second = _era_files()
    src = str(tmp_path / "src")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    spark.createDataFrame(first, _ERA_SCHEMA).coalesce(1).write.parquet(src)
    assert set(_run_era_stream(spark, src, out, ckpt, n=8)) == {8}
    emitted_first = _emitted_eras(spark, out)
    assert emitted_first  # the January eras closed in the first run

    spark.createDataFrame(second, _ERA_SCHEMA).coalesce(1).write.mode("append").parquet(src)
    assert set(_run_era_stream(spark, src, out, ckpt)) == {8}
    restarted = _emitted_eras(spark, out)
    assert len(restarted) > len(emitted_first)

    whole_out = str(tmp_path / "whole_out")
    parts = _run_era_stream(spark, src, whole_out, str(tmp_path / "whole_ckpt"))
    assert set(parts) == {4}
    assert restarted == _emitted_eras(spark, whole_out)


def test_stream_resumes_a_filecontext_checkpoint(spark, tmp_path, monkeypatch):
    """A checkpoint begun under Spark's ``FileContext`` checkpoint
    manager (set for that start only) resumes under the engine's
    ``FileSystem``-based default: the on-disk format is the same, so the
    resumed stream emits exactly the eras of an uninterrupted run, and
    those are exactly the finalized eras of the Python reference.  No
    commit leaves a temp file behind."""
    import datetime as dt
    import os

    from pedsnetdcc_spark.session import CHECKPOINT_FILE_MANAGER

    key = "spark.sql.streaming.checkpointFileManagerClass"
    file_context = (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileContextBasedCheckpointFileManager"
    )
    monkeypatch.delenv("SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS", raising=False)
    D = dt.datetime
    span, gap = dt.timedelta(days=1), dt.timedelta(days=7)
    first = [(u, D(2024, 1, 1 + u % 5)) for u in range(1, 13)]
    first += [(u, D(2024, 2, 1)) for u in range(1, 13)]
    second = [(u, D(2024, 2, 6)) for u in range(2, 13, 2)] + [(99, D(2024, 4, 1))]

    def write(events, mode):
        rows = [(u, ts, ts + span) for u, ts in events]
        spark.createDataFrame(rows, _ERA_SCHEMA).coalesce(1).write.mode(mode).parquet(src)

    src = str(tmp_path / "src")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    write(first, "error")
    assert spark.conf.get(key) == CHECKPOINT_FILE_MANAGER
    spark.conf.set(key, file_context)
    try:
        _run_era_stream(spark, src, out, ckpt)
    finally:
        spark.conf.set(key, CHECKPOINT_FILE_MANAGER)
    assert _emitted_eras(spark, out)  # the January eras closed in the first run

    write(second, "append")
    _run_era_stream(spark, src, out, ckpt)
    resumed = _emitted_eras(spark, out)

    whole_out = str(tmp_path / "whole_out")
    _run_era_stream(spark, src, whole_out, str(tmp_path / "whole_ckpt"))
    assert resumed == _emitted_eras(spark, whole_out)

    all_eras, max_ts = _reference_interval_eras(
        [{"user_id": u, "ts": ts} for u, ts in first + second], span, gap
    )
    watermark = max_ts - dt.timedelta(days=5)
    assert resumed == sorted(er for er in all_eras if er[2] + gap < watermark)
    leftovers = [f for _, _, fs in os.walk(ckpt) for f in fs if ".tmp" in f]
    assert not leftovers, leftovers
