#!/usr/bin/env python
"""Per-query wall-time attribution via the Spark event log.

Usage: python scripts/profile_query.py <query> [<query> ...]

Runs each query once to warm (scan/JIT), once timed, with
spark.eventLog.enabled so the timed window can be decomposed into
Spark jobs and the gaps between them (driver/Catalyst/scheduler
time).  Prints, per query: total wall, sum of job wall, driver gap,
and the top jobs with their first-stage names.  This answers the
guide-§1 question "where is the time actually going" for a bench
where data is tiny and fixed overheads dominate.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _cpu_ticks, _steal_pct  # noqa: E402


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    evdir = "/tmp/spark-events-profile"
    import shutil

    shutil.rmtree(evdir, ignore_errors=True)
    os.makedirs(evdir, exist_ok=True)

    from pedsnetdcc_spark.queries import QUERIES
    from pedsnetdcc_spark.session import build_session

    spark = build_session(
        app_name="profile_query",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file:{evdir}",
            # plain-text logs: no zstandard module on this box
            "spark.eventLog.compress": "false",
        },
    )
    sc = spark.sparkContext

    # warm python workers like bench.py does
    def _warm_op(it):
        import numpy  # noqa: F401
        import pandas  # noqa: F401
        yield from it

    spark.range(64).repartition(64).mapInPandas(_warm_op, "id long") \
        .mapInPandas(_warm_op, "id long").count()

    windows = {}
    steals = {}
    for name in names:
        fn = QUERIES[name]
        fn(spark, sf_dir).count()          # warm run
        spark.catalog.clearCache()
        ticks0 = _cpu_ticks()
        t0 = time.time() * 1000
        fn(spark, sf_dir).count()          # timed run
        t1 = time.time() * 1000
        # every profile window carries its own /proc/stat steal note
        steal = _steal_pct(ticks0, _cpu_ticks())
        if steal is not None:
            steals[name] = steal
        spark.catalog.clearCache()
        windows[name] = (t0, t1)
    spark.stop()

    # Spark 4 rolling event logs are DIRECTORIES (eventlog_v2_<app>/
    # events_1_<app> + appstatus marker); plain logs are files
    paths = []
    for f in sorted(os.listdir(evdir)):
        p = os.path.join(evdir, f)
        if os.path.isdir(p):
            paths.extend(
                os.path.join(p, g) for g in sorted(os.listdir(p))
                if g.startswith("events_")
            )
        elif not f.endswith(".inprogress"):
            paths.append(p)

    def _lines():
        import io

        for p in paths:
            if p.endswith(".zstd"):
                import zstandard

                with open(p, "rb") as raw:
                    reader = zstandard.ZstdDecompressor().stream_reader(raw)
                    yield from io.TextIOWrapper(reader, encoding="utf-8")
            else:
                with open(p) as f:
                    yield from f

    jobs = []  # (start_ms, end_ms, job_id, desc)
    starts = {}
    for line in _lines():
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        e = ev.get("Event")
        if e == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            starts[ev["Job ID"]] = (
                ev["Submission Time"],
                props.get("spark.job.description")
                or props.get("callSite.short", ""),
            )
        elif e == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in starts:
                s, desc = starts.pop(jid)
                jobs.append((s, ev["Completion Time"], jid, desc))

    for name, (t0, t1) in windows.items():
        wall = t1 - t0
        inwin = sorted(
            (j for j in jobs if j[0] >= t0 - 5 and j[1] <= t1 + 5),
            key=lambda j: j[0],
        )
        jobsum = sum(j[1] - j[0] for j in inwin)
        # merge overlapping job intervals to get covered time
        covered = 0.0
        cur_s = cur_e = None
        for s, e, _, _ in inwin:
            if cur_s is None:
                cur_s, cur_e = s, e
            elif s <= cur_e:
                cur_e = max(cur_e, e)
            else:
                covered += cur_e - cur_s
                cur_s, cur_e = s, e
        if cur_s is not None:
            covered += cur_e - cur_s
        print(f"\n=== {name}: wall {wall/1000:.2f}s, {len(inwin)} jobs, "
              f"job-covered {covered/1000:.2f}s, "
              f"driver-gap {(wall-covered)/1000:.2f}s, "
              f"steal {steals.get(name, 'n/a')}% ===")
        prev_end = t0
        for s, e, jid, desc in inwin:
            gap = s - prev_end
            print(f"  job {jid:4d}  {(e-s)/1000:7.3f}s  gap-before "
                  f"{gap/1000:6.3f}s  {desc[:90]}")
            prev_end = max(prev_end, e)


if __name__ == "__main__":
    main()
