"""The workload passes and the per-call recorder they run under.

A pass is a fixed sequence of closed-loop calls from one driver thread:
each call into a layer's public function, together with the action that
materializes its result, starts only after the previous one returns.
``Runner.call`` times the call, charges it the CPU of the whole process
tree, checks its result and then, outside the timed window, releases
everything it left persisted so every pass does the same work.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from measure import Span, tree_cpu_s


class CheckFailed(Exception):
    """An output check did not hold."""


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def digest(df: DataFrame, *extra) -> tuple:
    """Row count and an order-insensitive content hash of ``df`` (plus
    any ``extra`` aggregates), computed by one action."""
    row = df.agg(
        F.count(F.lit(1)),
        F.sum(F.xxhash64(*[F.col(f"`{c}`") for c in df.columns]).cast("decimal(38,0)")),
        *extra,
    ).first()
    return tuple(str(v) for v in row)


class Runner:
    """Runs calls, records a span per call and counts failed calls."""

    def __init__(self, spark: SparkSession, known: dict[str, list]):
        self.spark = spark
        self.pass_no = 0
        self.spans: list[Span] = []
        self.progress: dict[int, list[dict]] = {}
        self.attempted = 0
        self.failed = 0
        # call name -> result, from earlier passes and earlier runs of
        # the same seed
        self.results: dict[str, list] = known
        self._pid = os.getpid()

    def call(self, name: str, fn: Callable[[], object], summary: Callable | None = None):
        """Run one call; ``summary`` maps its result to the value that
        must repeat across passes and runs (default: the result)."""
        self.attempted += 1
        g0 = self._gc_s()
        c0 = tree_cpu_s(self._pid)
        t0 = time.time()
        try:
            result = fn()
            err = None
        except Exception as exc:  # a raised call counts as a failed operation
            result, err = None, exc
            traceback.print_exc(file=sys.stderr)
        t1 = time.time()
        c1 = tree_cpu_s(self._pid)
        jsc = self.spark.sparkContext._jsc
        span = Span(name, t0, t1, self.pass_no, c1 - c0, jsc.getPersistentRDDs().size(),
                    self._gc_s() - g0)
        self.spans.append(span)
        self._release()
        if err is None:
            got = _jsonable(summary(result) if summary else result)
            expected = self.results.setdefault(name, got)
            if expected != got:
                err = CheckFailed(f"{name}: result {got!r} != earlier {expected!r}")
                print(f"check failed: {err}", file=sys.stderr)
        if err is not None:
            self.failed += 1
        return result

    def _gc_s(self) -> float:
        mf = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000

    def _release(self) -> None:
        self.spark.catalog.clearCache()
        sc = self.spark.sparkContext
        for rdd in list(sc._jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)
        sc._jvm.System.gc()

    def drain(self, writer, timeout: int = 120) -> list[dict]:
        """Start a stream, run it to completion and keep its progress."""
        q = writer.trigger(availableNow=True).start()
        try:
            # raises the query's own error if it failed
            if not q.awaitTermination(timeout):
                raise TimeoutError("stream did not drain")
            progress = list(q.recentProgress)
        finally:
            q.stop()
        self.progress.setdefault(self.pass_no, []).extend(progress)
        return progress


def _jsonable(v):
    if isinstance(v, dict):
        return {str(k): _jsonable(x) for k, x in sorted(v.items())}
    if isinstance(v, (list, tuple)):
        return [_jsonable(x) for x in v]
    return v


def _schemas(tables: dict[str, DataFrame]) -> dict[str, str]:
    return {n: df.schema.simpleString() for n, df in tables.items()}


CDM_TABLES = [
    "person", "visit_occurrence", "condition_occurrence", "drug_exposure",
    "measurement", "fact_relationship", "concept", "concept_ancestor",
]
FACT_DOMAINS = {8: "visit_occurrence", 13: "drug_exposure", 19: "condition_occurrence",
                21: "measurement"}
# the tables the transform pipeline rewrites each pass; the others are
# read as loaded (every table costs the pipeline a fixed ~13 jobs)
TRANSFORMED = ["condition_occurrence", "drug_exposure"]


def cdm_etl(run: Runner, data: str, work: str, manifest: dict) -> None:
    """Post-load batch pipeline over one site's OMOP load."""
    from pedsnetdcc_spark.cdm import (
        derive_condition_era,
        derive_drug_era,
        derive_observation_period,
    )
    from pedsnetdcc_spark.operators.cohort import subset_by_cohort
    from pedsnetdcc_spark.operators.integrity import (
        IntegrityProbe,
        referential_integrity_counts,
    )
    from pedsnetdcc_spark.plans.transform_pipeline import run_transformation
    from pedsnetdcc_spark.sources.io import TableStore, read_tables

    spark, expect_ = run.spark, manifest["expect"]
    root = os.path.join(work, "site")
    raw = run.call("sources.read_tables", lambda: read_tables(spark, data, CDM_TABLES),
                   _schemas)
    if raw is None:
        return
    store = TableStore(root, _txid=f"pass{run.pass_no}")

    def transform():
        tables = {n: raw[n] for n in TRANSFORMED}
        report = run_transformation(
            spark, store, tables, raw["person"], raw["concept"], site="site_a"
        )
        import pyarrow.dataset as ds

        rows = {
            n: ds.dataset(os.path.join(store.current_dir, n), format="parquet").count_rows()
            for n in sorted(os.listdir(store.current_dir))
        }
        for n, cnt in rows.items():
            expect(cnt == manifest["rows"][n], f"published {n} has {cnt} rows")
        return {"report": report, "rows": rows}

    if run.call("plans.run_transformation", transform) is None:
        return
    pub = dict(raw, **{n: store.read(spark, n) for n in TRANSFORMED})

    def condition_era():
        d = digest(derive_condition_era(pub["condition_occurrence"]),
                   F.sum("condition_occurrence_count"))
        expect(int(d[2]) == expect_["condition_era_count_sum"], f"condition era counts {d[2]}")
        return d

    def drug_era():
        d = digest(derive_drug_era(pub["drug_exposure"], raw["concept"], raw["concept_ancestor"]),
                   F.sum("drug_exposure_count"))
        expect(int(d[2]) == expect_["drug_era_count_sum"], f"drug era counts {d[2]}")
        return d

    def observation_period():
        d = digest(derive_observation_period({n: pub[n] for n in TRANSFORMED}),
                   F.countDistinct("person_id"))
        n = expect_["persons_with_facts"]
        expect(int(d[0]) == n and int(d[2]) == n, f"observation periods {d[0]}/{d[2]} != {n}")
        return d

    def integrity():
        fr = pub["fact_relationship"]
        probes = [
            IntegrityProbe(table, "fact_id_1", pub[table], f"{table}_id",
                           F.col("domain_concept_id_1") == code)
            for code, table in FACT_DOMAINS.items()
        ]
        rows = sorted(tuple(r) for r in referential_integrity_counts(fr, probes).collect())
        total = sum(r[1] for r in rows)
        expect(total == manifest["rows"]["fact_relationship"], f"probe totals {total}")
        return rows

    def cohort():
        co = pub["condition_occurrence"]
        cases = co.where(F.col("condition_concept_id") < 4_000_030).select("person_id")
        return digest(subset_by_cohort(pub["measurement"], cases, "person_id"))

    run.call("cdm.derive_condition_era", condition_era)
    run.call("cdm.derive_drug_era", drug_era)
    run.call("cdm.derive_observation_period", observation_period)
    run.call("operators.referential_integrity_counts", integrity)
    run.call("operators.subset_by_cohort", cohort)


def incremental_ingest(run: Runner, data: str, work: str, manifest: dict) -> None:
    """Write and stream paths: an interval-era stream over time-ordered
    event files, then the span-index lifecycle."""
    from pedsnetdcc_spark.datapipe.dedup import (
        build_span_index,
        compact_span_index,
        duplicate_spans_against_index,
        stream_span_index_append,
    )
    from pedsnetdcc_spark.streaming.incremental import (
        scoped_stream_shuffle_partitions,
        streaming_interval_eras,
    )

    spark = run.spark
    root = os.path.join(work, "ingest")

    def eras():
        ev = (
            spark.readStream.schema("person_id long, start_ts timestamp_ntz, end_ts timestamp_ntz")
            .option("maxFilesPerTrigger", "1")
            .parquet(os.path.join(data, "events"))
        )
        out = streaming_interval_eras(ev, ["person_id"], "start_ts", "end_ts",
                                      gap_days=2, watermark="3 days")
        sink = os.path.join(root, "eras")
        with scoped_stream_shuffle_partitions(spark):
            progress = run.drain(
                out.writeStream.format("parquet").option("path", sink)
                .option("checkpointLocation", os.path.join(root, "eras_ckpt"))
                .outputMode("append")
            )
        rows_in = sum(p["numInputRows"] for p in progress)
        expect(rows_in == manifest["rows"]["events"], f"stream read {rows_in} rows")
        d = digest(spark.read.parquet(sink), F.sum("era_count"))
        expect(int(d[0]) > 0, "no era was finalized")
        return d

    idx = os.path.join(root, "span_index")

    def append():
        src = os.path.join(data, "span_gens")
        progress = run.drain(
            stream_span_index_append(
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", "1").parquet(src),
                idx, generation_offset=0, checkpoint=os.path.join(root, "span_ckpt"),
            )
        )
        return [p["numInputRows"] for p in progress]

    def compact():
        folded = compact_span_index(spark, idx)
        gens = manifest["expect"]["span_generations"]
        expect(folded["generations_folded"] == gens, f"compaction folded {folded}")
        return folded

    def against():
        new = spark.read.parquet(os.path.join(data, "span_new.parquet"))
        return digest(duplicate_spans_against_index(new, idx, min_count=2))

    def build():
        base = spark.read.parquet(os.path.join(data, "span_base.parquet"))
        return build_span_index(base, idx, "doc_id", "text", k=8, digest="xxh64")

    run.call("streaming.streaming_interval_eras", eras)
    if run.call("datapipe.build_span_index", build) is None:
        return
    run.call("datapipe.stream_span_index_append", append)
    run.call("datapipe.compact_span_index", compact)
    run.call("datapipe.duplicate_spans_against_index", against)


WORKLOADS = {
    "cdm_etl": cdm_etl,
    "incremental_ingest": incremental_ingest,
}
