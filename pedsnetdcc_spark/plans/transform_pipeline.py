"""The flagship ``transform`` pipeline — run_transformation end to end.

Reference flow (pedsnetdcc/transform_runner.py:809-942, traced in
SURVEY.md §3.1): create a ``<schema>_transformed`` build area; for every
non-vocab table compose the transform chain and materialize it with
CTAS statements run by a 25-process pool; then add constraints and
atomically swap the transformed schema into place (keeping a backup for
``undo``).

Spark shape: per-table jobs submitted concurrently from the driver
(the scheduler interleaves their stages), each job = compose the
DataFrame chain → stage parquet → validate the staged files; then one
atomic ``publish``.  Constraint DDL becomes a validation report
(operators/constraints.py): each table's PK and NOT NULL counts come
from one aggregate over its staged files, inside that table's job and
before publish; foreign keys between tables of this build are probed
after publish, against the published tables.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from pedsnetdcc_spark.cdm import transform_cdm_table
from pedsnetdcc_spark.operators.constraints import fk_violation_counts, key_and_null_counts
from pedsnetdcc_spark.plans.pipeline import Job, check_jobs, run_parallel
from pedsnetdcc_spark.schema_registry import VOCAB_TABLES, stock_schemas
from pedsnetdcc_spark.sources.clustering import CLUSTER_SPECS
from pedsnetdcc_spark.sources.io import TableStore


def run_transformation(
    spark: SparkSession,
    store: TableStore,
    tables: dict[str, DataFrame],
    person: DataFrame,
    concept: DataFrame,
    site: str,
    transform: Callable[..., DataFrame] = transform_cdm_table,
    pool_size: int = 25,
    validate: bool = True,
    model_version: str = "2.3.0",
    cluster_specs: dict[str, list[str]] | None = None,
    cluster_files: int | None = None,
) -> dict[str, dict[str, int]]:
    """Transform every non-vocab table, stage, and atomically publish.

    Each staged table whose name appears in ``cluster_specs`` (default:
    sources/clustering.CLUSTER_SPECS — the reference's post-load index
    column lists, reference indexes.py:202-317) is written CLUSTERED on
    those columns: range-partitioned + sorted so person_id/concept-id
    predicates prune files via parquet min/max statistics, the lake
    analog of the reference rebuilding its b-tree indexes after every
    load.  Pass ``cluster_specs={}`` to disable.

    Returns the per-table constraint-validation report (empty when
    ``validate=False``): PK and NOT NULL counts for every table with a
    stock schema, plus an FK count for each foreign key whose
    referenced table is also in this build (the published tables are
    read only for those).  The prior generation stays in ``_backup`` —
    ``store.undo()`` is the reference's ``undo`` command.
    """
    specs = CLUSTER_SPECS if cluster_specs is None else cluster_specs
    work = {n: df for n, df in tables.items() if n not in VOCAB_TABLES}
    schemas = stock_schemas(model_version) if validate else {}

    def build(name: str, df: DataFrame) -> Callable[[], object]:
        def job():
            out = transform(df, name, person, concept, site)
            spec = [c for c in specs.get(name, []) if c in out.columns]
            store.stage(out, name, cluster_by=spec or None, cluster_files=cluster_files)
            if name not in schemas:
                return None
            # read back with the known schema: no inference job
            staged = spark.read.schema(out.schema).parquet(
                os.path.join(store.staging_dir, name)
            )
            return out.columns, key_and_null_counts(staged, schemas[name])

        return job

    jobs = [Job(name, build(name, df)) for name, df in sorted(work.items())]
    done = run_parallel(jobs, pool_size=pool_size)
    check_jobs(done)
    store.publish()

    report: dict[str, dict[str, int]] = {}
    published = functools.cache(lambda n: store.read(spark, n))
    results = {j.name: j.result for j in done}
    for name in work:
        if results[name] is None:
            continue
        columns, report[name] = results[name]
        refs = {
            ref: published(ref)
            for fk, ref, _ in schemas[name].foreign_keys
            if ref in work and fk in columns
        }
        if refs:
            report[name].update(fk_violation_counts(published(name), schemas[name], refs))
    return report
