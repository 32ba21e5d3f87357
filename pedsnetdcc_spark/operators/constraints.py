"""Constraint validation — PKs, NOT NULLs, FKs as checking operators.

The reference issues ``ALTER TABLE`` DDL for primary keys, NOT NULL,
and foreign keys after each build (reference: pedsnetdcc/
primary_keys.py:19-40,71+, not_nulls.py:15-80, foreign_keys.py:18-44,
85+).  Parquet/Spark have no enforced constraints, so the engine maps
each to a validation pass (SURVEY.md §1 "Spark mapping"): PK →
uniqueness assertion, NOT NULL → null scan, FK → referential-integrity
anti-join (the same probe shape as check_fact_relationship).

Each check returns a small violations DataFrame (empty = constraint
holds) so callers can assert, quarantine, or log; `validate_table`
runs a TableSchema's full constraint set: its PK and every NOT NULL
column in one pass over the data (`key_and_null_counts`), then one
anti-join per foreign key.

Index DDL is a deliberate no-op in Spark (full-scan engine, SURVEY.md
§4); the reference's index column lists serve instead as clustering
advice, and its md5 index-name convention is kept for parity
(``make_index_name``).
"""

from __future__ import annotations

import hashlib
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

NAME_LIMIT = 30  # Oracle identifier limit (abstract_transform.py:128-149)


def make_index_name(table_name: str, column_name: str) -> str:
    """Reference-parity index naming (abstract_transform.py:128-149):
    ``provider.gender_source_concept_name`` → ``pro_gscn_<md5>_ix`` —
    abbreviated names plus an md5 segment to dodge collisions within
    the 30-char Oracle limit."""
    table_abbrev = table_name[:3]
    column_abbrev = "".join(x[0] for x in column_name.split("_"))
    md5 = hashlib.md5(f"{table_name}.{column_name}".encode()).hexdigest()
    hashlen = NAME_LIMIT - (len(table_abbrev) + len(column_abbrev) + 3 + len("ix"))
    return "_".join([table_abbrev, column_abbrev, md5[:hashlen], "ix"])


def pk_violations(df: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """Key groups appearing more than once: ``key_cols + [cnt]``."""
    return (
        df.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") > 1)
    )


def not_null_violation_counts(
    df: DataFrame, cols: Sequence[str]
) -> DataFrame:
    """One row per column: ``(column, null_count)`` (not_nulls.py maps
    each non-nullable column to a SET NOT NULL; here a single aggregate
    pass counts violations for all columns at once)."""
    aggs = [
        F.count(F.when(F.col(c).isNull(), 1)).alias(c) for c in cols
    ]
    wide = df.agg(*aggs)
    stack = ", ".join(f"'{c}', `{c}`" for c in cols)
    return wide.selectExpr(
        f"stack({len(cols)}, {stack}) as (column, null_count)"
    )


def fk_violations(
    df: DataFrame, fk_col: str, ref: DataFrame, ref_col: str
) -> DataFrame:
    """Rows whose non-null FK has no referent (foreign_keys.py's ADD
    CONSTRAINT ≙ this anti-join probe)."""
    keys = ref.select(F.col(ref_col).alias("__rk")).distinct()
    return (
        df.where(F.col(fk_col).isNotNull())
        .join(keys, F.col(fk_col) == F.col("__rk"), "left_anti")
    )


def key_and_null_counts(df: DataFrame, schema) -> dict[str, int]:
    """PK-duplicate groups and every NOT NULL count of a TableSchema in
    ONE action: a two-level aggregate (per-key row and null counts, then
    their totals) instead of a PK count plus a NOT NULL collect.  The
    values are exactly what :func:`pk_violations` (as a count) and
    :func:`not_null_violation_counts` give."""
    key = list(schema.primary_key)
    nn_cols = [f.name for f in schema.struct.fields if not f.nullable and f.name in df.columns]
    if not key and not nn_cols:
        return {}
    nulls = [
        F.count(F.when(F.col(c).isNull(), 1)).alias(f"__null{i}") for i, c in enumerate(nn_cols)
    ]
    if key:
        per_key = df.groupBy(*key).agg(F.count(F.lit(1)).alias("__cnt"), *nulls)
        row = per_key.agg(
            F.count(F.when(F.col("__cnt") > 1, 1)),
            *[F.coalesce(F.sum(f"__null{i}"), F.lit(0)) for i in range(len(nn_cols))],
        ).first()
        out = {"pk:" + ",".join(key): row[0]}
        null_counts = row[1:]
    else:
        out, null_counts = {}, df.agg(*nulls).first()
    out.update({f"notnull:{c}": n for c, n in zip(nn_cols, null_counts)})
    return out


def fk_violation_counts(
    df: DataFrame, schema, refs: dict[str, DataFrame] | None
) -> dict[str, int]:
    """Dangling-reference counts for each of a TableSchema's foreign
    keys whose referenced table is in ``refs`` (one anti-join each)."""
    out: dict[str, int] = {}
    for fk_col, ref_table, ref_col in schema.foreign_keys:
        if refs and ref_table in refs and fk_col in df.columns:
            out[f"fk:{fk_col}->{ref_table}.{ref_col}"] = fk_violations(
                df, fk_col, refs[ref_table], ref_col
            ).count()
    return out


def validate_table(
    df: DataFrame,
    schema,  # TableSchema
    refs: dict[str, DataFrame] | None = None,
) -> dict[str, int]:
    """Run a TableSchema's declared constraints; returns violation
    counts keyed by constraint name (empty dict values of 0 = clean):
    the PK and NOT NULL counts from one pass, then one anti-join per
    foreign key whose table is in ``refs``."""
    return {**key_and_null_counts(df, schema), **fk_violation_counts(df, schema, refs)}
