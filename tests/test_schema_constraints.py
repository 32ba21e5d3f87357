"""Schema-registry and constraint-operator tests, including the
reference's tier-1 golden-name parity."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from pedsnetdcc_spark.operators.constraints import (
    fk_violations,
    make_index_name,
    not_null_violation_counts,
    pk_violations,
    validate_table,
)
from pedsnetdcc_spark.schema_registry import (
    FACT_RELATIONSHIP_DOMAINS,
    VOCAB_TABLES,
    stock_schemas,
    transform_schema,
)
from pyspark.sql import types as T


def test_make_index_name_reference_golden():
    # golden from the reference's own docstring
    # (abstract_transform.py:131-134)
    assert (
        make_index_name("provider", "gender_source_concept_name")
        == "pro_gscn_ae1fd5b22b92397ca9_ix"
    )
    assert len(make_index_name("provider", "gender_source_concept_name")) <= 30


def test_stock_schemas_families():
    s = stock_schemas("2.3.0")
    assert s["person"].primary_key == ("person_id",)
    assert not s["person"].field("person_id").nullable
    assert s["fact_relationship"].primary_key == ()  # no PK (special case)
    assert "concept" in VOCAB_TABLES
    assert FACT_RELATIONSHIP_DOMAINS[21] == "measurement"
    try:
        stock_schemas("9.9.9")
        raise AssertionError("expected KeyError")
    except KeyError:
        pass


def test_transform_schema_appends():
    s = stock_schemas()["person"]
    s2 = transform_schema(s, [T.StructField("site", T.StringType(), True)])
    assert s2.struct.fieldNames()[-1] == "site"
    assert s2.primary_key == s.primary_key
    assert len(s2.struct) == len(s.struct) + 1


def test_validate_table_reports_violations(spark):
    person = spark.createDataFrame(
        [
            (1, dt.datetime(2000, 1, 1), 8507, None),
            (1, dt.datetime(2001, 1, 1), 8532, 10),  # dup pk
            (3, None, 8507, 99),  # null birth_datetime, dangling location
        ],
        "person_id long, birth_datetime timestamp, gender_concept_id int, location_id long",
    )
    location = spark.createDataFrame([(10,)], "location_id long")
    out = validate_table(person, stock_schemas()["person"], {"location": location})
    assert out["pk:person_id"] == 1
    assert out["notnull:birth_datetime"] == 1
    assert out["notnull:person_id"] == 0
    assert out["fk:location_id->location.location_id"] == 1


def test_validate_table_equals_separate_checks(spark):
    """The fused PK/NOT NULL aggregate reports exactly what the three
    separate checks give: duplicate key groups (a pair, a triplicate
    and a NULL-key group), NULLs in two NOT NULL columns and one
    dangling FK."""
    rows = [
        (1, dt.datetime(2000, 1, 1), 8507, 10),
        (1, dt.datetime(2000, 1, 2), 8507, 10),  # pair
        (2, None, 8532, None),
        (2, dt.datetime(2000, 1, 3), None, 10),
        (2, dt.datetime(2000, 1, 4), 8507, 10),  # triplicate
        (None, dt.datetime(2000, 1, 5), 8507, 10),
        (None, None, 8532, 10),  # NULL-key group
        (3, dt.datetime(2000, 1, 6), 8507, 99),  # dangling location
        (4, dt.datetime(2000, 1, 7), None, 10),
    ]
    person = spark.createDataFrame(
        rows, "person_id long, birth_datetime timestamp, gender_concept_id int, location_id long"
    )
    location = spark.createDataFrame([(10,)], "location_id long")
    schema = stock_schemas()["person"]
    got = validate_table(person, schema, {"location": location})

    want = {"pk:person_id": pk_violations(person, ["person_id"]).count()}
    nn = [f.name for f in schema.struct.fields if not f.nullable and f.name in person.columns]
    for r in not_null_violation_counts(person, nn).collect():
        want[f"notnull:{r['column']}"] = r["null_count"]
    want["fk:location_id->location.location_id"] = fk_violations(
        person, "location_id", location, "location_id"
    ).count()
    assert got == want
    assert got["pk:person_id"] == 3
    assert got["notnull:birth_datetime"] == 2 and got["notnull:gender_concept_id"] == 2
    assert got["notnull:person_id"] == 2
    assert got["fk:location_id->location.location_id"] == 1


def test_fk_violation_rows(spark):
    df = spark.createDataFrame([(1, 10), (2, 99), (3, None)], "id long, fk long")
    ref = spark.createDataFrame([(10,)], "k long")
    bad = fk_violations(df, "fk", ref, "k").collect()
    assert [r["id"] for r in bad] == [2]  # nulls are not violations


def test_pk_and_not_null_ops(spark):
    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, None)], "k long, v string"
    )
    pv = pk_violations(df, ["k", "v"]).collect()
    assert len(pv) == 1 and pv[0]["cnt"] == 2
    nn = {r["column"]: r["null_count"] for r in not_null_violation_counts(df, ["k", "v"]).collect()}
    assert nn == {"k": 0, "v": 1}
