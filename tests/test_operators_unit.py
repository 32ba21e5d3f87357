"""Unit tests for operator paths the DuckDB oracles don't cover:
distributed id assignment, BMI pairing, LMS branch math, TableStore
publish/undo, CSV id mapping, view DDL goldens (the reference's tier-1
golden-SQL style, SURVEY.md §5)."""

from __future__ import annotations

import datetime as dt
import math
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from pedsnetdcc_spark.operators.anthro import (
    BMI_CONCEPT_ID,
    asof_match_nearest,
    derive_bmi,
    lms_z_score,
)
from pedsnetdcc_spark.operators.ids import IdAllocator, assign_surrogate_ids, build_id_map
from pedsnetdcc_spark.sources.csv_maps import map_external_ids
from pedsnetdcc_spark.sources.io import TableStore, read_table
from pedsnetdcc_spark.sources.views import generate_view_ddl, view_ddl


def test_distributed_ids_match_window_ids(spark, sf_dir):
    """The scalable two-phase numbering must produce the identical
    (key → id) mapping as the reference-faithful global window."""
    cust = read_table(spark, sf_dir, "customer").select("c_custkey")
    w = assign_surrogate_ids(cust, "id", "c_custkey", base=100, mode="window")
    d = assign_surrogate_ids(cust, "id", "c_custkey", base=100, mode="distributed", num_partitions=7)
    assert sorted(map(tuple, w.collect())) == sorted(map(tuple, d.collect()))
    ids = [r["id"] for r in d.collect()]
    assert sorted(ids) == list(range(101, 101 + len(ids)))  # contiguous from base


def test_distributed_ids_match_window_on_aggregated_composite_key(spark):
    """An aggregated input over many partitions (a groupBy over
    repartition(17)) with a composite key: its count and id branches
    must number one materialization of the range exchange, so the
    distributed ids equal the window ids row for row."""
    src = (
        spark.range(6000)
        .withColumn("a", (F.col("id") * 7919) % 401)
        .withColumn("b", F.col("id") % 7)
    )
    agg = src.repartition(17).groupBy("a", "b").agg(F.count(F.lit(1)).alias("n"))
    w = assign_surrogate_ids(agg, "id", ["a", "b"], base=-5, mode="window")
    d = assign_surrogate_ids(agg, "id", ["a", "b"], base=-5, mode="distributed", num_partitions=9)
    want = sorted(map(tuple, w.collect()))
    assert sorted(map(tuple, d.collect())) == want
    assert [r[3] for r in want] == list(range(-4, -4 + len(want)))


def test_allocator_reserve_and_seed(tmp_path):
    a = IdAllocator(str(tmp_path / "state.json"))
    assert a.reserve("t", 10) == 0
    assert a.reserve("t", 5) == 10
    a.seed("u", 99)
    assert a.reserve("u", 1) == 99
    # seeding below the current watermark must not rewind it
    a.seed("t", 3)
    assert a.reserve("t", 1) == 15


def test_build_id_map_idempotent_extension(spark, sf_dir, tmp_path):
    """Re-running with an existing map only numbers the new keys —
    the reference's left-anti + reserve flow (id_mapping_transform.py)."""
    alloc = IdAllocator(str(tmp_path / "alloc.json"))
    nation = read_table(spark, sf_dir, "nation")
    first = nation.filter(F.col("n_nationkey") < 10).select("n_nationkey")
    m1 = build_id_map(first, None, "n_nationkey", alloc, "nation")
    m1_rows = {r["site_id"]: r["dcc_id"] for r in m1.collect()}
    m2 = build_id_map(nation.select("n_nationkey"), spark.createDataFrame(
        [(k, v) for k, v in m1_rows.items()], "site_id int, dcc_id long"
    ), "n_nationkey", alloc, "nation")
    m2_rows = {r["site_id"]: r["dcc_id"] for r in m2.collect()}
    assert len(m2_rows) == 25
    for k, v in m1_rows.items():
        assert m2_rows[k] == v  # stable across runs
    assert sorted(m2_rows.values()) == list(range(1, 26))  # still contiguous


def _ts(day: int, hour: int = 0) -> dt.datetime:
    return dt.datetime(2024, 1, day, hour)


def test_asof_prefers_nearer_and_respects_tolerance(spark):
    left = spark.createDataFrame(
        [(1, 100, _ts(10)), (2, 100, _ts(20)), (3, 200, _ts(5))],
        "id long, k long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(100, _ts(8), 8.0), (100, _ts(11), 11.0), (200, _ts(1), 1.0)],
        "k long, ts timestamp, v double",
    )
    out = asof_match_nearest(
        left, right, ["k"], "ts", "ts", tolerance_sec=3 * 86400, right_cols={"v": "mv"}
    )
    got = {r["id"]: r["mv"] for r in out.collect()}
    assert got[1] == 11.0  # day 11 (dist 1) beats day 8 (dist 2)
    assert got[2] is None  # nothing within 3 days of day 20
    assert got[3] is None  # day 1 is 4 days before day 5 — outside tolerance


def test_asof_tie_prefers_earlier(spark):
    left = spark.createDataFrame([(1, 1, _ts(10))], "id long, k long, ts timestamp")
    right = spark.createDataFrame(
        [(1, _ts(8), 8.0), (1, _ts(12), 12.0)], "k long, ts timestamp, v double"
    )
    out = asof_match_nearest(
        left, right, ["k"], "ts", "ts", tolerance_sec=5 * 86400, right_cols={"v": "mv"}
    )
    assert out.collect()[0]["mv"] == 8.0


def test_derive_bmi_math_and_window(spark):
    rows = [
        # person 1: weight 30kg day 10; height 120cm day 20 (10 days) → BMI
        (1, 1, 3013762, _ts(10), 30.0),
        (2, 1, 3023540, _ts(20), 120.0),
        # person 2: weight but height 90 days away → no BMI
        (3, 2, 3013762, _ts(1), 50.0),
        (4, 2, 3023540, dt.datetime(2024, 6, 1), 150.0),
    ]
    meas = spark.createDataFrame(
        rows,
        "measurement_id long, person_id long, measurement_concept_id int, "
        "measurement_datetime timestamp, value_as_number double",
    )
    out = derive_bmi(meas).collect()
    assert len(out) == 1
    r = out[0]
    assert r["person_id"] == 1
    assert r["measurement_concept_id"] == BMI_CONCEPT_ID
    assert r["value_as_number"] == pytest.approx(30.0 / (1.2**2))


def test_lms_z_branches(spark):
    df = spark.createDataFrame([(1, "a", 20.0), (2, "b", 20.0), (3, "c", 20.0)], "id long, g string, v double")
    ref = spark.createDataFrame(
        [("a", 0.0, 10.0, 0.5), ("b", 2.0, 10.0, 0.5), ("c", -0.5, 10.0, 0.1)],
        "g string, L double, M double, S double",
    )
    out = {r["id"]: r["z_score"] for r in lms_z_score(df, ref, ["g"], "v").collect()}
    assert out[1] == pytest.approx(math.log(2.0) / 0.5)  # L=0 branch
    assert out[2] == pytest.approx((2.0**2 - 1) / (2.0 * 0.5))
    assert out[3] == pytest.approx((2.0**-0.5 - 1) / (-0.5 * 0.1))


def test_table_store_publish_undo(spark, sf_dir):
    root = tempfile.mkdtemp()
    st = TableStore(root, _txid="t1")
    nation = read_table(spark, sf_dir, "nation")
    st.stage(nation, "nation")
    st.publish()
    assert st.read(spark, "nation").count() == 25
    st2 = TableStore(root, _txid="t2")
    st2.stage(nation.limit(5), "nation")
    st2.publish()
    assert st2.read(spark, "nation").count() == 5
    st2.undo()
    assert st2.read(spark, "nation").count() == 25
    with pytest.raises(FileNotFoundError):
        st2.undo()


def test_map_external_ids_csv_roundtrip(spark, tmp_path):
    src = tmp_path / "ext.csv"
    src.write_text("ext_id\nB\nA\nC\nA\n")
    alloc = IdAllocator(str(tmp_path / "a.json"))
    out_dir = str(tmp_path / "map_out")
    m = map_external_ids(spark, str(src), out_dir, "ext_id", alloc, "ext")
    rows = {r["site_id"]: r["dcc_id"] for r in m.collect()}
    assert rows == {"A": 1, "B": 2, "C": 3}  # ordered by site id, deduped
    back = spark.read.option("header", "true").csv(out_dir)
    assert back.count() == 3


def test_view_ddl_golden():
    # tier-1 golden-string style (reference tests compare compiled SQL,
    # e.g. tests/age_transform_test.py:57-67)
    assert (
        view_ddl("person", ["Person_ID", "BIRTH_DATETIME"])
        == "CREATE OR REPLACE VIEW v_person AS SELECT Person_ID AS person_id, "
        "BIRTH_DATETIME AS birth_datetime FROM person"
    )


def test_generate_view_ddl_multi(spark, sf_dir):
    nation = read_table(spark, sf_dir, "nation")
    ddl = generate_view_ddl({"nation": nation})
    assert ddl.startswith("CREATE OR REPLACE VIEW v_nation AS SELECT ")
    assert ddl.rstrip().endswith("FROM nation;")


def test_salted_join_preserves_semantics(spark, sf_dir):
    from pedsnetdcc_spark.util import salted_join

    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name", "c_nationkey"
    )
    plain = orders.join(cust, "o_custkey").select("o_orderkey", "c_name")
    salted = salted_join(orders, cust, "o_custkey", salt=4).select(
        "o_orderkey", "c_name"
    )
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_profile_table_counts_nulls_and_distincts(spark):
    from pedsnetdcc_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (4, None), (5, "b")],
        "id long, s string",
    )
    got = {r["column"]: r for r in profile_table(df).collect()}
    assert got["id"]["n_rows"] == 5 and got["id"]["n_null"] == 0
    assert got["id"]["n_distinct"] == 5
    assert got["s"]["n_null"] == 2
    assert got["s"]["n_distinct"] == 2  # nulls excluded, SQL semantics


def test_numeric_profile_stats_and_percentiles(spark):
    """numeric_profile: exact n/null/mean/min/max; percentile_approx at
    default accuracy returns an actual element whose rank error on 1000
    distinct values is <= n/10000 (i.e. exact here); string columns are
    auto-excluded and rejected when named."""
    import pytest as _pytest

    from pedsnetdcc_spark.operators.profile import numeric_profile

    rows = [(i, float(i), "s") for i in range(1, 1001)]
    rows.append((None, None, "s"))
    df = spark.createDataFrame(rows, "id long, v double, s string")
    got = {r["column"]: r for r in numeric_profile(df).collect()}
    assert set(got) == {"id", "v"}  # string column auto-excluded
    p = got["v"]
    assert p["n_rows"] == 1001 and p["n_null"] == 1
    assert p["min"] == 1.0 and p["max"] == 1000.0
    assert abs(p["mean"] - 500.5) < 1e-9
    assert p["p0_5"] == 500.0 and p["p0_95"] == 950.0 and p["p0_05"] == 50.0
    with _pytest.raises(ValueError):
        numeric_profile(df, cols=["s"])
    with _pytest.raises(ValueError):
        numeric_profile(df.select("s"))


def test_jsonl_roundtrip_and_quarantine(spark, tmp_path, sf_dir):
    from pedsnetdcc_spark.sources.io import read_table
    from pedsnetdcc_spark.sources.jsonl import (
        jsonl_roundtrip_check,
        read_jsonl,
        write_jsonl,
    )

    docs = read_table(spark, sf_dir, "documents")
    assert jsonl_roundtrip_check(spark, docs, str(tmp_path / "rt"), "doc_id")

    # sharded + within-shard-ordered write: shard count respected,
    # rows intact, each shard file locally sorted by doc_id
    out = tmp_path / "sharded"
    write_jsonl(docs, str(out), compression="gzip", shards=3, order_col="doc_id")
    back = read_jsonl(spark, str(out), docs.schema)
    assert back.count() == docs.count()
    import glob
    import gzip
    import json as _json

    files = glob.glob(str(out / "part-*.json.gz"))
    assert len(files) == 3
    for f in files:
        with gzip.open(f, "rt") as fh:
            ids = [_json.loads(line)["doc_id"] for line in fh]
        assert ids == sorted(ids)

    # quarantine mode: a malformed line lands in the corrupt column
    # instead of poisoning the scan
    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "part-0.jsonl").write_text(
        '{"doc_id": 1, "text": "ok"}\n{"doc_id": oops not json\n'
    )
    from pyspark.sql.types import LongType, StringType, StructType

    schema = StructType().add("doc_id", LongType()).add("text", StringType())
    rows = read_jsonl(
        spark, str(bad), schema, corrupt_col="_corrupt_record"
    ).cache()
    good = rows.where(F.col("_corrupt_record").isNull())
    quarantined = rows.where(F.col("_corrupt_record").isNotNull())
    assert good.count() == 1 and quarantined.count() == 1
    assert quarantined.first()["doc_id"] is None
    rows.unpersist()


def test_asof_direction_modes(spark):
    """backward takes the latest at-or-before, forward the earliest
    at-or-after, nearest the closest — all within tolerance."""
    from datetime import datetime

    from pedsnetdcc_spark.operators.anthro import asof_match_nearest

    t = lambda s: datetime.fromisoformat(f"2024-01-01 00:{s}")
    left = spark.createDataFrame([(1, 1, t("10:00"))], ["event_id", "k", "ts"])
    right = spark.createDataFrame(
        [(1, t("09:00"), 90.0), (1, t("10:00"), 100.0), (1, t("10:30"), 103.0)],
        ["k", "ts", "v"],
    )
    def run(direction, tol=3600):
        out = asof_match_nearest(
            left, right, ["k"], "ts", "ts", tol, {"v": "rv"}, direction=direction
        ).collect()[0]
        return out["rv"]

    assert run("backward") == 100.0   # same-instant counts as at-or-before
    assert run("forward") == 100.0    # ... and as at-or-after
    assert run("nearest") == 100.0
    # shift left to 10:10: backward -> 10:00, forward -> 10:30
    left2 = spark.createDataFrame([(1, 1, t("10:10"))], ["event_id", "k", "ts"])
    def run2(direction, tol=3600):
        out = asof_match_nearest(
            left2, right, ["k"], "ts", "ts", tol, {"v": "rv"}, direction=direction
        ).collect()[0]
        return out["rv"]

    assert run2("backward") == 100.0
    assert run2("forward") == 103.0
    assert run2("nearest") == 100.0  # 10 s back beats 20 s forward
    # tolerance excludes everything -> NULL
    assert run2("backward", tol=5) is None


def test_interval_join_once_per_pair_and_semi(spark):
    """Intervals spanning MANY buckets must still emit each overlapping
    pair exactly once (overlap-start-bucket rule), regardless of bucket
    width; left_semi keeps each left row once."""
    from datetime import datetime

    from pedsnetdcc_spark.operators.interval_join import interval_join

    t = lambda h: datetime.fromisoformat(f"2024-01-01 {h:02d}:00")
    left = spark.createDataFrame(
        [(1, 10, t(0), t(12)), (1, 11, t(20), t(21)), (2, 12, t(0), t(23))],
        ["k", "lid", "s", "e"],
    )
    right = spark.createDataFrame(
        [(1, 20, t(6), t(7)), (1, 21, t(11), t(22)), (2, 22, t(1), t(2)),
         (3, 23, t(0), t(23))],
        ["k", "rid", "s", "e"],
    )
    for width in (600, 3600, 86400):
        pairs = sorted(
            (r["k"], r["l_lid"], r["r_rid"])
            for r in interval_join(
                left, right, ["k"], "s", "e", "s", "e", bucket_seconds=width
            ).collect()
        )
        assert pairs == [(1, 10, 20), (1, 10, 21), (1, 11, 21), (2, 12, 22)], (
            width, pairs,
        )
    semi = interval_join(
        left, right, ["k"], "s", "e", "s", "e", bucket_seconds=3600,
        how="left_semi",
    )
    assert sorted(r["l_lid"] for r in semi.collect()) == [10, 11, 12]
