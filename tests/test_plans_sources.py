"""Job orchestration, force mode, package-runner hook, namespace
bootstrap, delete/truncate analogs, view registration."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pedsnetdcc_spark.plans.packages import (
    dataframe_package,
    register_package,
    run_package,
)
from pedsnetdcc_spark.plans.pipeline import Job, check_jobs, run_parallel, run_serial
from pedsnetdcc_spark.sources.io import (
    TableStore,
    delete_rows,
    prep_namespace,
    read_table,
    read_tables,
)
from pedsnetdcc_spark.sources.views import register_views


def test_run_parallel_captures_results_and_errors():
    def boom():
        raise FileExistsError("exists")

    jobs = [Job("a", lambda: 1), Job("b", boom), Job("c", lambda: 3)]
    done = run_parallel(jobs, pool_size=3)
    assert [j.result for j in done] == [1, None, 3]
    assert isinstance(done[1].error, FileExistsError)
    check_jobs(done, force=True)  # benign under force
    with pytest.raises(FileExistsError):
        check_jobs(done, force=False)


def test_run_serial_stops_on_error():
    calls = []
    jobs = [
        Job("a", lambda: calls.append("a")),
        Job("b", lambda: (_ for _ in ()).throw(ValueError("x"))),
        Job("c", lambda: calls.append("c")),
    ]
    done = run_serial(jobs)
    assert calls == ["a"]
    assert len(done) == 2
    with pytest.raises(ValueError):
        check_jobs(done, force=True)  # ValueError is not benign


def test_package_runner_hook(spark, sf_dir):
    def derive(spark, sf_dir, limit):
        return read_table(spark, sf_dir, "nation").limit(limit)

    register_package("nation_slice", dataframe_package(derive))
    out = run_package(spark, "nation_slice", {"sf_dir": sf_dir, "limit": 3})
    assert out.count() == 3
    with pytest.raises(KeyError):
        run_package(spark, "nope", {})


def test_package_config_front_end(spark, sf_dir, tmp_path):
    """run_package_from_config: reference-shaped JSON config in
    (r_query.py:62-128 — package name, site, src namespace, Argos-style
    templating, copy-to-output), derived table dispatched and published
    out."""
    import json

    from pedsnetdcc_spark.plans.packages import (
        load_package_config,
        run_package_from_config,
    )

    def derive(spark, namespace, site, n, **_):
        return (
            read_table(spark, namespace, "nation")
            .limit(n)
            .withColumn("site", F.lit(site))
        )

    register_package("nation_cfg", dataframe_package(derive))
    out_ns = str(tmp_path / "derived")
    cfg_path = str(tmp_path / "pkg.json")
    with open(cfg_path, "w") as f:
        json.dump(
            {
                "package": "nation_cfg",
                "site": "site_x",
                "src": {"namespace": sf_dir},
                "output": out_ns,
                "copy": True,
                "options": {"n": 4, "tag": "run for <SITE> on <SCHEMA>"},
            },
            f,
        )
    cfg = load_package_config(cfg_path)
    # <SITE>/<SCHEMA> templating — the reference's site_info.R rewrite
    assert cfg["options"]["tag"] == f"run for site_x on {sf_dir}"

    result = run_package_from_config(spark, cfg_path)
    assert result.count() == 4
    assert result.select("site").distinct().collect()[0][0] == "site_x"
    # copy=true published the result table to the output namespace
    published = spark.read.parquet(os.path.join(out_ns, "current", "nation_cfg"))
    assert published.count() == 4

    with open(str(tmp_path / "bad.json"), "w") as f:
        json.dump({"site": "s"}, f)
    with pytest.raises(ValueError):
        load_package_config(str(tmp_path / "bad.json"))


def test_read_tables_matches_serial_reads(spark, sf_dir):
    """Concurrent resolution returns the tables in the order asked,
    each with the schema a serial read_table gives (events carries the
    nanosecond timestamps read_table converts)."""
    names = ["events", "customer", "nation", "documents", "orders"]
    got = read_tables(spark, sf_dir, names)
    assert list(got) == names
    for n in names:
        assert got[n].schema == read_table(spark, sf_dir, n).schema
    assert read_tables(spark, sf_dir, []) == {}


def test_prep_namespace_and_views(spark, sf_dir):
    prep_namespace(spark, ["site_a_pedsnet", "dcc_pedsnet"])
    dbs = {r.namespace for r in spark.sql("SHOW DATABASES").collect()}
    assert {"site_a_pedsnet", "dcc_pedsnet"} <= dbs
    prep_namespace(spark, ["site_a_pedsnet"])  # idempotent

    nation = read_table(spark, sf_dir, "nation")
    register_views({"nation": nation})
    assert spark.sql("SELECT count(*) c FROM v_nation").collect()[0]["c"] == 25


def test_copy_table_and_analyze(spark, sf_dir, tmp_path):
    from pedsnetdcc_spark.sources.io import analyze_table, copy_table

    dst = str(tmp_path / "dst")
    copy_table(spark, sf_dir, dst, "nation")
    assert read_table(spark, dst, "nation").count() == 25

    read_table(spark, sf_dir, "nation").write.mode("overwrite").saveAsTable("t_nation")
    analyze_table(spark, "t_nation", ["n_nationkey"])
    stats = spark.sql("DESCRIBE EXTENDED t_nation").collect()
    assert any("Statistics" in r.col_name for r in stats)
    spark.sql("DROP TABLE t_nation")


def test_json_dict_logging(caplog):
    import logging

    from pedsnetdcc_spark.logging_util import JsonDictFormatter, timed

    logger = logging.getLogger("t_json")
    import io as _io

    buf = _io.StringIO()
    h = logging.StreamHandler(buf)
    h.setFormatter(JsonDictFormatter())
    logger.addHandler(h)
    logger.setLevel(logging.INFO)
    with timed(logger, "building table", table="nation"):
        pass
    import json as _json

    lines = [_json.loads(x) for x in buf.getvalue().strip().splitlines()]
    assert lines[0]["msg"] == "building table" and lines[0]["table"] == "nation"
    assert lines[1]["msg"] == "building table done" and "elapsed" in lines[1]
    logger.removeHandler(h)


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    from pedsnetdcc_spark.sources.bucketed import bucketed_join, write_bucketed

    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )
    write_bucketed(orders, "b_orders", "o_custkey", num_buckets=8)
    write_bucketed(cust, "b_cust", "o_custkey", num_buckets=8)
    joined = bucketed_join(spark, "b_orders", "b_cust", "o_custkey")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan
    assert joined.count() == orders.join(cust, "o_custkey").count()
    spark.sql("DROP TABLE b_orders")
    spark.sql("DROP TABLE b_cust")


def test_delete_rows_and_truncate(spark, sf_dir, tmp_path):
    nation = read_table(spark, sf_dir, "nation")
    kept = delete_rows(nation, F.col("n_regionkey") == 0)
    assert kept.count() == nation.filter(F.col("n_regionkey") != 0).count()

    st = TableStore(str(tmp_path / "store"))
    st.stage(nation, "nation")
    st.publish()
    st.drop("nation")
    import os

    assert not os.path.exists(os.path.join(st.current_dir, "nation"))


def test_compact_reduces_file_count_preserves_rows(spark, sf_dir, tmp_path):
    from pedsnetdcc_spark.sources.io import TableStore

    store = TableStore(str(tmp_path / "store"))
    nation = read_table(spark, sf_dir, "nation")
    # fragment: 16 tiny files, plus an untouched sibling table
    store.stage(nation.repartition(16), "nation")
    store.stage(nation, "sibling")
    store.publish()

    before = sum(
        1 for f in (tmp_path / "store" / "current" / "nation").rglob("*.parquet")
    )
    assert before == 16
    n_out = store.compact(spark, "nation", target_file_bytes=1 << 30)
    assert n_out == 1
    got = store.read(spark, "nation")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, nation.collect()))
    # sibling table untouched by the single-table swap
    assert store.read(spark, "sibling").count() == nation.count()


def test_replace_crash_recovery_and_table_exists(spark, sf_dir, tmp_path):
    """An interrupted replace() (crash between its two renames) leaves the
    data at <table>.prereplace; read()/table_exists() must self-heal."""
    import os
    import shutil

    store = TableStore(str(tmp_path / "store"))
    nation = read_table(spark, sf_dir, "nation")
    store.stage(nation, "nation")
    store.publish()
    assert store.table_exists("nation")
    assert not store.table_exists("missing")

    # simulate the crash window: table renamed aside, tmp never landed
    path = os.path.join(store.current_dir, "nation")
    os.rename(path, path + ".prereplace")
    assert not os.path.exists(path)
    assert store.table_exists("nation")  # recovery ran
    assert store.read(spark, "nation").count() == nation.count()
    assert not os.path.exists(path + ".prereplace")


def test_clustered_write_yields_prunable_layout(spark, sf_dir, tmp_path):
    """clustered_write must produce files whose row-group min/max
    statistics on the leading cluster column are tight and
    near-disjoint — the precondition for parquet row-group pruning (the
    lake analog of the reference's per-column indexes).  Ranges come
    from a range partitioner, so files may touch at boundaries but must
    not nest: sorted by min, each file's max may not exceed the next
    file's max, and total overlap must be boundary-only."""
    from pedsnetdcc_spark.sources.clustering import (
        clustered_write,
        leading_column_file_ranges,
    )

    events = read_table(spark, sf_dir, "events")
    out = str(tmp_path / "events_clustered")
    clustered_write(events, out, ["user_id", "event_type"], num_files=8)

    back = spark.read.parquet(out)
    assert back.count() == events.count()

    ranges = sorted(leading_column_file_ranges(out, "user_id"))
    assert len(ranges) > 1
    for (lo_a, hi_a), (lo_b, hi_b) in zip(ranges, ranges[1:]):
        assert lo_a <= hi_a and lo_b <= hi_b
        # next file starts at or after this file's end (same key may
        # straddle the boundary, but ranges never nest)
        assert lo_b >= hi_a


def test_export_import_roundtrip_all_formats(spark, sf_dir, tmp_path):
    """documents roundtrips bit-exact through every interchange format
    (parquet/ORC self-describing; csv/json under the explicit schema)."""
    from pedsnetdcc_spark.sources.formats import export_table, import_table

    docs = read_table(spark, sf_dir, "documents").limit(100)
    want = sorted(map(tuple, docs.collect()))
    for fmt in ("parquet", "orc", "csv", "json"):
        path = str(tmp_path / f"docs_{fmt}")
        export_table(docs, path, fmt=fmt)
        back = import_table(
            spark, path, fmt=fmt,
            schema=docs.schema if fmt in ("csv", "json") else None,
        )
        assert back.schema == docs.schema, fmt
        assert sorted(map(tuple, back.collect())) == want, fmt


def test_export_import_rejects_unknown_and_schemaless(spark, sf_dir, tmp_path):
    import pytest as _pytest

    from pedsnetdcc_spark.sources.formats import export_table, import_table

    docs = read_table(spark, sf_dir, "documents").limit(5)
    with _pytest.raises(ValueError):
        export_table(docs, str(tmp_path / "x"), fmt="avro")
    with _pytest.raises(ValueError):
        import_table(spark, str(tmp_path / "x"), fmt="csv")


def test_bucketed_join_is_shuffle_free(spark, sf_dir, tmp_path):
    """Co-bucketed tables join with NO Exchange on either side — the
    bucketing lever for recurring big-big joins (fact x id-map) where
    one avoided shuffle is the dominant cost at scale."""
    from pedsnetdcc_spark.sources.bucketed import bucketed_join, write_bucketed

    orders = read_table(spark, sf_dir, "orders")
    lineitem = read_table(spark, sf_dir, "lineitem")
    write_bucketed(
        orders, "b_orders", "o_orderkey", num_buckets=4,
        path=str(tmp_path / "b_orders"),
    )
    write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem", "o_orderkey", num_buckets=4,
        path=str(tmp_path / "b_lineitem"),
    )
    # disable broadcast to surface the big-big join shape the layout is
    # FOR (at sf0.001 the planner would broadcast instead — broadcasting
    # 50 TB is not an option at the target scale)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_aqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, "b_orders", "b_lineitem", "o_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        assert "Bucketed: true" in plan
        # (a per-bucket Sort remains: a bucket written by several tasks
        # spans several files, so Spark re-sorts within the bucket —
        # cheap at the ~128MB-1GB bucket sizing; the ELIMINATED shuffle
        # is the lever that matters)
        # correctness: same rows as the plain shuffled join
        expect = lineitem.join(
            orders, lineitem["l_orderkey"] == orders["o_orderkey"]
        ).count()
        assert joined.count() == expect
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        if prev_aqe is not None:
            spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", prev_aqe)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_zorder_write_tightens_both_columns(spark, sf_dir, tmp_path):
    """Z-order on (l_orderkey, l_partkey) must give BOTH columns
    prunable per-file ranges; linear clustering on l_orderkey alone
    leaves l_partkey files at ~full width. Compare average file-range
    width per column across the two layouts."""
    from pedsnetdcc_spark.sources.clustering import (
        clustered_write,
        leading_column_file_ranges,
        zorder_write,
    )

    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    lin = str(tmp_path / "linear")
    zo = str(tmp_path / "zorder")
    clustered_write(li, lin, ["l_orderkey"], num_files=16)
    zorder_write(li, zo, ["l_orderkey", "l_partkey"], num_files=16)

    def avg_width(path, col):
        rs = leading_column_file_ranges(path, col)
        assert rs
        return sum(hi - lo for lo, hi in rs) / len(rs)

    def global_width(col):
        row = li.agg(F.min(col), F.max(col)).first()
        return row[1] - row[0]

    # same row count both layouts
    assert spark.read.parquet(zo).count() == li.count()
    # z-order: both dimensions materially tighter than global width
    assert avg_width(zo, "l_orderkey") < 0.5 * global_width("l_orderkey")
    assert avg_width(zo, "l_partkey") < 0.5 * global_width("l_partkey")
    # and on the NON-leading column, z-order beats the linear layout
    assert avg_width(zo, "l_partkey") < 0.75 * avg_width(lin, "l_partkey")


def test_zorder_write_four_columns_stays_in_sign_bit(spark, sf_dir, tmp_path):
    """bits=16 with 4 columns used to place the 4th column's top
    quantization bit at position 63 — the long's sign bit — so rows in
    the upper half of that column's range got NEGATIVE Morton keys and
    range-partitioned before everything else, scrambling the layout
    (and 5+ columns wrapped shifts mod 64 into silent collisions).
    bits must auto-reduce so the key stays in [0, 2^62); verify the
    4-column layout still tightens EVERY listed column's file ranges."""
    from pedsnetdcc_spark.sources.clustering import (
        leading_column_file_ranges,
        zorder_write,
    )

    cols = ["l_orderkey", "l_partkey", "l_suppkey", "l_quantity"]
    li = read_table(spark, sf_dir, "lineitem").select(*cols)
    zo = str(tmp_path / "zorder4")
    zorder_write(li, zo, cols, num_files=16, bits=16)

    assert spark.read.parquet(zo).count() == li.count()
    for c in cols:
        ranges = leading_column_file_ranges(zo, c)
        assert ranges
        row = li.agg(F.min(c), F.max(c)).first()
        avg = sum(hi - lo for lo, hi in ranges) / len(ranges)
        # every dimension tighter than the global width — 16 files over
        # 4 interleaved columns give each column ~1 effective bit
        # (ideal avg ≈ 0.5×global, boundary-sampling noise pushes it to
        # ~0.75-0.9×), so assert only that no column is left UNclustered
        # (≈1.0×global), which is what a scrambled key produces
        assert avg < 0.95 * (row[1] - row[0]), c

    with pytest.raises(ValueError):
        zorder_write(li, str(tmp_path / "zbad"), ["l_orderkey"] * 63, bits=16)
