"""CLI surface: each verb drives the corresponding operator over a
parquet namespace and publishes through the TableStore swap."""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest

from pedsnetdcc_spark.cli import main


@pytest.fixture()
def namespace(spark, tmp_path):
    ns = str(tmp_path / "site_a")
    person = spark.createDataFrame(
        [(1, dt.datetime(2010, 1, 1)), (2, dt.datetime(2011, 2, 3))],
        "person_id long, birth_datetime timestamp",
    )
    concept = spark.createDataFrame(
        [(10, "flu"), (11, "cold")], "concept_id long, concept_name string"
    )
    cond = spark.createDataFrame(
        [
            (1, 10, dt.datetime(2020, 1, 1), dt.date(2020, 1, 1), dt.date(2020, 1, 5)),
            (1, 10, dt.datetime(2020, 1, 20), dt.date(2020, 1, 20), dt.date(2020, 1, 21)),
            (2, 11, dt.datetime(2020, 3, 1), dt.date(2020, 3, 1), None),
        ],
        "person_id long, condition_concept_id long, condition_start_datetime timestamp,"
        " condition_start_date date, condition_end_date date",
    )
    for name, df in [
        ("person", person), ("concept", concept), ("condition_occurrence", cond)
    ]:
        df.write.parquet(os.path.join(ns, name))
    return ns


def test_cli_transform_and_undo(spark, namespace, tmp_path, capsys):
    out = str(tmp_path / "transformed")
    assert main(["transform", "-i", namespace, "-o", out, "--site", "site_a"]) == 0
    published = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "condition_occurrence" in published["published"]
    got = spark.read.parquet(os.path.join(out, "current", "condition_occurrence"))
    assert "condition_concept_name" in got.columns
    assert "condition_start_datetime_age_in_months" in got.columns
    assert got.filter(got.site == "site_a").count() == got.count()

    # a second publish creates a backup generation; undo restores it
    assert main(["transform", "-i", namespace, "-o", out, "--site", "site_b"]) == 0
    assert main(["undo", "-o", out]) == 0
    got = spark.read.parquet(os.path.join(out, "current", "condition_occurrence"))
    assert got.filter(got.site == "site_a").count() == got.count()


def test_cli_merge_and_condition_era(spark, namespace, tmp_path, capsys):
    merged = str(tmp_path / "merged")
    rc = main(
        ["merge", "--site", f"a={namespace}", "--site", f"b={namespace}", "-o", merged]
    )
    assert rc == 0
    got = spark.read.parquet(os.path.join(merged, "current", "condition_occurrence"))
    assert got.count() == 6
    assert set(r["site"] for r in got.select("site").distinct().collect()) == {"a", "b"}

    eras = str(tmp_path / "eras")
    assert main(["condition-era", "-i", namespace, "-o", eras]) == 0
    got = spark.read.parquet(os.path.join(eras, "current", "condition_era"))
    rows = {
        (r["person_id"], r["condition_concept_id"]): r["condition_occurrence_count"]
        for r in got.collect()
    }
    # person 1's two occurrences merge across the 15-day gap (< 30)
    assert rows[(1, 10)] == 2 and rows[(2, 11)] == 1


def test_cli_sync_observation_period_releases_cache(spark, namespace, tmp_path):
    """The verb publishes one period per person and leaves none of the
    id assigner's cached relations persisted."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    out = str(tmp_path / "obs")
    assert main(["sync-observation-period", "-i", namespace, "-o", out]) == 0
    assert set(jsc.getPersistentRDDs().keySet()) == before
    got = spark.read.parquet(os.path.join(out, "current", "observation_period"))
    rows = sorted(
        (r["person_id"], r["observation_period_id"], str(r["observation_period_end_date"]))
        for r in got.collect()
    )
    assert rows == [(1, 1, "2020-01-21 00:00:00"), (2, 2, "2020-03-01 00:00:00")]


def test_cli_subset_and_integrity(spark, namespace, tmp_path, capsys):
    cdir = str(tmp_path / "cohorts")
    spark.createDataFrame([(1,)], "person_id long").write.parquet(
        os.path.join(cdir, "cohort")
    )
    out = str(tmp_path / "subset")
    rc = main([
        "subset-by-cohort", "-i", namespace, "-o", out, "--cohort-dir", cdir
    ])
    assert rc == 0
    got = spark.read.parquet(os.path.join(out, "current", "condition_occurrence"))
    assert got.select("person_id").distinct().collect()[0][0] == 1
    # concept has no person_id: copied whole
    assert spark.read.parquet(os.path.join(out, "current", "concept")).count() == 2

    rc = main([
        "check-fact-relationship", "-i", namespace,
        "--fact-table", "condition_occurrence",
        "--probe", "concept:condition_concept_id:concept:concept_id",
        "--probe", "person:person_id:person:person_id",
    ])
    assert rc == 0
    lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    counts = {d["probe"]: d for d in lines if "total" in d}
    assert counts["concept"]["bad"] == 0 and counts["person"]["bad"] == 0


def test_cli_corpus_split_and_dedup_cluster(spark, sf_dir, tmp_path):
    import json
    import shutil

    from pedsnetdcc_spark.cli import main
    from pedsnetdcc_spark.sources.io import read_table

    ns = tmp_path / "ns"
    ns.mkdir()
    docs = read_table(spark, sf_dir, "documents")
    docs.write.parquet(str(ns / "documents"))

    out1 = tmp_path / "split_out"
    assert main([
        "corpus-split", "-i", str(ns), "-o", str(out1),
        "--val-pct", "10", "--test-pct", "10",
    ]) == 0
    total = sum(
        read_table(spark, str(out1 / "current"), t).count()
        for t in ("train", "val", "test")
    )
    assert total == docs.count()

    out2 = tmp_path / "cluster_out"
    assert main([
        "dedup-cluster", "-i", str(ns), "-o", str(out2),
        "--threshold", "0.2", "--max-df", "100", "--keep-canonical",
    ]) == 0
    kept = read_table(spark, str(out2 / "current"), "documents")
    assert 0 < kept.count() <= docs.count()
    assert "cluster_id" in kept.columns

    out3 = tmp_path / "decon_out"
    assert main([
        "decontaminate", "-i", str(ns), "-o", str(out3),
        "--eval-dir", str(ns), "--threshold", "0.2", "--max-df", "100",
    ]) == 0
    shutil.rmtree(ns, ignore_errors=True)


def test_cli_profile_pack_shuffle(spark, sf_dir, tmp_path, capsys):
    import json

    from pedsnetdcc_spark.cli import main
    from pedsnetdcc_spark.sources.io import read_table

    ns = tmp_path / "ns"
    ns.mkdir()
    docs = read_table(spark, sf_dir, "documents")
    docs.write.parquet(str(ns / "documents"))
    n = docs.count()

    assert main(["profile", "-i", str(ns), "--table", "documents"]) == 0
    lines = [json.loads(line) for line in capsys.readouterr().out.strip().splitlines()]
    by_col = {r["column"]: r for r in lines}
    assert set(by_col) == set(docs.columns)
    assert all(r["n_rows"] == n for r in lines)
    assert by_col["doc_id"]["n_distinct"] == n

    assert main([
        "profile", "-i", str(ns), "--table", "documents", "--numeric",
    ]) == 0
    lines = [json.loads(line) for line in capsys.readouterr().out.strip().splitlines()]
    num = {r["column"]: r for r in lines if "p0_5" in r}
    assert set(num) == {"doc_id", "n_chars"}  # the numeric columns
    assert num["n_chars"]["min"] <= num["n_chars"]["p0_5"] <= num["n_chars"]["max"]

    out1 = tmp_path / "packed"
    assert main([
        "corpus-pack", "-i", str(ns), "-o", str(out1),
        "--budget", "256", "--shards", "4",
    ]) == 0
    packed = read_table(spark, str(out1 / "current"), "documents")
    assert packed.count() == n
    assert {"n_tokens", "shard", "bin", "bin_offset"} <= set(packed.columns)
    assert packed.filter(packed.bin_offset >= 256).count() == 0

    out2 = tmp_path / "shuffled"
    assert main(["corpus-shuffle", "-i", str(ns), "-o", str(out2)]) == 0
    shuffled = read_table(spark, str(out2 / "current"), "documents")
    ranks = sorted(r["shuffle_pos"] for r in shuffled.select("shuffle_pos").collect())
    assert ranks == list(range(1, n + 1))


def test_cli_quality_passage_semantic(spark, sf_dir, tmp_path, capsys):
    import json
    import shutil

    from pedsnetdcc_spark.cli import main
    from pedsnetdcc_spark.sources.io import read_table

    ns = tmp_path / "ns"
    ns.mkdir()
    docs = read_table(spark, sf_dir, "documents")
    docs.write.parquet(str(ns / "documents"))
    emb = read_table(spark, sf_dir, "embeddings")
    emb.write.parquet(str(ns / "embeddings"))
    n_docs, n_vecs = docs.count(), emb.count()

    out1 = tmp_path / "qf_out"
    assert main(["quality-filter", "-i", str(ns), "-o", str(out1)]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    kept = read_table(spark, str(out1 / "current"), "documents")
    assert rep["total"] == n_docs and rep["kept"] == kept.count()
    assert set(kept.columns) == set(docs.columns)  # signals stripped

    out2 = tmp_path / "pd_out"
    assert main([
        "passage-dedup", "-i", str(ns), "-o", str(out2),
        "--chunk-tokens", "16", "--keep", "first",
    ]) == 0
    deduped = read_table(spark, str(out2 / "current"), "documents")
    assert deduped.count() == n_docs            # one row per input doc
    assert "text_deduped" in deduped.columns

    out3 = tmp_path / "sd_out"
    assert main([
        "semantic-dedup", "-i", str(ns), "-o", str(out3),
        "--cells", "8", "--keep-canonical",
    ]) == 0
    canon = read_table(spark, str(out3 / "current"), "embeddings")
    assert 0 < canon.count() <= n_vecs
    assert {"vec_id", "cell", "dup_group", "keep"} <= set(canon.columns)

    # default --cells auto: data-sized hierarchical grid
    out4 = tmp_path / "sd_auto"
    assert main(["semantic-dedup", "-i", str(ns), "-o", str(out4)]) == 0
    auto = read_table(spark, str(out4 / "current"), "embeddings")
    assert auto.count() == n_vecs
    shutil.rmtree(ns, ignore_errors=True)


def test_cli_corpus_export_import(spark, sf_dir, tmp_path, capsys):
    import json
    import shutil

    from pedsnetdcc_spark.cli import main
    from pedsnetdcc_spark.sources.io import read_table

    ns = tmp_path / "ns"
    ns.mkdir()
    docs = read_table(spark, sf_dir, "documents")
    docs.write.parquet(str(ns / "documents"))

    jl = tmp_path / "jl"
    assert main([
        "corpus-export", "-i", str(ns), "-o", str(jl), "--shards", "2",
    ]) == 0
    out = tmp_path / "imported"
    assert main([
        "corpus-import", "-i", str(jl), "-o", str(out), "--like-ns", str(ns),
    ]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["quarantined"] == 0
    back = read_table(spark, str(out / "current"), "documents")
    assert back.count() == docs.count()
    assert back.join(docs, ["doc_id"], "left_anti").count() == 0
    shutil.rmtree(ns, ignore_errors=True)


def test_cli_dataset_card(spark, sf_dir, tmp_path, capsys):
    import json

    from pedsnetdcc_spark.cli import main
    from pedsnetdcc_spark.sources.io import read_table

    ns = tmp_path / "ns"
    ns.mkdir()
    docs = read_table(spark, sf_dir, "documents")
    docs.write.parquet(str(ns / "documents"))
    card = tmp_path / "card.md"
    assert main(["dataset-card", "-i", str(ns), "--out", str(card)]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["n_docs"] == docs.count()
    text = card.read_text()
    assert text.startswith("# Dataset card: documents")
    for section in ("## Per-source", "## Language distribution",
                    "## Document length"):
        assert section in text
    assert f"documents: **{docs.count():,}**" in text
    # every source appears as a table row
    for s in [r["source"] for r in docs.select("source").distinct().collect()]:
        assert f"| {s} |" in text


def test_cli_dataset_card_empty_corpus(spark, sf_dir, tmp_path, capsys):
    """Zero documents must produce a minimal card, not a TypeError from
    formatting numeric_profile's null min/mean/max."""
    import json

    from pedsnetdcc_spark.cli import main
    from pedsnetdcc_spark.sources.io import read_table

    ns = tmp_path / "ns"
    ns.mkdir()
    docs = read_table(spark, sf_dir, "documents").where("1 = 0")
    docs.write.parquet(str(ns / "documents"))
    card = tmp_path / "card.md"
    assert main(["dataset-card", "-i", str(ns), "--out", str(card)]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["n_docs"] == 0
    text = card.read_text()
    assert text.startswith("# Dataset card: documents")
    assert "empty corpus" in text


def test_cli_wds_export_import(spark, sf_dir, tmp_path, capsys):
    import json
    import shutil

    from pedsnetdcc_spark.cli import main
    from pedsnetdcc_spark.sources.io import read_table

    ns = tmp_path / "ns"
    ns.mkdir()
    docs = read_table(spark, sf_dir, "documents")
    docs.write.parquet(str(ns / "documents"))

    wds = tmp_path / "wds"
    assert main([
        "wds-export", "-i", str(ns), "-o", str(wds), "--shards", "3",
        "--member", "txt=text", "--meta-col", "source",
    ]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["shards"] == 3 and rep["samples"] == docs.count()

    # re-export refuses by default (stale shards are undetectable on
    # read); --overwrite replaces the prior export
    with pytest.raises(IOError, match="already holds"):
        main([
            "wds-export", "-i", str(ns), "-o", str(wds), "--shards", "2",
            "--member", "txt=text",
        ])
    assert main([
        "wds-export", "-i", str(ns), "-o", str(wds), "--shards", "3",
        "--member", "txt=text", "--meta-col", "source", "--overwrite",
    ]) == 0
    capsys.readouterr()

    out = tmp_path / "imported"
    assert main([
        "wds-import", "-i", str(wds), "-o", str(out),
        "--member", "txt=text", "--text", "txt",
    ]) == 0
    back = read_table(spark, str(out / "current"), "documents")
    assert back.count() == docs.count()
    joined = back.withColumnRenamed("sample_key", "k").join(
        docs.selectExpr("cast(doc_id as string) k", "text t0"), "k"
    )
    assert joined.filter("text <> t0").count() == 0
    shutil.rmtree(ns, ignore_errors=True)


def test_cli_corpus_pipeline(spark, sf_dir, tmp_path, capsys):
    import json
    import shutil

    from pedsnetdcc_spark.cli import main
    from pedsnetdcc_spark.sources.io import read_table

    ns = tmp_path / "ns"
    ns.mkdir()
    docs = read_table(spark, sf_dir, "documents")
    docs.write.parquet(str(ns / "documents"))

    out = tmp_path / "pipe_out"
    assert main(["corpus-pipeline", "-i", str(ns), "-o", str(out)]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["input"] == docs.count()
    assert 0 < rep["published"] <= rep["filtered"] <= rep["input"]
    published = read_table(spark, str(out / "current"), "documents")
    assert published.count() == rep["published"]
    assert {"doc_id", "source", "text_deduped", "n_chunks"} <= set(published.columns)
    shutil.rmtree(ns, ignore_errors=True)


def test_cli_lm_contamination_skew_bpe(spark, sf_dir, tmp_path, capsys):
    import json
    import shutil

    from pedsnetdcc_spark.cli import main
    from pedsnetdcc_spark.sources.io import read_table

    ns = tmp_path / "ns"
    ns.mkdir()
    docs = read_table(spark, sf_dir, "documents")
    docs.write.parquet(str(ns / "documents"))
    read_table(spark, sf_dir, "lineitem").write.parquet(str(ns / "lineitem"))

    out = tmp_path / "lm_out"
    assert main(["lm-score", "-i", str(ns), "-o", str(out)]) == 0
    scored = read_table(spark, str(out / "current"), "documents_lm_scores")
    assert scored.count() == docs.count()
    assert {"doc_id", "n_tokens", "sum_logp", "avg_logp"} <= set(scored.columns)
    capsys.readouterr()

    out2 = tmp_path / "contam_out"
    assert (
        main(
            [
                "contamination-report", "-i", str(ns), "-o", str(out2),
                "--eval-ns", str(ns), "--threshold", "0.99",
            ]
        )
        == 0
    )
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # eval corpus == train corpus: every doc fully overlaps itself
    assert rep["flagged"] == docs.count()

    assert (
        main(["skew-profile", "-i", str(ns), "--table", "lineitem",
              "--key-col", "l_suppkey", "--top", "5"])
        == 0
    )
    lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert len(lines) == 5 and lines[0]["rank"] == 1

    # the bounded-state sketch path returns the same top-5
    assert (
        main(["skew-profile", "-i", str(ns), "--table", "lineitem",
              "--key-col", "l_suppkey", "--top", "5", "--sketch"])
        == 0
    )
    sk = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert sk == lines

    merges_path = tmp_path / "merges.json"
    out3 = tmp_path / "bpe_out"
    assert (
        main(["bpe-train", "-i", str(ns), "-o", str(out3),
              "--merges-out", str(merges_path), "--merges", "4"])
        == 0
    )
    merges = json.load(open(merges_path))
    assert len(merges) == 4 and all(len(m) == 2 for m in merges)
    counts = read_table(spark, str(out3 / "current"), "documents_bpe_counts")
    assert counts.count() == docs.count()
    shutil.rmtree(ns, ignore_errors=True)


def test_cli_corpus_pack_with_bpe_merges(spark, sf_dir, tmp_path, capsys):
    import json
    import shutil

    from pedsnetdcc_spark.cli import main
    from pedsnetdcc_spark.sources.io import read_table

    ns = tmp_path / "ns"
    ns.mkdir()
    docs = read_table(spark, sf_dir, "documents")
    docs.write.parquet(str(ns / "documents"))

    merges_path = tmp_path / "merges.json"
    assert main(["bpe-train", "-i", str(ns), "--merges-out", str(merges_path),
                 "--merges", "4"]) == 0
    capsys.readouterr()
    out = tmp_path / "pack_out"
    assert main(["corpus-pack", "-i", str(ns), "-o", str(out),
                 "--bpe-merges", str(merges_path), "--budget", "256"]) == 0
    packed = read_table(spark, str(out / "current"), "documents")
    assert packed.count() == docs.count()
    assert {"n_tokens", "shard", "bin", "bin_offset"} <= set(packed.columns)
    # BPE merging can only reduce the whitespace-char token count
    from pyspark.sql import functions as F

    over = packed.where(
        F.col("n_tokens") > F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    )
    assert over.count() == 0
    shutil.rmtree(ns, ignore_errors=True)


def test_cli_explain(spark, sf_dir, capsys):
    from pedsnetdcc_spark.cli import main

    assert main(["explain", "-i", sf_dir, "-q", "pricing_summary"]) == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out and "HashAggregate" in out
    assert main(["explain", "-i", sf_dir, "-q", "nope"]) == 2


def test_cli_run_package(spark, sf_dir, tmp_path, capsys):
    """run-package: the run_r_query CLI path — registered package +
    reference-shaped config file in, derived table published out."""
    from pedsnetdcc_spark.plans.packages import dataframe_package, register_package
    from pedsnetdcc_spark.sources.io import read_table

    def derive(spark, namespace, site, top, **_):
        return read_table(spark, namespace, "region").limit(top)

    register_package("region_slice", dataframe_package(derive))
    out_ns = str(tmp_path / "pkg_out")
    cfg = tmp_path / "cfg.json"
    cfg.write_text(json.dumps({
        "package": "region_slice",
        "site": "site_a",
        "src": {"namespace": sf_dir},
        "output": out_ns,
        "copy": True,
        "result_table": "region_top",
        "options": {"top": 2},
    }))
    assert main(["run-package", "-c", str(cfg)]) == 0
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1]) == {"rows": 2}
    published = read_table(spark, os.path.join(out_ns, "current"), "region_top")
    assert published.count() == 2

    bad = tmp_path / "bad.json"
    bad.write_text(json.dumps({"package": "not_registered"}))
    assert main(["run-package", "-c", str(bad)]) == 2


def test_cli_optimize(spark, sf_dir, tmp_path, capsys):
    """optimize: compaction shrinks the file count; --cluster-by
    rewrites the layout with prunable leading-column ranges — both
    through the single-table atomic swap."""
    from pedsnetdcc_spark.sources.clustering import leading_column_file_ranges
    from pedsnetdcc_spark.sources.io import TableStore, read_table

    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    store = TableStore(str(tmp_path / "lake"))
    store.stage(li.repartition(24), "lineitem")
    store.publish()
    n0 = li.count()

    assert main(["optimize", "-o", str(tmp_path / "lake"), "-t", "lineitem"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["compacted_files"] < 24
    assert store.read(spark, "lineitem").count() == n0

    assert main(["optimize", "-o", str(tmp_path / "lake"), "-t", "lineitem",
                 "--cluster-by", "l_orderkey", "--files", "8"]) == 0
    ranges = leading_column_file_ranges(
        str(tmp_path / "lake" / "current" / "lineitem"), "l_orderkey"
    )
    assert len(ranges) > 1
    ordered = sorted(ranges)
    assert all(ordered[i][1] <= ordered[i + 1][0] for i in range(len(ordered) - 1))
    assert store.read(spark, "lineitem").count() == n0

    # z-order branch: both columns get sub-global file ranges
    capsys.readouterr()
    assert main(["optimize", "-o", str(tmp_path / "lake"), "-t", "lineitem",
                 "--zorder-by", "l_orderkey", "l_partkey", "--files", "8"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["zorder"] == ["l_orderkey", "l_partkey"]
    from pyspark.sql import functions as F

    widths = li.agg(
        *(
            (F.max(c) - F.min(c)).alias(c)
            for c in ("l_orderkey", "l_partkey")
        )
    ).collect()[0]
    for col in ("l_orderkey", "l_partkey"):
        rs = leading_column_file_ranges(
            str(tmp_path / "lake" / "current" / "lineitem"), col
        )
        assert sum(hi - lo for lo, hi in rs) / len(rs) < 0.95 * widths[col], col
    assert store.read(spark, "lineitem").count() == n0

    # meaningless flag combinations are rejected, not silently ignored
    assert main(["optimize", "-o", str(tmp_path / "lake"), "-t", "lineitem",
                 "--cluster-by", "l_orderkey", "--target-mb", "64"]) == 2
    assert main(["optimize", "-o", str(tmp_path / "lake"), "-t", "lineitem",
                 "--files", "8"]) == 2


def test_cli_quality_classifier(spark, sf_dir, tmp_path, capsys):
    import json
    import shutil

    from pedsnetdcc_spark.cli import main
    from pedsnetdcc_spark.sources.io import read_table

    ns = tmp_path / "ns_qc"
    ns.mkdir()
    docs = read_table(spark, sf_dir, "documents")
    docs.write.parquet(str(ns / "documents"))
    n_docs = docs.count()

    out = tmp_path / "qc_out"
    assert main([
        "quality-classifier", "-i", str(ns), "-o", str(out), "--dim", "64",
    ]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    kept = read_table(spark, str(out / "current"), "documents")
    assert rep["total"] == n_docs
    assert 0 < rep["kept"] == kept.count() <= n_docs
    assert set(kept.columns) == set(docs.columns)  # original rows, filtered

    # a stricter threshold keeps fewer (or equal) documents
    out2 = tmp_path / "qc_out2"
    assert main([
        "quality-classifier", "-i", str(ns), "-o", str(out2), "--dim", "64",
        "--min-score", "5.0",
    ]) == 0
    rep2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep2["kept"] <= rep["kept"]
    shutil.rmtree(ns, ignore_errors=True)


def test_cli_ann_index_and_query(spark, sf_dir, tmp_path, capsys):
    """End-to-end: build the persistent IVF index from the embeddings
    table, query a batch against it, hits land as parquet."""
    import json

    from pedsnetdcc_spark.cli import main
    from pedsnetdcc_spark.sources.io import read_table

    ns = tmp_path / "ns"
    ns.mkdir()
    emb = read_table(spark, sf_dir, "embeddings")
    emb.write.parquet(str(ns / "embeddings"))
    # a small query batch as its own namespace table
    qns = tmp_path / "qns"
    qns.mkdir()
    emb.where("vec_id < 10").write.parquet(str(qns / "embeddings"))

    idx = tmp_path / "ivf"
    assert main([
        "ann-index", "-i", str(ns), "-o", str(idx), "--cells", "16",
        "--assign", "flat",
    ]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["n_centroids"] == 16

    # conditional compact (cron-able auto-compact policy): a freshly
    # built index has no deltas, so the threshold gate skips the fold
    assert main([
        "ann-compact", "--index", str(idx), "--if-epochs-over", "0",
    ]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["triggered"] is False and rep["epochs_folded"] == 0

    hits = tmp_path / "hits"
    assert main([
        "ann-query", "-i", str(qns), "--index", str(idx),
        "-o", str(hits), "-k", "3", "--nprobe", "4",
    ]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["hits"] > 0
    back = spark.read.parquet(str(hits))
    assert set(back.columns) == {"query_id", "rank", "neighbor_id", "cosine"}
    assert back.groupBy("query_id").count().where("count > 3").count() == 0

    # IVF-PQ flavor: codes stored at build, ADC serving via --scoring pq
    idx2 = tmp_path / "ivfpq"
    assert main([
        "ann-index", "-i", str(ns), "-o", str(idx2), "--cells", "16",
        "--assign", "flat", "--pq-m", "8",
    ]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["pq_m"] == 8
    hits2 = tmp_path / "hits_pq"
    assert main([
        "ann-query", "-i", str(qns), "--index", str(idx2),
        "-o", str(hits2), "-k", "3", "--nprobe", "4", "--scoring", "pq",
    ]) == 0
    back2 = spark.read.parquet(str(hits2))
    assert back2.count() > 0
    # the two scorings agree on most neighbors (exact re-rank on both)
    a = {(r["query_id"], r["neighbor_id"]) for r in back.collect()}
    b = {(r["query_id"], r["neighbor_id"]) for r in back2.collect()}
    assert len(a & b) >= len(a) // 2


def test_cli_wds_import_quarantine(spark, sf_dir, tmp_path, capsys):
    """--quarantine keeps the intact shards' samples when one tar is
    torn; default fails loudly."""
    import json
    import os

    from pedsnetdcc_spark.cli import main
    from pedsnetdcc_spark.sources.io import read_table

    ns = tmp_path / "ns"
    ns.mkdir()
    docs = read_table(spark, sf_dir, "documents")
    docs.write.parquet(str(ns / "documents"))
    wds = tmp_path / "wds"
    assert main([
        "wds-export", "-i", str(ns), "-o", str(wds), "--shards", "3",
        "--member", "txt=text",
    ]) == 0
    capsys.readouterr()
    victim = sorted(
        p for p in os.listdir(wds) if p.endswith(".tar")
    )[0]
    blob = open(wds / victim, "rb").read()
    open(wds / victim, "wb").write(blob[:1024])

    with pytest.raises(Exception, match="corrupt shard"):
        main([
            "wds-import", "-i", str(wds), "-o", str(tmp_path / "x"),
            "--member", "txt=text", "--text", "txt",
        ])

    out = tmp_path / "imported"
    assert main([
        "wds-import", "-i", str(wds), "-o", str(out),
        "--member", "txt=text", "--text", "txt", "--quarantine",
    ]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert 0 < rep["samples"] < docs.count()
    q = [json.loads(l) for l in open(wds / "_quarantine.jsonl")]
    assert [e["shard"] for e in q] == [victim]


def test_cli_dup_spans_report_and_clean(spark, sf_dir, tmp_path):
    import shutil

    from pedsnetdcc_spark.cli import main
    from pedsnetdcc_spark.sources.io import read_table

    ns = tmp_path / "ns"
    ns.mkdir()
    docs = read_table(spark, sf_dir, "documents")
    docs.write.parquet(str(ns / "documents"))
    n_docs = docs.count()

    out1 = tmp_path / "spans_out"
    assert main(["dup-spans", "-i", str(ns), "-o", str(out1)]) == 0
    spans = read_table(spark, str(out1 / "current"), "documents")
    assert {"doc_id", "span_start", "span_end", "n_tokens"} <= set(spans.columns)
    assert spans.count() > 0  # the corpus has planted near-dups
    assert spans.where("n_tokens < 8").count() == 0  # spans are >= k

    out2 = tmp_path / "clean_out"
    assert main([
        "dup-spans", "-i", str(ns), "-o", str(out2), "--clean",
        "--keep", "first",
    ]) == 0
    cleaned = read_table(spark, str(out2 / "current"), "documents")
    assert cleaned.count() == n_docs  # one row per doc, always
    assert {"text_deduped", "n_tokens", "n_tokens_dropped"} <= set(cleaned.columns)
    assert cleaned.where("n_tokens_dropped > 0").count() > 0

    # sep-mode passage dedup drives through the CLI too (line dedup)
    out3 = tmp_path / "line_out"
    assert main([
        "passage-dedup", "-i", str(ns), "-o", str(out3),
        "--chunking", "sep", "--sep", " ", "--min-count", "3",
    ]) == 0
    lines = read_table(spark, str(out3 / "current"), "documents")
    assert lines.count() == n_docs
    shutil.rmtree(ns, ignore_errors=True)


def test_cli_media_near_dup(spark, sf_dir, tmp_path):
    import shutil

    from pyspark.sql import functions as F

    from pedsnetdcc_spark.cli import main
    from pedsnetdcc_spark.datapipe.multimodal import with_png_payload, with_wav_payload
    from pedsnetdcc_spark.sources.io import read_table

    ns = tmp_path / "ns"
    ns.mkdir()
    docs = read_table(spark, sf_dir, "documents").limit(15)
    imgs = with_png_payload(docs, "doc_id", "text").select("doc_id", "payload")
    # plant exact copies so pairs exist at Hamming 0
    imgs.unionByName(
        imgs.select((F.col("doc_id") + 500).alias("doc_id"), "payload")
    ).write.parquet(str(ns / "images"))
    wavs = with_wav_payload(docs, "doc_id", "text").select("doc_id", "payload")
    wavs.unionByName(
        wavs.select((F.col("doc_id") + 500).alias("doc_id"), "payload")
    ).write.parquet(str(ns / "clips"))

    out1 = tmp_path / "img_pairs"
    assert main(["media-near-dup", "-i", str(ns), "-o", str(out1)]) == 0
    pairs = read_table(spark, str(out1 / "current"), "images")
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert all(got.get((i, i + 500)) == 0 for i in range(15))

    out2 = tmp_path / "wav_pairs"
    assert main([
        "media-near-dup", "-i", str(ns), "-o", str(out2),
        "--kind", "audio", "--table", "clips",
    ]) == 0
    apairs = read_table(spark, str(out2 / "current"), "clips")
    agot = {(r["id_a"], r["id_b"]): r["hamming"] for r in apairs.collect()}
    assert all(agot.get((i, i + 500)) == 0 for i in range(15))

    # --survivors: full dedup in one verb — one flagged row per cluster
    out3 = tmp_path / "img_surv"
    assert main([
        "media-near-dup", "-i", str(ns), "-o", str(out3), "--survivors",
    ]) == 0
    surv = read_table(spark, str(out3 / "current"), "images").collect()
    clusters = {}
    for r in surv:
        clusters.setdefault(r["cluster_id"], []).append(r["is_survivor"])
    assert all(sum(flags) == 1 for flags in clusters.values())
    # each planted copy pairs with its base -> shares a cluster
    cl = {r["doc_id"]: r["cluster_id"] for r in surv}
    assert all(cl[i] == cl[i + 500] for i in range(15))
    shutil.rmtree(ns, ignore_errors=True)


def test_cli_span_index_lifecycle(spark, sf_dir, tmp_path, capsys):
    """span-index build -> --append -> span-index-compact -> span-dedup
    (report + --clean): the incremental dedup CLI surface end to end."""
    import json as _json
    import shutil

    from pedsnetdcc_spark.cli import main
    from pedsnetdcc_spark.sources.io import read_table

    docs = read_table(spark, sf_dir, "documents")
    old_ns, gen_ns, new_ns = tmp_path / "old", tmp_path / "gen", tmp_path / "new"
    for d, pred in (
        (old_ns, "doc_id % 3 = 0"),
        (gen_ns, "doc_id % 3 = 1"),
        (new_ns, "doc_id % 3 = 2"),
    ):
        d.mkdir()
        docs.where(pred).write.parquet(str(d / "documents"))
    idx = str(tmp_path / "idx")

    assert main(["span-index", "-i", str(old_ns), "--index", idx]) == 0
    # append-only flags on a build fail loudly, before any Spark read
    with pytest.raises(SystemExit, match="append-only"):
        main(["span-index", "-i", str(gen_ns), "--index", idx,
              "--auto-compact-gens", "4"])
    # auto-compact below threshold: append commits, fold skipped
    assert main(["span-index", "-i", str(gen_ns), "--index", idx,
                 "--append", "--generation", "0",
                 "--auto-compact-gens", "4"]) == 0
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["generation"] == 0
    assert rep["auto_compact"]["triggered"] is False
    # retried append with the same tag replaces (still one generation),
    # and the 0-gen threshold now triggers the fold inline
    assert main(["span-index", "-i", str(gen_ns), "--index", idx,
                 "--append", "--generation", "0",
                 "--auto-compact-gens", "0"]) == 0
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["auto_compact"]["triggered"] is True
    assert rep["auto_compact"]["generations_folded"] == 1
    assert main(["span-index-compact", "--index", idx]) == 0
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["generations_folded"] == 0 and rep["keys"] is None

    out1 = tmp_path / "spans"
    assert main(["span-dedup", "-i", str(new_ns), "-o", str(out1),
                 "--index", idx]) == 0
    spans = read_table(spark, str(out1 / "current"), "documents")
    assert spans.count() > 0  # the corpus has planted near-dups
    assert {"doc_id", "span_start", "span_end", "n_tokens"} <= set(spans.columns)

    out2 = tmp_path / "clean"
    assert main(["span-dedup", "-i", str(new_ns), "-o", str(out2),
                 "--index", idx, "--clean"]) == 0
    cleaned = read_table(spark, str(out2 / "current"), "documents")
    n_new = docs.where("doc_id % 3 = 2").count()
    assert cleaned.count() == n_new
    assert cleaned.where("n_tokens_dropped > 0").count() > 0
    for d in (old_ns, gen_ns, new_ns):
        shutil.rmtree(d, ignore_errors=True)
